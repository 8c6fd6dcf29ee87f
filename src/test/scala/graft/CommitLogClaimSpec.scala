package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.CommitLog
import graft.sources.CommitLog.Commit

/** Every write verb commits through one optimistic claim loop. Verb by
  * verb: a lost claim rebuilds against the head and commits on the next
  * attempt with the rows an uncontested run commits, leaving no staged
  * dir, feed, vector or sidecar behind; and the commit a verb returns is
  * the one `latest` reads back, with every per-dir entry naming one of
  * its dirs. */
class CommitLogClaimSpec extends SparkSpec {

  /** Loses the first `_commits/` claim after [[arm]] without creating
    * the file, as if a racing writer had taken the version, then
    * delegates to the default backend. Bloom markers pass straight
    * through. */
  private object LoseFirstClaim extends CommitLog.ClaimBackend {
    private val armed = new AtomicBoolean(false)
    val claims = new AtomicInteger(0)
    def arm(): Unit = { claims.set(0); armed.set(true) }
    override def tryCreate(f: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean =
      if (p.getParent.getName != "_commits")
        CommitLog.DefaultClaimBackend.tryCreate(f, p, bytes)
      else {
        claims.incrementAndGet()
        !armed.getAndSet(false) &&
          CommitLog.DefaultClaimBackend.tryCreate(f, p, bytes)
      }
  }

  private def batch(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("k"),
      (col("id") % 7).as("v"),
      concat(lit("n-"), col("id").cast("string")).as("name")).coalesce(1)

  private def changed(from: Long, n: Long): DataFrame =
    batch(from, n).withColumn("v", lit(100L))

  /** One large dir and three small ones, stats and a bloom on `k`. */
  private lazy val base: Path = {
    val root = Files.createTempDirectory("graft-claim-base")
    val r = root.toString
    CommitLog.commitAppend(spark, r, "w", "append", statsCols = Seq("k"),
      createOnEmpty = true)(batch(0L, 1000L))
    Seq(1000L, 1100L, 1200L).foreach(from =>
      CommitLog.commitAppend(spark, r, "w", "append")(batch(from, 100L)))
    CommitLog.addBloom(spark, r, "k")
    root
  }

  private def copyOfBase(): String = {
    val to = Files.createTempDirectory("graft-claim")
    Using.resource(Files.walk(base)) { paths =>
      paths.iterator.asScala.foreach { p =>
        val t = to.resolve(base.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    to.toString
  }

  private def list(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else Using.resource(Files.list(p))(
      _.iterator.asScala.map(_.getFileName.toString).toList)

  /** Bytes of the largest data dir: the bin-pack threshold that carries
    * the large dir and packs the three small ones. */
  private def largestDirBytes(root: String): Long =
    list(Paths.get(root)).filter(_.startsWith("data-")).map { d =>
      Using.resource(Files.list(Paths.get(root, d)))(_.iterator.asScala
        .filter(_.toString.endsWith(".parquet")).map(Files.size).sum)
    }.max

  private val verbs: Seq[(String, String => Commit)] = Seq(
    "commit" -> (r => CommitLog.commit(spark, r, "w", "rewrite")(
      cur => cur.get.filter(col("k") % 2 === 0))),
    "commitAppend" -> (r => CommitLog.commitAppend(spark, r, "w", "append")(
      batch(2000L, 50L))),
    "commitAppendOnce" -> (r => CommitLog.commitAppendOnce(spark, r, "w",
      "append", "app", 1L)(batch(2000L, 50L))),
    "bin-pack compact" -> (r => CommitLog.compact(spark, r, "opt",
      packBytes = largestDirBytes(r)).get),
    "full compact" -> (r => CommitLog.compact(spark, r, "opt",
      sortCols = Seq("k")).get),
    "copy-on-write merge" -> (r => CommitLog.merge(spark, r, "w", "k",
      changed(10L, 10L), dvMaxFraction = 0.0)),
    "merge-on-read merge" -> (r => CommitLog.merge(spark, r, "w", "k",
      changed(10L, 10L))),
    "insert-only merge" -> (r => CommitLog.merge(spark, r, "w", "k",
      batch(5000L, 10L))),
    "DV delete" -> (r => CommitLog.delete(spark, r, "w",
      col("k") === 7L).get),
    "copy-on-write delete" -> (r => CommitLog.delete(spark, r, "w",
      col("k") < 50L, dvMaxFraction = 0.0).get),
    "DV update" -> (r => CommitLog.update(spark, r, "w", col("k") === 8L,
      Seq("v" -> lit(-1L))).get),
    "copy-on-write update" -> (r => CommitLog.update(spark, r, "w",
      col("k") < 50L, Seq("v" -> lit(-1L)), dvMaxFraction = 0.0).get),
    "replaceWhere" -> (r => CommitLog.replaceWhere(spark, r, "w",
      col("k") < 20L, changed(0L, 20L))),
    "purge" -> (r => CommitLog.purge(spark, r, "w")(col("k") === 9L).get),
    "addConstraint" -> (r => CommitLog.addConstraint(spark, r, "w",
      "k_nonneg", "k >= 0")))

  /** The data dirs and vector names the retained commits reference. */
  private def referenced(root: String): (Set[String], Set[String]) = {
    val head = CommitLog.latest(spark, root).get.version
    val cs = (1L to head).flatMap(v => CommitLog.commitAt(spark, root, v))
    (cs.flatMap(_.dataDirs).toSet, cs.flatMap(_.dv.values).toSet)
  }

  /** Every data dir, change feed, vector and bloom sidecar under `root`
    * that no commit in `dirs`/`dvs` references. */
  private def unreferenced(root: String, dirs: Set[String],
      dvs: Set[String]): Seq[String] = {
    val r = Paths.get(root)
    val sidecars = if (!Files.isDirectory(r.resolve("_bloom"))) Nil
      else Using.resource(Files.walk(r.resolve("_bloom")))(_.iterator.asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".bin") && !n.startsWith(".")).toList)
    list(r).filter(_.startsWith("data-")).filterNot(dirs) ++
      list(r.resolve("_changes")).filterNot(n => dirs(n) || dvs(n))
        .map("_changes/" + _) ++
      list(r.resolve("_dv")).filterNot(dvs).map("_dv/" + _) ++
      sidecars.filterNot(n => dirs(n.stripSuffix(".bin"))).map("_bloom/" + _)
  }

  /** Each per-dir map of `c` keys only dirs `c` lists. */
  private def assertKeysNameDirs(verb: String, c: Commit): Unit = {
    val dirs = c.dataDirs.toSet
    Seq("stats" -> c.stats.keySet, "rows" -> c.rows.keySet,
      "dvRows" -> c.dvRows.keySet, "partVals" -> c.partVals.keySet,
      "dv" -> c.dv.keySet,
      "fstats" -> c.fstats.keySet.map(_.takeWhile(_ != '/'))).foreach {
      case (field, keys) =>
        assert(keys.subsetOf(dirs),
          s"$verb: $field keys ${keys -- dirs} name no dir of v${c.version}")
    }
  }

  private def sortedRows(root: String): Seq[Seq[Any]] =
    rows(CommitLog.readLatest(spark, root).get.orderBy("k", "v"))

  verbs.foreach { case (verb, run) =>
    test(s"$verb: returns the commit latest reads back; a lost claim " +
        "rebuilds and leaves nothing behind") {
      val quiet = copyOfBase()
      val expected = run(quiet)
      assert(expected == CommitLog.latest(spark, quiet).get,
        s"$verb returned a commit other than the one latest reads back")
      assertKeysNameDirs(verb, expected)

      val raced = copyOfBase()
      val before = referenced(raced)
      val v0 = CommitLog.latest(spark, raced).get.version
      CommitLog.setClaimBackend(LoseFirstClaim)
      val c =
        try { LoseFirstClaim.arm(); run(raced) }
        finally CommitLog.resetClaimBackend()
      assert(LoseFirstClaim.claims.get == 2,
        s"$verb claimed ${LoseFirstClaim.claims.get} times, not lost-then-won")
      assert(c.version == v0 + 1)
      assert(c == CommitLog.latest(spark, raced).get)
      assertKeysNameDirs(verb, c)
      assert(sortedRows(raced) == sortedRows(quiet),
        s"$verb committed other rows after a lost claim")
      val after = referenced(raced)
      val orphans = unreferenced(raced, before._1 ++ after._1,
        before._2 ++ after._2)
      assert(orphans.isEmpty,
        s"$verb left staging behind after a lost claim: $orphans")
    }
  }

  test("a DV delete that drops every stats-bearing dir records no stats columns") {
    // the first dir records no stats, the second does; the delete drops
    // the second whole and vectors one row of the first
    val root = Files.createTempDirectory("graft-claim-stats").toString
    CommitLog.commitAppend(spark, root, "w", "append",
      createOnEmpty = true)(batch(0L, 1000L))
    CommitLog.commitAppend(spark, root, "w", "append",
      statsCols = Seq("k"))(batch(1000L, 100L))
    val c = CommitLog.delete(spark, root, "w",
      col("k") >= 1000L || col("k") === 5L).get
    assert(c.dv.nonEmpty && c.dataDirs.size == 1)
    assert(c.stats.isEmpty && c.statsCols.isEmpty)
    assert(c == CommitLog.latest(spark, root).get)
  }
}
