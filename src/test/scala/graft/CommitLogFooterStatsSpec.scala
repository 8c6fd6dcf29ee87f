package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.CommitLog

object CommitLogFooterStatsSpec {
  /** One generated row: each field becomes one typed column. */
  final case class Raw(b: Option[Byte], sh: Option[Short], i: Option[Int],
      l: Option[Long], day: Option[Int], ts: Option[Long], ntz: Option[Long],
      s: Option[String], dec: Option[Long], f: Option[Float],
      d: Option[Double])
}

/** Commit stats come from parquet footers. They must equal what an
  * aggregate scan of the same files computes in the stat domain, for
  * every type the domain maps; a chunk without usable min/max records
  * nothing. */
class CommitLogFooterStatsSpec extends SparkSpec {
  import CommitLogFooterStatsSpec.Raw

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(7L + i)))

  private val Cols =
    Seq("b", "sh", "i", "l", "day", "ts", "ntz", "s", "dec", "f", "d")

  private def opt[A](g: Gen[A], nullsInTen: Int): Gen[Option[A]] =
    Gen.frequency(nullsInTen -> Gen.const(None), (10 - nullsInTen) -> g.map(Some(_)))

  private val str: Gen[String] = Gen.oneOf(
    Gen.listOf(Gen.oneOf("a", "z", "0", " ", "é", "€", "𝄞"))
      .map(_.take(10).mkString),
    Gen.alphaStr.map("abcdefg" + _.take(4)), // one 7-byte prefix
    Gen.const("abcdef€")) // a 3-byte char across byte 7

  private def raw(nullsInTen: Int): Gen[Raw] = for {
    b <- opt(Gen.choose(Byte.MinValue, Byte.MaxValue), nullsInTen)
    sh <- opt(Gen.choose(Short.MinValue, Short.MaxValue), nullsInTen)
    i <- opt(Gen.choose(Int.MinValue, Int.MaxValue), nullsInTen)
    l <- opt(Gen.choose(Long.MinValue, Long.MaxValue), nullsInTen)
    day <- opt(Gen.choose(-40000, 40000), nullsInTen) // pre-1970 too
    ts <- opt(Gen.choose(-4000000000000000L, 4000000000000000L), nullsInTen)
    ntz <- opt(Gen.choose(-4000000000000000L, 4000000000000000L), nullsInTen)
    s <- opt(str, nullsInTen)
    dec <- opt(Gen.choose(-999999999999L, 999999999999L), nullsInTen)
    f <- opt(Gen.choose(-1e9f, 1e9f), nullsInTen)
    d <- opt(Gen.choose(-1e15, 1e15), nullsInTen)
  } yield Raw(b, sh, i, l, day, ts, ntz, s, dec, f, d)

  private val allNull = Raw(None, None, None, None, None, None, None, None,
    None, None, None)

  /** A dir's batches, one parquet file each: mixed-null batches, and
    * sometimes an all-NULL file, an empty one, and a file of several row
    * groups. */
  private val dirBatches: Gen[Seq[Seq[Raw]]] = for {
    n <- Gen.choose(1, 3)
    batches <- Gen.listOfN(n, Gen.choose(0, 3).flatMap(nulls =>
      Gen.choose(1, 30).flatMap(Gen.listOfN(_, raw(nulls)))))
    nullFile <- Gen.oneOf(true, false)
    emptyFile <- Gen.oneOf(true, false)
    big <- Gen.oneOf(true, false)
    bigRows <- Gen.listOfN(600, raw(1))
  } yield batches ++ (if (nullFile) Seq(Seq.fill(5)(allNull)) else Nil) ++
    (if (emptyFile) Seq(Nil) else Nil) ++ (if (big) Seq(bigRows) else Nil)

  private def typed(rows: Seq[Raw]): DataFrame = {
    import spark.implicits._
    rows.toDF().select(col("b"), col("sh"), col("i"), col("l"),
      date_from_unix_date(col("day")).as("day"),
      timestamp_micros(col("ts")).as("ts"),
      timestamp_micros(col("ntz")).cast("timestamp_ntz").as("ntz"),
      col("s"),
      (col("dec").cast("decimal(14,0)") / 100).cast("decimal(12,2)").as("dec"),
      col("f"), col("d"))
  }

  /** The reference: per-column [min, max] in the stat domain by an
    * aggregate scan of the dir (all-null columns absent). */
  private def scanStats(path: String, cols: Seq[String])
      : Map[String, (Long, Long)] = {
    val df = spark.read.parquet(path)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val aggs = cols.flatMap { c =>
      val e = CommitLog.statDomain(col(c), types.get(c))
      Seq(min(e), max(e))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.flatMap { case (c, i) =>
      if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) None
      else Some(c -> (r.getLong(2 * i), r.getLong(2 * i + 1)))
    }.toMap
  }

  /** The same aggregate grouped by file, keyed `dir/file`. */
  private def scanFileStats(path: String, dirName: String, cols: Seq[String])
      : Map[String, Map[String, (Long, Long)]] = {
    val df = spark.read.parquet(path)
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val aggs = cols.flatMap { c =>
      val e = CommitLog.statDomain(col(c), types.get(c))
      Seq(min(e), max(e))
    }
    df.groupBy(col("_metadata.file_name").as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect().iterator.map { r =>
        val byCol = cols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
          else Some(c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
        }.toMap
        s"$dirName/${r.getString(0)}" -> byCol
      }.filter(_._2.nonEmpty).toMap
  }

  test("footer stats equal the aggregate scan for every stat-domain type") {
    val dirs = Seq(Seq(Nil), Seq(Seq(allNull))) ++ samples(dirBatches, 10)
    dirs.zipWithIndex.foreach { case (batches, n) =>
      val root = Files.createTempDirectory("graft-fstats").toString
      val dir = s"data-$n"
      batches.foreach(rows => typed(rows).coalesce(1).write.mode("append")
        .option("parquet.block.size", 4096).parquet(s"$root/$dir"))
      val got = CommitLog.footers(spark, root, Seq(dir), Cols)
      val want = scanStats(s"$root/$dir", Cols)
      assert(got.stats.getOrElse(dir, Map.empty) == want, s"dir $n")
      assert(got.fstats ==
        (if (want.isEmpty) Map.empty else scanFileStats(s"$root/$dir", dir, Cols)),
        s"dir $n")
      assert(got.rows(dir) == batches.map(_.size).sum)
    }
  }

  test("a chunk without usable min/max records no stats; range reads keep every row") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fstats").toString
    val long = "x" * 5000 // past parquet's 4 KB footer stats limit
    CommitLog.commitAppend(spark, root, "w", "append",
      statsCols = Seq("id", "s", "d"), createOnEmpty = true)(
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "d"))
    val c = CommitLog.commitAppend(spark, root, "w", "append",
      statsCols = Seq("id", "s", "d"))(
      Seq((3L, long, Double.NaN), (4L, "c", 0.5)).toDF("id", "s", "d"))
    val (first, second) = (c.dataDirs.head, c.dataDirs.last)
    assert(c.stats(first).keySet == Set("id", "s", "d"))
    // one file per row: the other file's usable ranges must not stand
    // for the dir
    assert(c.stats(second) == Map("id" -> (3L, 4L)))
    assert(c.fstats.filter(_._1.startsWith(second + "/")).values
      .map(_.keySet).toSet == Set(Set("id"), Set("id", "s", "d")))
    val t = spark.read.format("graft.commitlog").load(root)
    assert(t.filter(col("s") >= "x").select("id").as[Long].collect().toSeq ==
      Seq(3L))
    assert(t.filter(col("s") === long).count() == 1L)
    assert(t.filter(col("d") > 100.0).select("id").as[Long].collect().toSeq ==
      Seq(3L)) // NaN sorts above every double
    assert(CommitLog.readLatestWhere(spark, root, "id", 3L, 4L).get.count() == 2L)
  }
}
