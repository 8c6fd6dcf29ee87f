package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import graft.sources.CommitLog

/** A commit-log table seeded from `orders` (the set-up fixture), then
  * per pass four commits: two small appends, one of a merge, a
  * deletion-vector delete or a copy-on-write delete (in turn by pass), and
  * a compaction; before the compaction every read kind once, in seeded
  * order: an aggregate of the latest snapshot, point and range reads, time
  * travel, the change feed and the history. The table lives through the run, so its log grows from pass to
  * pass and passes its first checkpoint (the tenth commit) in pass 2. */
class CommitLogRw extends Workload {
  private val Writer = "perfbench"
  def passS: Double = 5.0
  private val Heavy = Seq("merge", "delete_dv", "delete_cow")
  /** The commits of a pass. The order is fixed so that the bytes each
    * write adds, and so the write and space amplification, do not depend on
    * the seed. */
  private def writes(pass: Int) = Seq("append", Heavy(pass % Heavy.size), "append", "compact")
  private val Reads = Seq("latest", "point", "where", "version", "changes", "history")

  /** The episode of a pass, each verb tagged with its step (which selects
    * its batch or key). The reads sit at one place, on the uncompacted
    * table: what a read costs depends on the files and deletion vectors it
    * meets, so a seeded place would make the work differ from seed to
    * seed. */
  private def episode(seed: Long, pass: Int): Seq[(String, Int)] = {
    val w = writes(pass)
    val reads = new Random(seed * 31 + pass).shuffle(Reads)
    w.zipWithIndex.flatMap { case (verb, i) =>
      val step = (pass + 1) * w.size + i
      (verb -> step) +: (if (i == w.size - 2) reads.map(_ -> step) else Nil) }
  }

  /** The episodes of the passes run so far, in order. */
  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]

  private def orders(ctx: Ctx) = graft.Tables.orders(ctx.spark, ctx.dataDir)

  /** A seeded key class modulo `m`: the same share of orders for every seed. */
  private def keyClass(ctx: Ctx, step: Int, m: Long, salt: Long): Column =
    pmod(col("o_orderkey") + lit(ctx.seed * 7 + step * 13 + salt), lit(m)) === 0

  /** 1% of orders under new keys. */
  private def appendBatch(ctx: Ctx, step: Int): DataFrame =
    orders(ctx).filter(keyClass(ctx, step, 100, 0))
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L * (step + 1)))

  /** Price changes for 1% of the seed keys plus 0.5% inserts under new keys. */
  private def mergeBatch(ctx: Ctx, step: Int): DataFrame = {
    val upd = orders(ctx).filter(keyClass(ctx, step, 100, 50))
      .withColumn("o_totalprice", col("o_totalprice") + lit(step + 1.0))
    val ins = orders(ctx).filter(keyClass(ctx, step, 200, 7))
      .withColumn("o_orderkey", col("o_orderkey") + lit(500000000L + 10000000L * step))
    upd.unionByName(ins)
  }

  /** Deletes: a handful of keys (vector) or a 1% key slice (rewrite). */
  private def deleteCond(ctx: Ctx, verb: String, step: Int): Column =
    if (verb == "delete_dv") pmod(col("o_orderkey"), lit(997L)) === lit((ctx.seed + step) % 997)
    else pmod(col("o_orderkey"), lit(101L)) === lit((ctx.seed * 7 + step) % 101)

  private def create(ctx: Ctx, root: String): Unit = {
    CommitLog.init(ctx.spark, root)
    CommitLog.commitAppend(ctx.spark, root, Writer, "seed", statsCol = Some("o_orderkey"),
      createOnEmpty = true)(orders(ctx))
    CommitLog.addBloom(ctx.spark, root, "o_orderkey")
  }

  private def table(ctx: Ctx, cycle: Int) = ctx.dir("cl", "setup" + cycle)
  /** The measured table: the fixture of the last set-up cycle. */
  private def measured(ctx: Ctx) = table(ctx, Main.SetupCycles - 1)

  def setup(ctx: Ctx, cycle: Int): Unit = {
    val root = table(ctx, cycle)
    create(ctx, root)
    CommitLog.readLatest(ctx.spark, root).get.count()
  }

  /** Every verb on the two spare set-up tables, two at a time, in two
    * rounds: after one, pass 0 still ran ~20% slower than the passes after
    * it. */
  def warmup(ctx: Ctx): Unit = (1 to 2).foreach { _ =>
    Main.parallel(2, Seq(
      Seq("append", "merge", "compact", "latest", "changes", "history"),
      Seq("delete_dv", "delete_cow", "point", "where", "version")).zipWithIndex.map {
      case (verbs, i) => () => verbs.foreach(v => run(ctx, table(ctx, i), v, 0)) })
  }

  def steps(ctx: Ctx): Seq[() => Unit] = {
    val ep = episode(ctx.seed, ctx.pass)
    done ++= ep
    ep.map { case (verb, step) => () => run(ctx, measured(ctx), verb, step) }
  }

  private val scanned = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def run(ctx: Ctx, root: String, verb: String, step: Int): Unit = {
    val s = ctx.spark
    def write(name: String)(body: => Long): Unit =
      ctx.op("write", "commitlog." + name, grow = root)(ctx.trace.span("commitlog." + name)(body))
    def read(name: String)(df: => DataFrame): Unit = {
      var frame: DataFrame = null
      ctx.op("read", "commitlog." + name) {
        ctx.trace.span("commitlog." + name) { frame = df; frame.collect() }
        0L
      }
      if (frame != null && ctx.trace.enabled) scanned += frame.inputFiles.length
      if (frame != null && ctx.pass < 0) {
        val props = Queries.planProps(frame.queryExecution.executedPlan)
        ctx.synchronized(ctx.props("commitlog." + name) = props)
      }
    }
    def head = CommitLog.latest(s, root).get.version
    verb match {
      // batches are materialized before the timed call
      case "append" =>
        val b = appendBatch(ctx, step).localCheckpoint()
        val n = b.count()
        write("append") {
          CommitLog.commitAppend(s, root, Writer, "append", statsCol = Some("o_orderkey"))(b); n }
      case "merge" =>
        val b = mergeBatch(ctx, step).localCheckpoint()
        val n = b.count()
        write("merge") {
          CommitLog.merge(s, root, Writer, "o_orderkey", b, statsCol = Some("o_orderkey")); n }
      case "delete_dv" => write("delete") {
        CommitLog.delete(s, root, Writer, deleteCond(ctx, verb, step)); 0L }
      case "delete_cow" => write("delete") {
        CommitLog.delete(s, root, Writer, deleteCond(ctx, verb, step), dvMaxFraction = 0.0); 0L }
      case "compact" => write("compact") {
        CommitLog.compact(s, root, Writer, statsCol = Some("o_orderkey")); 0L }
      case "latest" => read("latest")(CommitLog.readLatest(s, root).get
        .groupBy("o_orderstatus").agg(count(lit(1)), sum("o_totalprice")))
      case "point" => read("point")(CommitLog.readLatestPoint(s, root, "o_orderkey",
        (1L + (ctx.seed + step) * 37 % 15000L)).get)
      case "where" =>
        val lo = (ctx.seed * 13 + step * 101) % 14000L
        read("where")(CommitLog.readLatestWhere(s, root, "o_orderkey", lo, lo + 1000).get
          .agg(count(lit(1)), sum("o_totalprice")))
      // the table as the previous pass left it; versions start at 1 (the
      // seed commit)
      case "version" => read("read")(CommitLog.readVersion(s, root, (head - 3).max(1L)).get
        .agg(count(lit(1)), sum("o_totalprice")))
      case "changes" => read("changes")(CommitLog.changesSince(s, root, (head - 3).max(0L))
        .getOrElse(s.emptyDataFrame).agg(count(lit(1))))
      case "history" => read("history")(CommitLog.history(s, root))
    }
  }

  /** The episodes run, applied to a plain DataFrame state. */
  private def reference(ctx: Ctx): (DataFrame, DataFrame) = {
    var state = orders(ctx)
    var written: DataFrame = null
    def add(df: DataFrame): Unit = written = if (written == null) df else written.unionByName(df)
    done.foreach { case (verb, step) =>
      verb match {
        case "append" => val b = appendBatch(ctx, step); state = state.unionByName(b); add(b)
        case "merge" =>
          val b = mergeBatch(ctx, step)
          state = state.join(b.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(b)
          add(b)
        case "delete_dv" | "delete_cow" => state = state.filter(!deleteCond(ctx, verb, step))
        case _ =>
      }
      // cut the lineage once per pass (every pass ends with a compaction)
      if (verb == "compact") state = state.localCheckpoint()
    }
    (state, written)
  }

  def verify(ctx: Ctx): Unit = {
    val root = measured(ctx)
    ctx.fact("versions", CommitLog.latest(ctx.spark, root).get.version.toDouble)
    ctx.fact("log_bytes", Main.bytes(root + "/_commits").toDouble)
    ctx.fact("data_files", (Main.countFiles(root, ".parquet") -
      Main.countFiles(root + "/_commits", ".parquet")).toDouble)
    val (want, written) = reference(ctx)
    val got = CommitLog.readLatest(ctx.spark, root).get
    ctx.check(Main.sameRows(got.select(want.columns.map(col): _*), want),
      "commit-log table differs from the relational replay of its episodes")
    ctx.amp(written = ctx.writtenBytes("commitlog.", _ => true).toDouble,
      plainWritten = Main.plainBytes(written, ctx.dir("plain", "cl_written")).toDouble,
      onDisk = Main.bytes(root).toDouble,
      plainLive = Main.plainBytes(want, ctx.dir("plain", "cl_live")).toDouble)
  }

  override def layers(ctx: Ctx, passes: Set[Int]): Map[String, Double] = {
    val traced = ctx.ops.filter(o => passes(o.pass))
    def med(name: String) = Main.median(traced.filter(o => o.name == "commitlog." + name && o.ok).map(_.sec).toSeq)
    Seq("append", "merge", "delete", "compact", "latest", "read", "point", "history")
      .map(n => s"commitlog.${n}_s" -> med(n)).toMap ++ Map(
      "commitlog.versions" -> ctx.facts("versions"),
      "commitlog.log_bytes" -> ctx.facts("log_bytes"),
      "commitlog.data_files" -> ctx.facts("data_files"),
      "commitlog.files_scanned" -> (if (scanned.isEmpty) 0.0 else scanned.sum.toDouble / scanned.size),
      "commitlog.bytes_written" -> ctx.writtenBytes("commitlog.", _ => true).toDouble)
  }
}
