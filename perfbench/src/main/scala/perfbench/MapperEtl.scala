package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import graft.api.{MapperJob, MapperRunner}

final case class LineIn(l_orderkey: Long, l_linenumber: Int, l_quantity: Double,
    l_extendedprice: Double, l_discount: Double)
final case class LineOut(l_orderkey: Long, l_linenumber: Int, revenue: Double)
final case class OrderIn(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
final case class OrderMid(o_orderkey: Long, o_custkey: Long, price: Double, bucket: Int)
final case class OrderOut(o_orderkey: Long, o_custkey: Long, score: Double, bucket: Int)

/** Per-entity map over `lineitem`: drop one key class in `modulus`, emit the
  * discounted revenue scaled by `factor`. */
final case class LineJob(modulus: Int, drop: Int, factor: Double) extends MapperJob[LineIn, LineOut] {
  def query(spark: SparkSession, sfDir: String): Dataset[LineIn] = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount").as[LineIn]
  }
  def next(t: LineIn): IterableOnce[LineOut] =
    if (t.l_orderkey % modulus == drop) Iterator.empty
    else Iterator.single(LineOut(t.l_orderkey, t.l_linenumber,
      t.l_extendedprice * (1 - t.l_discount) * factor))
}

/** First stage of the chain: drops one customer class in `modulus`, buckets
  * the rest by customer. */
final case class OrderJob(modulus: Int, drop: Int, buckets: Int) extends MapperJob[OrderIn, OrderMid] {
  def query(spark: SparkSession, sfDir: String): Dataset[OrderIn] = {
    import spark.implicits._
    graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice").as[OrderIn]
  }
  def next(t: OrderIn): IterableOnce[OrderMid] =
    if (t.o_custkey % modulus == drop) Iterator.empty
    else Iterator.single(OrderMid(t.o_orderkey, t.o_custkey, t.o_totalprice,
      (t.o_custkey % buckets).toInt))
}

/** Second stage: reads the first stage's output directory. */
final case class ScoreJob(weight: Double) extends MapperJob[OrderMid, OrderOut] {
  def query(spark: SparkSession, path: String): Dataset[OrderMid] = {
    import spark.implicits._
    spark.read.parquet(path).select("o_orderkey", "o_custkey", "price", "bucket").as[OrderMid]
  }
  def next(t: OrderMid): IterableOnce[OrderOut] =
    Iterator.single(OrderOut(t.o_orderkey, t.o_custkey, t.price * weight + t.bucket, t.bucket))
}

/** In-place rewrite of the scored table: rescale every score. */
final case class RescoreJob(scale: Double) extends MapperJob[OrderOut, OrderOut] {
  def query(spark: SparkSession, path: String): Dataset[OrderOut] = {
    import spark.implicits._
    spark.read.parquet(path).select("o_orderkey", "o_custkey", "score", "bucket").as[OrderOut]
  }
  def next(t: OrderOut): IterableOnce[OrderOut] = Iterator.single(t.copy(score = t.score * scale))
}

/** datastore-mapper's own shape through the `api` facade, one seeded
  * episode per pass into a fresh directory: a sliced resumable export of
  * `lineitem` (which re-scans its input once per slice), a chained job over
  * `orders`, then the mutation verbs `upsert`, `deleteWhere` and
  * `rewriteInPlace` on the chain's output. The export and the final table
  * are each read back once by an aggregate, the consumer's read. */
class MapperEtl extends Workload {
  val Chunks = 2
  def passS: Double = 3.0

  /** Seeded map constants and key classes; every seed keeps the same
    * shares of rows. */
  private case class Params(line: LineJob, order: OrderJob, score: ScoreJob,
      rescore: RescoreJob, upsertClass: Int, deleteClass: Int)

  private def params(seed: Long): Params = {
    val r = new scala.util.Random(seed)
    Params(LineJob(7, r.nextInt(7), 1.0 + r.nextInt(50) / 100.0),
      OrderJob(5, r.nextInt(5), 3 + r.nextInt(5)),
      ScoreJob(0.5 + r.nextInt(50) / 100.0), RescoreJob(1.0 + r.nextInt(9) / 10.0),
      upsertClass = r.nextInt(25), deleteClass = r.nextInt(13))
  }

  def setup(ctx: Ctx, cycle: Int): Unit =
    graft.Tables.lineitem(ctx.spark, ctx.dataDir).agg(count(lit(1))).collect()

  /** Three unmeasured episodes (pass -1), each into its own directory:
    * after one, pass 0 still ran ~20% slower than the passes after it, and
    * ~10% after two. They run beside the longer commit-log warm-up. */
  def warmup(ctx: Ctx): Unit =
    Seq("w0", "w1", "w2").foreach(w => steps(ctx, ctx.dir("mapper", w)).foreach(_()))

  def steps(ctx: Ctx): Seq[() => Unit] = steps(ctx, ctx.dir("mapper", "e" + ctx.pass))

  /** 2% of the scored rows get a new score, 2% come back under new keys. */
  private def updates(live: DataFrame, p: Params): DataFrame =
    live.filter(pmod(col("o_orderkey"), lit(50L)) === p.upsertClass)
      .withColumn("score", col("score") + lit(1.0))
      .unionByName(live.filter(pmod(col("o_orderkey"), lit(50L)) === p.upsertClass + 25)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))

  private def deleted(p: Params) = pmod(col("o_orderkey"), lit(13L)) === p.deleteClass

  /** The episode's jobs; the export and the final table are read back. */
  private def steps(ctx: Ctx, dir: String): Seq[() => Unit] = {
    val s = ctx.spark
    import s.implicits._
    val p = params(ctx.seed)
    val pass = ctx.pass
    val out1 = dir + "/lines"; val mid = dir + "/orders_mid"; val out2 = dir + "/orders_scored"
    var t0 = 0L
    def job(name: String, grow: String = null, rewrite: String = null)(body: => (Long, Int)): () => Unit =
      () => {
        if (t0 == 0L) t0 = Trace.now
        ctx.op("write", "mapper." + name, grow, rewrite) {
          val (n, slices) = ctx.trace.span("mapper." + name)(body)
          if (pass == 0) { ctx.fact("rows", n.toDouble); ctx.fact("slices", slices.toDouble) }
          n
        }
      }
    def readBack(name: String, path: String, value: String): () => Unit = () =>
      ctx.op("read", "mapper.read_" + name) {
        ctx.trace.span("mapper.read")(s.read.parquet(path).agg(count(lit(1)), sum(value)).collect()); 0L }
    val last = if (pass != 0 || ctx.listener == null) Nil else Seq(() => {
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      ctx.fact("scan_passes", ctx.listener.window(t0, Trace.now,
        op => op.startsWith("mapper.") && !op.startsWith("mapper.read"))("scan_stages"))
    })
    Seq(
      job("resumable", rewrite = out1) {
        val (n, ran) = MapperRunner.runToParquetResumable(s, ctx.dataDir, p.line, out1, Chunks)
        (n, ran.size)
      },
      readBack("resumable", out1, "revenue"),
      job("chained", grow = dir) {
        val (n, a, b) = MapperRunner.runChainedResumable(s, ctx.dataDir,
          p.order.andThen(p.score), mid, out2, Chunks)
        (n, a.size + b.size)
      },
      job("upsert", rewrite = out2) {
        val upd = updates(s.read.parquet(out2), p)
        val (u, i) = MapperRunner.upsert(s, out2, upd, Seq("o_orderkey")); (u + i, 0)
      },
      job("delete_where", rewrite = out2) {
        val (k, d) = MapperRunner.deleteWhere(s, out2, deleted(p)); (k + d, 0)
      },
      job("rewrite", rewrite = out2)((MapperRunner.rewriteInPlace(s, out2, p.rescore), 0)),
      readBack("rewrite", out2, "score")) ++ last
  }

  /** Plain DataFrame rebuilds of the three outputs of episode 0. */
  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val p = params(ctx.seed)
    val dir = ctx.dir("mapper", "e0")
    val li = graft.Tables.lineitem(s, ctx.dataDir)
    val lines = li.filter(col("l_orderkey") % p.line.modulus =!= p.line.drop)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(p.line.factor)).as("revenue"))
    val mid = graft.Tables.orders(s, ctx.dataDir).filter(col("o_custkey") % p.order.modulus =!= p.order.drop)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice").as("price"),
        (col("o_custkey") % p.order.buckets).cast("int").as("bucket"))
    val scored = mid.select(col("o_orderkey"), col("o_custkey"),
      (col("price") * lit(p.score.weight) + col("bucket")).as("score"), col("bucket"))
    val upserted = scored.join(updates(scored, p).select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(updates(scored, p))
    val kept = upserted.filter(!deleted(p))
    val fin = kept.withColumn("score", col("score") * lit(p.rescore.scale))
    def read(path: String, cols: Seq[String]) = s.read.parquet(path).select(cols.map(col): _*)
    ctx.check(Main.sameRows(read(dir + "/lines", lines.columns), lines),
      "resumable mapper output differs from its DataFrame rebuild")
    ctx.check(Main.sameRows(read(dir + "/orders_mid", mid.columns), mid),
      "first chained job output differs from its DataFrame rebuild")
    ctx.check(Main.sameRows(read(dir + "/orders_scored", fin.columns), fin),
      "mutated table differs from its DataFrame rebuild")
    // every output the jobs wrote, each written once as plain parquet
    val plain = Seq(lines, mid, scored, upserted, kept, fin).zipWithIndex
      .map { case (df, i) => Main.plainBytes(df, ctx.dir("plain", "mapper" + i)) }
    ctx.amp(written = ctx.writtenBytes("mapper.").toDouble, plainWritten = plain.sum.toDouble,
      onDisk = Main.bytes(dir).toDouble, plainLive = (plain(0) + plain(1) + plain(5)).toDouble)
  }

  override def layers(ctx: Ctx, passes: Set[Int]): Map[String, Double] = {
    val traced = ctx.ops.filter(o => passes(o.pass))
    def med(name: String) = Main.median(traced.filter(o => o.name == "mapper." + name && o.ok).map(_.sec).toSeq)
    Seq("resumable", "chained", "upsert", "delete_where", "rewrite")
      .map(n => s"mapper.${n}_s" -> med(n)).toMap ++ Map(
      "mapper.rows" -> ctx.facts("rows"),
      "mapper.slices" -> ctx.facts("slices"),
      "mapper.scan_passes" -> ctx.facts.getOrElse("scan_passes", 0.0),
      "mapper.bytes_written" -> ctx.writtenBytes("mapper.").toDouble)
  }
}
