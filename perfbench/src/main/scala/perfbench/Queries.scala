package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, explode, lit, pmod, split}

import graft.SparkEntry
import graft.sources.InvertedIndex

/** Declared queries run through `SparkEntry.queries`, plus the writes a
  * query service does beside them. One pass, in seeded order:
  *  - every query in [[Queries.Olap]] and [[Queries.Text]] once, as
  *    DataFrame construction plus evaluation through the noop sink;
  *  - every query in [[Queries.Sinks]] once more, evaluated into the
  *    warehouse sink (`Sinks.writeWarehouse`);
  *  - [[Queries.Appends]] seeded document batches appended to an inverted
  *    index the benchmark owns, one term lookup on it, and a compaction
  *    of it to close the pass.
  * The warm-up runs every query once cold and keeps its output for the
  * DuckDB oracle check, then the ops of a pass once more. */
class Queries extends Workload {
  import Queries._
  private lazy val fns = SparkEntry.queries
  def passS: Double = 12.0
  private val sinkRows = scala.collection.mutable.Map.empty[String, Long]
  private val buildS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val appended = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def build(ctx: Ctx, q: String): DataFrame =
    ctx.trace.span("operators.build")(fns(q)(ctx.spark, ctx.dataDir))

  private def indexDir(ctx: Ctx, cycle: Int) = ctx.dir("idx", "c" + cycle)
  private def index(ctx: Ctx) = indexDir(ctx, Main.SetupCycles - 1)
  private def documents(s: SparkSession, ctx: Ctx) = graft.Tables.documents(s, ctx.dataDir)

  /** Batch `seg`: one seeded tenth of the corpus (a doc id class modulo
    * 10, so every batch has the same size) under fresh doc ids. Batches
    * never share a doc id. */
  private def batch(ctx: Ctx, seg: Long): DataFrame =
    documents(ctx.spark, ctx)
      .filter(pmod(col("doc_id") + lit(ctx.seed + seg), lit(10L)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L * seg))

  /** Fixture: the inverted index over `documents`. */
  def setup(ctx: Ctx, cycle: Int): Unit = {
    build(ctx, "q_scan_count").write.mode("overwrite").format("noop").save()
    val t0 = System.nanoTime()
    InvertedIndex.build(documents(ctx.spark, ctx), indexDir(ctx, cycle))
    buildS += (System.nanoTime() - t0) / 1e9
  }

  /** Every query once, cold, with its output kept for the oracle; one
    * append and lookup on a spare index. The queries run concurrently:
    * the warm-up is not measured, and they do not share state. */
  def warmup(ctx: Ctx): Unit = {
    val spare = indexDir(ctx, 0)
    Main.parallel(ctx.threads, (() => {
      InvertedIndex.append(batch(ctx, 999L), spare, 999L)
      InvertedIndex.lookup(ctx.spark, spare, "vector").collect()
      ()
    }) +: (Olap ++ Text ++ Sinks).distinct.map { q => () =>
      val df = fns(q)(ctx.spark, ctx.dataDir)
      val props = planProps(df.queryExecution.executedPlan)
      val dir = ctx.dir("out", q)
      df.coalesce(1).write.mode("overwrite").parquet(dir)
      val rows = if (Sinks.contains(q)) ctx.spark.read.parquet(dir).count() else 0L
      ctx.synchronized {
        if (!Sinks.contains(q)) ctx.props(q) = props
        ctx.dumps(q) = dir
        sinkRows(q) = rows
      }
    })
    // a second round, one op at a time as a pass runs them, on spare
    // outputs: after the first alone, passes ran ~16% slower and their
    // latencies spread about twice as wide across seeds
    (Olap ++ Text).foreach(q => build(ctx, q).write.mode("overwrite").format("noop").save())
    Sinks.foreach(q => graft.sources.Sinks.writeWarehouse(build(ctx, q), ctx.dir("warm", q)))
    InvertedIndex.append(batch(ctx, 998L), spare, 998L)
    InvertedIndex.lookup(ctx.spark, spare, "spark").collect()
    InvertedIndex.compact(ctx.spark, spare)
  }

  def steps(ctx: Ctx): Seq[() => Unit] = {
    val p = ctx.pass
    val ops = (Olap ++ Text).map("read" -> _) ++ Sinks.map("sink" -> _) ++
      (1 to Appends).map(i => "append" -> (Appends * p + i).toString) :+
      ("lookup" -> Terms(new Random(ctx.seed + p).nextInt(Terms.size)))
    // the compaction closes the pass, so the index it leaves (and the bytes
    // it writes) do not depend on the seeded order
    (new Random(ctx.seed * 7919 + p).shuffle(ops) :+ ("compact" -> "")).map(op => () => run(ctx, op)) ++
      (if (p == 0) Seq(() => ctx.fact("index_bytes_pass0", Main.bytes(index(ctx)).toDouble)) else Nil)
  }

  private def run(ctx: Ctx, op: (String, String)): Unit = {
    val dir = index(ctx)
    op match {
      case ("read", q) => ctx.op("read", q) {
        val df = build(ctx, q)
        ctx.trace.span("exec.run")(df.write.mode("overwrite").format("noop").save())
        0L
      }
      case ("sink", q) =>
        val out = ctx.dir("sink", q)
        ctx.op("write", "sink." + q, rewrite = out) {
          val df = build(ctx, q)
          ctx.trace.span("sink.write")(graft.sources.Sinks.writeWarehouse(df, out))
          sinkRows(q)
        }
      // batches are doc-disjoint, so the index content does not depend on
      // where the appends and the compaction fall in the pass
      case ("append", seg) => ctx.op("write", "index.append", grow = dir) {
        ctx.trace.span("index.append")(InvertedIndex.append(batch(ctx, seg.toLong), dir, seg.toLong))
        appended += seg.toLong
        0L
      }
      case ("compact", _) => ctx.op("write", "index.compact", rewrite = dir) {
        ctx.trace.span("index.compact")(InvertedIndex.compact(ctx.spark, dir))
        0L
      }
      case (_, term) => ctx.op("read", "index.lookup") {
        ctx.trace.span("index.lookup")(InvertedIndex.lookup(ctx.spark, dir, term).collect())
        0L
      }
    }
  }

  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val dir = index(ctx)
    val docs = appended.map(seg => batch(ctx, seg)).foldLeft(documents(s, ctx))(_ unionByName _)
    // batch sizes are deterministic: fill in the rows each append wrote
    val sizes = appended.map(seg => batch(ctx, seg).withColumn("seg", lit(seg)))
      .reduce(_ unionByName _).groupBy("seg").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var k = 0
    ctx.ops.indices.foreach { i =>
      val o = ctx.ops(i)
      if (o.name == "index.append" && o.ok) { ctx.ops(i) = o.copy(rows = sizes(appended(k))); k += 1 }
    }
    Main.parallel(ctx.threads, Sinks.map { q => () =>
      val same = Main.sameRows(s.read.parquet(ctx.dir("sink", q)), s.read.parquet(ctx.dumps(q)))
      ctx.check(same, s"sink output of $q differs from its query output")
    } ++ Seq(
      () => {
        val got = Terms.map(t => InvertedIndex.lookup(s, dir, t).withColumn("term", lit(t)))
          .reduce(_ unionByName _)
        val want = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term").isin(Terms: _*)).distinct()
        ctx.check(Main.sameRows(got, want), "index lookups differ from a scan of the indexed documents")
      },
      () => {
        // pass 0 against plain parquet: the query outputs (the oracle
        // dumps) and its two document batches, alone and with the corpus
        val batches0 = (1 to Appends).map(i => batch(ctx, i.toLong)).reduce(_ unionByName _)
        val sinkPlain = Sinks.map(q => Main.bytes(ctx.dumps(q))).sum
        ctx.amp(written = (ctx.writtenBytes("sink.") + ctx.writtenBytes("index.")).toDouble,
          plainWritten = (sinkPlain + Main.plainBytes(batches0, ctx.dir("plain", "batches0"))).toDouble,
          onDisk = Sinks.map(q => Main.bytes(ctx.dir("sink", q))).sum + ctx.facts("index_bytes_pass0"),
          plainLive = (sinkPlain + Main.plainBytes(documents(s, ctx).unionByName(batches0),
            ctx.dir("plain", "indexed0"))).toDouble)
      }))
  }

  override def layers(ctx: Ctx, traced: Set[Int]): Map[String, Double] = {
    def p50(names: Seq[String]) = Main.median(ctx.ops.filter(o =>
      o.ok && traced(o.pass) && o.kind == "read" && names.contains(o.name)).map(_.sec).toSeq)
    Map("index.build_s" -> Main.median(buildS.toSeq),
      "queries.olap_p50_s" -> p50(Olap), "queries.text_p50_s" -> p50(Text)) ++
      Functions.time(ctx)
  }
}

object Queries {
  /** Relational, join, window, aggregate and behavioural queries, among
    * them the single-task rank phases (`q_agg_percentile_cont`,
    * `q_window_rank`, `q_join_multi`) and a plain global sort
    * (`q_sort_multi`). They run none of the native fallback functions. */
  val Olap: Seq[String] = Seq(
    "q_agg_pricing_summary", "q_agg_percentile_cont", "q_window_rank",
    "q_join_multi", "q_join_hash", "q_sort_multi", "q_funnel", "q_topk_per_group")

  /** Text, dedup, similarity and search queries over `documents` and
    * `embeddings`: they run four of the five native fallback expressions
    * (graft_tokens, grams, gram_max_count, nearest_cells) and the IVF and
    * inverted-index sources. The fifth, adc_dist, is timed alone by
    * [[Functions]]. */
  val Text: Seq[String] = Seq(
    "q_text_tokens", "q_text_repetition", "q_decontaminate", "q_sim_ann_ivf",
    "q_search_index", "q_sim_topk")

  /** Queries whose results are also written to the warehouse sink: a
    * report and a row-level projection. */
  val Sinks: Seq[String] = Seq("q_agg_rollup", "q_filter_ineq")

  /** Index appends per pass. */
  val Appends = 3

  val Terms: Seq[String] = Seq("vector", "spark", "table", "query", "window", "merge",
    "stream", "customer", "order", "batch")

  /** (root global sort or range exchange, any CodegenFallback expression). */
  def planProps(plan: SparkPlan): (Boolean, Boolean) = {
    val p = plan match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
    def spine(n: SparkPlan): Seq[SparkPlan] =
      n +: (if (n.children.size == 1) spine(n.children.head) else Nil)
    val rootSort = spine(p).exists { case s: SortExec => s.global; case _ => false }
    val range = p.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    val fallback = p.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback])))
    (rootSort || range, fallback)
  }
}
