package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.{CommitLog, Sinks}

/** [[graft.plans.FinalSortPlacement]]: an output sort over a small child
  * runs as one partition with no range exchange, through collect, the noop
  * sink and the V1 parquet sink; a map-side pipeline keeps its parallelism;
  * large, limited and unknown-size sorts keep their plans. */
class FinalSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def warehouse(df: DataFrame): Unit =
    Sinks.writeWarehouse(df,
      Files.createTempDirectory("graft-final-sort").toString + "/out")

  /** The final executed plans of the actions `body` ran, and its
    * profile. */
  private def run(body: => Unit): (Seq[SparkPlan], ExecProfile) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val prof = Profile.of(spark)(body)._2
      (plans.asScala.toSeq, prof)
    } finally spark.listenerManager.unregister(l)
  }

  /** A range exchange in any of the final plans. */
  private def rangeExchanged(plans: Seq[SparkPlan]): Boolean =
    plans.exists(p => collect(p) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.nonEmpty)

  /** A global sort or a range exchange in any of the final plans. */
  private def rangeSorted(plans: Seq[SparkPlan]): Boolean =
    rangeExchanged(plans) || plans.exists(p => collect(p) {
      case s: SortExec if s.global => s }.nonEmpty)

  /** The output sort ran as one partition: a local sort over a coalesce. */
  private def placed(plans: Seq[SparkPlan]): Boolean =
    plans.nonEmpty && !rangeSorted(plans) && plans.exists { p =>
      collect(p) { case s: SortExec if !s.global => s }.nonEmpty &&
        collect(p) { case c: CoalesceExec if c.numPartitions == 1 => c }.nonEmpty
    }

  /** Jobs of one execution at sf0.001 when each output sort was placed by
    * hand as `coalesce(1).sortWithinPartitions(keys)`: the counts the rule
    * must keep. The join queries and the rollup are placed by the runtime
    * hook, the others already by the static one, except `q_funnel`: its
    * sort sits over a `stack` Generate, which the rule does not size, and
    * stays a global sort, over a single-partition aggregate that needs no
    * exchange. */
  private val handPlaced = Seq("q_agg_pricing_summary" -> 3,
    "q_join_multi" -> 5, "q_join_hash" -> 3, "q_funnel" -> 3)

  test("small output sorts run as one partition through collect and the noop sink") {
    for ((name, jobs) <- handPlaced; (sink, act) <- Seq(
        "collect" -> ((df: DataFrame) => { df.collect(); () }),
        "noop" -> (noop _))) {
      val q = SparkEntry.queries(name)
      act(q(spark, sf)) // warm-up
      val (plan, prof) = run(act(q(spark, sf)))
      assert(if (name == "q_funnel") !rangeExchanged(plan) else placed(plan),
        s"$name/$sink:\n${plan.mkString("\n")}")
      assert(prof.jobs == jobs, s"$name/$sink ran ${prof.jobs} jobs")
    }
  }

  test("q_agg_rollup's output sort runs as one partition through the V1 parquet sink") {
    val q = SparkEntry.queries("q_agg_rollup")
    warehouse(q(spark, sf)) // warm-up
    val (plan, prof) = run(warehouse(q(spark, sf)))
    assert(placed(plan), plan.mkString("\n"))
    assert(prof.jobs == 5, s"ran ${prof.jobs} jobs")
  }

  test("q_scalar_json's fanned-out projection stays parallel below its one-partition sort") {
    val q = SparkEntry.queries("q_scalar_json")
    noop(q(spark, sf)) // warm-up
    val (plan, prof) = run(noop(q(spark, sf)))
    assert(!rangeSorted(plan), plan.mkString("\n"))
    // gathered by an exchange into the sorting task, not by a coalesce
    // that would pull the JSON parses into that task
    assert(plan.exists(p => collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 => e
    }.nonEmpty), plan.mkString("\n"))
    assert(!plan.exists(p => collect(p) { case c: CoalesceExec => c }.nonEmpty),
      plan.mkString("\n"))
    assert(prof.stageTasks.exists(_ > 1), prof.stageTasks)
  }

  test("above AQE's minimum partition size the same frames keep the range sort") {
    withConf(largeSorts) {
      for ((name, jobs) <- handPlaced :+ ("q_agg_rollup" -> 5)) {
        val df = SparkEntry.queries(name)(spark, sf)
        val (plan, prof) = run(df.collect())
        assert(rangeSorted(plan), s"$name:\n${plan.mkString("\n")}")
        assert(prof.jobs >= jobs, s"$name ran ${prof.jobs} jobs")
      }
      val (plan, _) = run(warehouse(SparkEntry.queries("q_agg_rollup")(spark, sf)))
      assert(rangeSorted(plan), plan.mkString("\n"))
    }
  }

  test("a sort under a limit stays TakeOrderedAndProject") {
    val df = Tables.orders(spark, sf)
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(5)
    val (plan, _) = run(df.collect())
    assert(plan.exists(p => collect(p) {
      case t: TakeOrderedAndProjectExec => t }.nonEmpty), plan.mkString("\n"))
    assert(!placed(plan), plan.mkString("\n"))
  }

  test("a frame of unknown size (a commit-log change feed) keeps the range sort") {
    val root = Files.createTempDirectory("graft-final-sort-feed").toString
    CommitLog.commitAppend(spark, root, "w", "append",
      createOnEmpty = true)(spark.range(0, 100).toDF("k"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      spark.range(100, 200).toDF("k"))
    val feed = spark.read.format("graft.commitlog")
      .option("changesSince", "1").load(root)
    val sorted = feed.orderBy("k")
    val (plan, _) = run(sorted.collect())
    assert(rangeSorted(plan), plan.mkString("\n"))
    val ks = rows(sorted.select("k")).map(_.head.asInstanceOf[Long])
    assert(ks.nonEmpty && ks == ks.sorted)
  }
}
