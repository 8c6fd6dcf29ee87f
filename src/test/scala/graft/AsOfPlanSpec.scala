package graft

import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import graft.operators.Joins
import graft.plans.{AsOf, AsOfJoinExec}

/** The custom whole-operator as-of join (LogicalPlan + Strategy + SparkPlan,
  * SURVEY.md §5). */
class AsOfPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("native as-of join equals the window formulation on real data") {
    val native = rows(Joins.queries("q_join_asof_native")(spark, sf))
    val window = rows(Joins.queries("q_join_asof")(spark, sf))
    assert(native.nonEmpty)
    assert(native == window)
  }

  test("AQE coalesces both as-of exchanges below spark.sql.shuffle.partitions") {
    // Round 2 pinned both child distributions to numShufflePartitions,
    // which opts the exchanges out of AQE coalescing: one sort per fixed
    // partition however small the input (a 36x slowdown). Unpinned, AQE
    // reads each side's shuffle coalesced.
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
    val joined = AsOf.joinLatestPrior(purchases, clicks,
      "user_id", "ts", "event_id", "prior_ts")
    joined.collect()
    val plan = joined.queryExecution.executedPlan
    val join = collect(plan) { case j: AsOfJoinExec => j }
    assert(join.size == 1, plan)
    val reads = join.head.children.map(c =>
      collectFirst(c) { case r: AQEShuffleReadExec => r })
    val pinned = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(reads.forall(_.exists(r =>
      r.isCoalescedRead && r.partitionSpecs.size < pinned)), plan)
  }

  test("plan contains AsOfJoin with co-shuffled sorted children") {
    val plan = physicalPlan(Joins.queries("q_join_asof_native")(spark, sf))
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("filter above as-of pushes to BOTH children's parquet scans") {
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
    val filtered = AsOf.joinLatestPrior(purchases, clicks,
      "user_id", "ts", "event_id", "prior_ts")
      .filter(col("user_id") < 50)
    val plan = physicalPlan(filtered)
    // the key predicate must reach the scan-adjacent Filter of both children
    // (the PushedFilters list itself is string-truncated in plan output)
    val pushes = plan.linesIterator
      .filter(l => l.trim.startsWith("+- Filter") || l.trim.startsWith(":- Filter")
        || l.trim.contains("+- Filter "))
      .count(_.contains("< 50)"))
    assert(pushes == 2, s"expected user_id<50 in both children's filters:\n$plan")
    // and the result must equal filtering after the join
    val unpushed = AsOf.joinLatestPrior(purchases, clicks,
      "user_id", "ts", "event_id", "prior_ts")
      .collect().filter(_.getLong(1) < 50).length
    assert(filtered.count() == unpushed)
  }

  test("hand-built scenario: latest prior tie-broken correctly, no-match is null") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (10L, 1L, t("2024-01-01 10:10:00")),
      (11L, 2L, t("2024-01-01 10:10:00")), // user 2: no clicks at all
      (12L, 1L, t("2024-01-01 09:00:00"))) // before any click
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val right = Seq(
      (1L, 1L, t("2024-01-01 10:00:00")),
      (2L, 1L, t("2024-01-01 10:05:00")),
      (3L, 1L, t("2024-01-01 10:20:00"))) // after both purchases
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = AsOf.joinLatestPrior(left, right, "user_id", "ts", "event_id", "prior_ts")
      .orderBy("event_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.toString)).toMap
    assert(out(10L).get.startsWith("2024-01-01T10:05")) // latest of the two priors
    assert(out(11L).isEmpty)                            // user without right rows
    assert(out(12L).isEmpty)                            // purchase before any click
  }

  test("same-timestamp tie falls back to the tie column (strictly-prior)") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((5L, 1L, t("2024-01-01 10:00:00"))) // tie id 5
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val right = Seq(
      (3L, 1L, t("2024-01-01 10:00:00")),  // same ts, smaller id => prior
      (7L, 1L, t("2024-01-01 10:00:00"))) // same ts, larger id => not prior
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = AsOf.joinLatestPrior(left, right, "user_id", "ts", "event_id", "prior_ts")
      .collect()
    assert(out.length == 1)
    assert(Option(out.head.get(3)).isDefined, "id-3 click at equal ts counts as prior")
  }
}
