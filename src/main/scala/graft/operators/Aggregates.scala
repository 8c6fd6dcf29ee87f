package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.ColumnOps._

/** SURVEY.md §2.4 — aggregations: partial+final hash aggregate, distinct,
  * approx-distinct (HLL), rollup/cube/grouping sets (Expand), stats.
  *
  * Scale: every groupBy here does map-side partial aggregation, so the
  * shuffle carries one row per (partition × group), not per input row. Group
  * cardinalities are tiny (flags, statuses, nations) — at 100 TB the shuffle
  * is KBs. Averages are computed as exact-decimal sum / count so results are
  * independent of partition layout (see ColumnOps).
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame

  private val dec2 = DecimalType(18, 2)

  private val pivotSegs =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Revenue by nation, one column per market segment, unsorted. */
  private def pivoted(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("c_mktsegment", pivotSegs)
      .agg(sum(col("o_totalprice").cast(dec2)).cast("double"))

  val queries: Map[String, Q] = Map(
    // Flagship: TPC-H Q1-style pricing summary (SURVEY.md §2.4).
    // r19: fanOut before the 7-aggregate decimal partial aggregation —
    // the single-row-group scan otherwise runs it in ONE task (guide §2).
    "q_agg_pricing_summary" -> ((s, d) =>
      Tables.fanOut(Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumExact2(col("l_quantity")).as("sum_qty"),
          sumExact2(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          (sumExact2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sumExact2(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (sumExact2(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Distinct aggregates (Expand-based two-phase distinct).
    "q_agg_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("cd_cust"),
          countDistinct(col("o_orderpriority")).as("cd_prio"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    // Incremental aggregate maintenance (the materialized-view pattern
    // every 100 TB rollup pipeline runs): the stored partial-aggregate
    // state for the base partition (shipped < 1997) MERGES with the delta
    // batch's partials (≥ 1997) without re-reading a single base fact row —
    // mergeable partials only (count/sum/min/max; avg derived at read
    // time), the same algebra Spark's own two-phase aggregation uses,
    // lifted to cross-batch persistence. The oracle is the full recompute,
    // proving merge(partial(base), partial(delta)) ≡ agg(base ∪ delta).
    // At 100 TB the "base" side is a tiny persisted rollup table (one row
    // per group) — the daily refresh touches only the delta's row groups
    // (shipdate partition pruning) plus that rollup.
    "q_agg_incremental" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      def partials(df: DataFrame): DataFrame =
        df.groupBy("l_returnflag").agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(dec2)).as("sum_qty_d"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
      val cutoff = lit("1997-01-01").cast("timestamp")
      partials(li.filter(col("l_shipdate") < cutoff))
        .unionByName(partials(li.filter(col("l_shipdate") >= cutoff)))
        .groupBy("l_returnflag")
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_qty_d")).cast("double").as("sum_qty"),
          min(col("min_price")).as("min_price"),
          max(col("max_price")).as("max_price"))
        .withColumn("avg_qty", col("sum_qty") / col("cnt"))
        .orderBy("l_returnflag")
    }),

    // HLL sketch — mergeable across partitions, O(1) memory per group; the
    // 100 TB path for distinct-user counts. Approximate => no DuckDB oracle.
    "q_agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type")),

    // GK-sketch quantiles (percentile_approx) — mergeable, bounded memory
    // per group; THE 100 TB percentile path (the exact `percentile` in
    // q_agg_stats materializes every group's values — right for an oracle
    // twin, wrong at scale). accuracy=1000 bounds rank error at n/1000.
    // Approximate => no DuckDB oracle; the spec pins each approx quantile
    // inside the exact neighboring-quantile envelope.
    // r19: ONE percentile_approx(col, array(...)) call — two separate
    // calls each built their own GK sketch over the group (2× the update
    // and merge work); the array form queries both ranks from one sketch,
    // and the sketch depends only on (data, accuracy), so the answers are
    // bit-identical to the two-call form's.
    "q_agg_approx_quantile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(1000)).as("pa"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          element_at(col("pa"), 1).as("p50_approx"),
          element_at(col("pa"), 2).as("p95_approx"),
          col("cnt"))
        .orderBy("l_returnflag")),

    // ROLLUP over a star join; grouping nulls coalesced to 'ALL' so null
    // ordering can't diverge between engines.
    // r19: pre-aggregate to the finest grouping (nation, segment) BEFORE
    // the rollup so Expand triples ~125 partial rows, not every joined
    // fact row (guide §2.2; same device as q_agg_grouping_sets). SUM and
    // COUNT re-aggregate associatively: sum(per-group decimal sums) and
    // sum(per-group counts) are exactly the one-level values, and the
    // final .cast("double")/long output types are unchanged.
    "q_agg_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast(dec2)).as("s"), count(lit(1)).as("c"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(sum(col("s")).cast("double").as("revenue"), sum(col("c")).as("cnt"))
        .select(
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("revenue"), col("cnt"))
        .orderBy("nation", "segment")),

    // CUBE (all 4 grouping combinations via Expand).
    // r19: same pre-aggregation as q_agg_rollup — Expand quadruples ~15
    // (status, priority) partial rows instead of every order (guide §2.2).
    "q_agg_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("c"), sum(col("o_totalprice").cast(dec2)).as("s"))
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("c")).as("cnt"), sum(col("s")).cast("double").as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"), col("revenue"))
        .orderBy("status", "priority")),

    // GROUPING SETS via the SQL surface (SURVEY.md §4 entry point 2). The
    // SQL string is valid in both engines, so the oracle is the same text.
    // r19: the fact rows are pre-aggregated to the FINEST grouping
    // (l_returnflag, l_linestatus) before the grouping-sets step, so
    // Expand triples ~6 pre-aggregated rows instead of every lineitem row
    // (the before-plan ran Expand directly on the scan — 3× the fact rows
    // through the partial aggregate, 3 decimal adds per row instead of 1;
    // guide §2.2 partial aggregation). Equivalence is the associativity
    // of SUM/COUNT re-aggregation: SUM(per-group SUM) = SUM, SUM(per-group
    // COUNT) = COUNT(*); the oracle keeps the original one-level text.
    "q_agg_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(
        "WITH base AS (SELECT l_returnflag, l_linestatus, " +
          "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s, count(*) AS c " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus) " +
          "SELECT COALESCE(l_returnflag, 'ALL') AS rf, " +
          "COALESCE(l_linestatus, 'ALL') AS ls, " +
          "CAST(SUM(s) AS DOUBLE) AS sum_qty, SUM(c) AS cnt FROM base " +
          "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
          "ORDER BY rf, ls")
    }),

    // PIVOT: revenue by nation × market segment widened to one column per
    // segment (explicit value list => no extra distinct-values job).
    "q_agg_pivot" -> ((s, d) => pivoted(s, d).orderBy("n_name")),

    // UNPIVOT (melt): the pivoted wide frame back to (nation, segment,
    // revenue) long form. Oracle = UNION ALL of per-segment projections.
    "q_agg_unpivot" -> ((s, d) =>
      pivoted(s, d)
        .unpivot(Array(col("n_name")), pivotSegs.map(col).toArray,
          "segment", "revenue")
        .filter(col("revenue").isNotNull)
        .orderBy("n_name", "segment")),

    // Salted two-phase sum over a 3-value key — the skew-mitigation path
    // from SCALE.md as a first-class declared query. l_returnflag has ~3
    // distinct values over all of lineitem: the exact shape where one
    // reducer per key straggles at 100 TB and per-key salting bounds it.
    // Exact-decimal partials make the result equal a plain GROUP BY
    // regardless of salt assignment, so the oracle is the plain GROUP BY.
    "q_agg_salted" -> ((s, d) =>
      graft.functions.SkewOps
        .saltedSumExact2(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", salts = 16)
        .orderBy("l_returnflag")),

    // Conditional/boolean aggregate family: count_if + bool_and/bool_or —
    // the predicate-accounting shapes data-quality checks aggregate with
    // (all rows valid? any row flagged? how many matched?).
    "q_agg_bool" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          bool_or(col("o_orderstatus") === "F").as("any_finished"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")),

    // Fixed-width histogram: constant bucket edges => map-only bucketing +
    // one tiny-cardinality groupBy (at 100 TB the shuffle carries ~12 rows
    // per partition). Constant edges are the scale-friendly choice — data-
    // dependent edges (equi-depth) would need a quantile pre-pass.
    "q_agg_histogram" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("bucket",
          least(floor(col("l_extendedprice") / 10000).cast("long"), lit(10L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          sumExact2(col("l_extendedprice")).as("sum_price"))
        .orderBy("bucket")),

    // Array-aggregation family: collect_set (distinct) with a pinned sort +
    // string serialization, so the grouped list is deterministic and both
    // engines hash identically (raw collect order is partition-dependent —
    // never expose it unsorted).
    "q_agg_collect" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
            .as("priorities"),
          size(collect_set(col("o_orderpriority"))).as("n_distinct"))
        .orderBy("o_orderstatus")),

    // Bivariate stats: Pearson correlation + sample covariance between
    // price and discount per flag — streaming-mergeable moments, one pass.
    // round(6) absorbs libm ulp variance between engines.
    "q_agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          (round(corr(col("l_extendedprice"), col("l_discount")), 6) + 0.0).as("corr_pd"),
          (round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4) + 0.0).as("cov_pq"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Stats family: min/max/stddev/exact percentiles.
    "q_agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Mergeable-sketch rollup (DataSketches HLL): per-group sketches of
    // distinct customers, PLUS an 'ALL' row whose estimate comes from
    // hll_union_agg over the group sketches — NOT a re-scan of the fact.
    // This is THE 100 TB distinct-count pattern: materialize per-partition/
    // per-day sketches once, answer any rollup by register-max union (HLL
    // updates are max-of-hashes, so the result is order-insensitive and
    // deterministic). Sketch binary => engine-specific => declared
    // no-oracle; OperatorSpec asserts estimates within the sketch's error
    // envelope of exact counts and that union == direct whole-table sketch.
    "q_agg_hll_merge" -> ((s, d) => {
      val perGroup = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      val groups = perGroup
        .select(col("o_orderpriority").as("grp"),
          expr("hll_sketch_estimate(sk)").cast("long").as("est_customers"))
      val all = perGroup
        .agg(expr("hll_union_agg(sk)").as("u"))
        .select(lit("ALL").as("grp"),
          expr("hll_sketch_estimate(u)").cast("long").as("est_customers"))
      groups.unionByName(all).orderBy("grp")
    }),

    // MODE (most frequent value) per group with a DETERMINISTIC tie-break
    // (higher count wins, ties → lexicographically smallest value) — the
    // "typical category" aggregate. Two-phase: one partial-agg'd pair
    // count, then a window over the OUTPUT-sized (group × value) frame —
    // the per-group state is the value histogram, never the raw rows.
    // Engines differ on native mode() tie-breaks, so both sides spell the
    // tie-break explicitly via row_number.
    "q_agg_mode" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
        .orderBy("o_orderstatus")
    }),

    // Exact INTERPOLATED percentiles (percentile_cont semantics: rank
    // p·(n−1), linear interpolation between neighbors) — the exact twin of
    // q_agg_approx_quantile and the quartile family q_agg_stats'
    // median-only `percentile` doesn't cover. Exact percentiles
    // materialize each group's values (right for the oracle tier; the
    // mergeable 100 TB path IS the GK sketch above). round(6) absorbs the
    // one-ulp interpolation-formula difference between engines; the
    // quarter-fraction ranks make the rounded value boundary-safe for
    // 2-decimal prices.
    // ONE percentile(col, array(...)) call, not three: each percentile
    // aggregate buffers the group's values, so separate calls triple the
    // buffered state and the sort — the array form shares one buffer
    // (measured 3.8 s → one-buffer cost at sf0.1).
    // r19 rewrite (guide §4/§5): the `percentile(...)` TypedImperativeAggregate
    // buffered every group value in a boxed OpenHashMap (one put per row,
    // full-map serde through the exchange, a boxed key sort per group in
    // ONE reduce task). Same exact order statistic via rank selection:
    // row_number over the group-sorted values (UnsafeExternalSorter, 3
    // parallel partitions), keep ONLY the ≤2 rows at floor/ceil of each
    // target position p·(n−1), interpolate with Percentile.getPercentile's
    // exact formula `vlo·(hi−pos) + vhi·(pos−lo)` (lower value when
    // lo == hi) — so the pre-round doubles are bit-identical to the
    // aggregate's. Null prices are excluded from ranks like the aggregate
    // excludes them (and an all-null group keeps its row via the left
    // join, percentiles null); cnt stays count(*) over ALL rows.
    "q_agg_percentile_cont" -> ((s, d) => {
      // (r19 follow-up, measured and REVERTED: riding nn on an unordered
      // count window over the same partitioning removed one scan + the
      // broadcast join but measured 1.26 → ~1.6-2.0 s across three
      // windows — the whole-partition window buffers every row a second
      // time, costing more than the 3-row broadcast it replaced.)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_extendedprice")
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val cnts = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), count(col("l_extendedprice")).as("nn"))
      val ranked = li.filter(col("l_extendedprice").isNotNull)
        .withColumn("rn", row_number().over(w))
        .join(broadcast(cnts.select(col("l_returnflag"), col("nn"))),
          "l_returnflag")
      val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90")
      val sel = ps.flatMap { case (p, nm) =>
        val pos = lit(p) * (col("nn") - lit(1)).cast("double")
        Seq(
          max(when(col("rn").cast("double") === floor(pos) + lit(1.0),
            col("l_extendedprice"))).as(s"lo_$nm"),
          max(when(col("rn").cast("double") === ceil(pos) + lit(1.0),
            col("l_extendedprice"))).as(s"hi_$nm"))
      } :+ max(col("nn")).as("nn")
      val picked = ranked.groupBy("l_returnflag").agg(sel.head, sel.tail: _*)
      val out = ps.map { case (p, nm) =>
        val pos = lit(p) * (col("nn") - lit(1)).cast("double")
        val lo = floor(pos)
        val hi = ceil(pos)
        round(when(lo === hi, col(s"lo_$nm")).otherwise(
          col(s"lo_$nm") * (hi - pos) + col(s"hi_$nm") * (pos - lo)), 6)
          .as(nm)
      }
      cnts.select(col("l_returnflag"), col("cnt"))
        .join(picked, Seq("l_returnflag"), "left")
        .select(col("l_returnflag") +: out :+ col("cnt"): _*)
        .orderBy("l_returnflag")
    }),

    // SKETCH SET ALGEBRA: distinct-customer overlap between order
    // statuses by inclusion-exclusion over the stored HLL sketches —
    // |A∩B| ≈ est(A) + est(B) − est(A∪B). Unions are register-max (exact
    // sketch algebra, deterministic); the subtraction is NOT a sketch
    // operation, so intersection error compounds to O(err·|A∪B|) — the
    // standard HLL caveat (a tighter estimator needs theta/KLL-style
    // sample sketches). What this buys at 100 TB: every pairwise overlap
    // of any group combination answered from kilobytes of stored
    // sketches, zero fact-table scans. Approximate => no DuckDB oracle;
    // OperatorSpec asserts each estimate within the compounded error
    // envelope of the exact overlap and union monotonicity.
    "q_agg_hll_intersect" -> ((s, d) => {
      val byStatus = SketchStore.ordersCustomerHll(s, d)
        .groupBy("o_orderstatus")
        .agg(expr("hll_union_agg(sk)").as("u"))
      val a = byStatus.select(col("o_orderstatus").as("grp_a"), col("u").as("ua"))
      val b = byStatus.select(col("o_orderstatus").as("grp_b"), col("u").as("ub"))
      a.join(b, col("grp_a") < col("grp_b"))
        .select(col("grp_a"), col("grp_b"),
          expr("hll_sketch_estimate(ua)").cast("long").as("est_a"),
          expr("hll_sketch_estimate(ub)").cast("long").as("est_b"),
          expr("hll_sketch_estimate(hll_union(ua, ub))").cast("long")
            .as("est_union"))
        .withColumn("est_intersect",
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
        .orderBy("grp_a", "grp_b")
    }),

    // THETA/KMV INTERSECTION (functions/ThetaSketch.scala — VERDICT r11
    // #8): the same pairwise-overlap question as q_agg_hll_intersect,
    // answered by a sketch whose set algebra carries intersection
    // FIRST-CLASS instead of through inclusion-exclusion. Each status's
    // KMV sketch retains the 1024 smallest key hashes (a typed Aggregator
    // with map-side-mergeable buffers — one k-long row per group crosses
    // the shuffle); the estimators are NATIVE column expressions over the
    // stored arrays (est, union, direct θ-scaled intersection), so every
    // pairwise overlap of any group combination answers from kilobytes of
    // sketch with zero fact re-scans — and, unlike the HLL route, the
    // intersection error scales with sqrt(|A∪B|/k), not err·|A∪B|
    // (OperatorSpec pins both envelopes and the small-overlap adversary
    // where inclusion-exclusion collapses). Sketch content is
    // hash-dependent => declared no-oracle.
    "q_agg_theta_intersect" -> ((s, d) => {
      val k = graft.functions.Theta.DefaultK
      val kmv = udaf(new graft.functions.KmvAggregator(k))
      val byStatus = Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(kmv(col("o_custkey")).as("sk"))
      val a = byStatus.select(col("o_orderstatus").as("grp_a"), col("sk").as("ska"))
      val b = byStatus.select(col("o_orderstatus").as("grp_b"), col("sk").as("skb"))
      a.join(b, col("grp_a") < col("grp_b"))
        .select(col("grp_a"), col("grp_b"),
          graft.functions.Theta.estimate(col("ska"), k).cast("long").as("est_a"),
          graft.functions.Theta.estimate(col("skb"), k).cast("long").as("est_b"),
          graft.functions.Theta.estimate(
            graft.functions.Theta.unionSketch(col("ska"), col("skb"), k), k)
            .cast("long").as("est_union"),
          graft.functions.Theta.intersectEstimate(col("ska"), col("skb"), k)
            .cast("long").as("est_intersect"))
        .orderBy("grp_a", "grp_b")
    }),

    // THETA OVERLAPS FROM STORAGE (r13 — VERDICT r12 #8): the same
    // pairwise-intersection question as q_agg_theta_intersect, answered
    // from the PERSISTED finest-grain KMV table instead of re-sketching
    // the fact per run (the q_agg_hll_stored economics, for the one
    // estimator HLL storage can't serve). KmvMergeAggregator unions the
    // stored Array[Long] sketches per status — exact sketch algebra, so
    // the estimates are IDENTICAL to direct sketching (spec-asserted,
    // plus a plan assertion that no fact scan appears). At 100 TB: every
    // pairwise overlap of any group combination from kilobytes of stored
    // sketches. Hash-dependent content => declared no-oracle.
    "q_agg_theta_stored" -> ((s, d) => {
      val k = graft.functions.Theta.DefaultK
      val kmvMerge = udaf(new graft.functions.KmvMergeAggregator(k))
      val byStatus = SketchStore.ordersCustomerKmv(s, d)
        .groupBy("o_orderstatus")
        .agg(kmvMerge(col("sk")).as("sk"))
      val a = byStatus.select(col("o_orderstatus").as("grp_a"), col("sk").as("ska"))
      val b = byStatus.select(col("o_orderstatus").as("grp_b"), col("sk").as("skb"))
      a.join(b, col("grp_a") < col("grp_b"))
        .select(col("grp_a"), col("grp_b"),
          graft.functions.Theta.estimate(col("ska"), k).cast("long").as("est_a"),
          graft.functions.Theta.estimate(col("skb"), k).cast("long").as("est_b"),
          graft.functions.Theta.intersectEstimate(col("ska"), col("skb"), k)
            .cast("long").as("est_intersect"))
        .orderBy("grp_a", "grp_b")
    }),

    // Rollups from a PERSISTED sketch table (SketchStore): the stored
    // per-(priority, status) HLL binaries union to per-status + ALL
    // estimates without touching the fact table — the query's only input
    // is kilobytes of sketches. Register-max union makes the estimates
    // identical to sketching the fact directly (spec-asserted equality);
    // approximate => no DuckDB oracle.
    "q_agg_hll_stored" -> ((s, d) => {
      val sk = SketchStore.ordersCustomerHll(s, d)
      val byStatus = sk.groupBy("o_orderstatus")
        .agg(expr("hll_union_agg(sk)").as("u"))
        .select(col("o_orderstatus").as("grp"),
          expr("hll_sketch_estimate(u)").cast("long").as("est_customers"))
      val all = sk.agg(expr("hll_union_agg(sk)").as("u"))
        .select(lit("ALL").as("grp"),
          expr("hll_sketch_estimate(u)").cast("long").as("est_customers"))
      byStatus.unionByName(all).orderBy("grp")
    }))

  /** Runs verbatim in both Spark and DuckDB. */
  val GroupingSetsSql: String =
    "SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS cnt " +
      "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
      "ORDER BY rf, ls"

  val oracles: Map[String, String] = Map(
    "q_agg_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_agg_distinct" ->
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS cd_cust, count(DISTINCT o_orderpriority) AS cd_prio, count(*) AS cnt FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "q_agg_incremental" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_rollup" ->
      ("SELECT COALESCE(n_name, 'ALL') AS nation, COALESCE(c_mktsegment, 'ALL') AS segment, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS cnt " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP(n_name, c_mktsegment) ORDER BY nation, segment"),
    "q_agg_cube" ->
      ("SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "count(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY status, priority"),
    "q_agg_grouping_sets" -> GroupingSetsSql,
    "q_agg_salted" ->
      ("SELECT l_returnflag, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) " +
        "AS sum_l_extendedprice FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_pivot" ->
      ("SELECT n_name, " +
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
          .map(sg => "CAST(SUM(CASE WHEN c_mktsegment = '" + sg +
            "' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS \"" + sg + "\"")
          .mkString(", ") +
        " FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_agg_unpivot" -> {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val base = "SELECT n_name, CAST(SUM(CASE WHEN c_mktsegment = '%s' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
      "SELECT n_name, segment, revenue FROM (" +
        segs.map(sg => s"SELECT n_name, '$sg' AS segment, revenue FROM (${base.format(sg)})")
          .mkString(" UNION ALL ") +
        ") WHERE revenue IS NOT NULL ORDER BY n_name, segment"
    },
    "q_agg_corr" ->
      ("SELECT l_returnflag, round(corr(l_extendedprice, l_discount), 6) + 0.0 AS corr_pd, " +
        "round(covar_samp(l_extendedprice, l_quantity), 4) + 0.0 AS cov_pq, count(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_collect" ->
      ("SELECT o_orderstatus, " +
        "array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities, " +
        "CAST(len(list_distinct(list(o_orderpriority))) AS INTEGER) AS n_distinct " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_agg_bool" ->
      ("SELECT o_orderpriority, " +
        "CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_big, " +
        "bool_and(o_totalprice > 0) AS all_positive, " +
        "bool_or(o_orderstatus = 'F') AS any_finished, count(*) AS cnt " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_agg_histogram" ->
      ("SELECT least(CAST(floor(l_extendedprice / 10000) AS BIGINT), 10) AS bucket, " +
        "count(*) AS cnt, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "q_agg_stats" ->
      ("SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "quantile_cont(l_quantity, 0.5) AS median_qty, " +
        "quantile_cont(l_quantity, 0.9) AS p90_qty, count(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_mode" ->
      ("WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
        "FROM orders GROUP BY 1, 2), " +
        "r AS (SELECT o_orderstatus, o_orderpriority, cnt, " +
        "row_number() OVER (PARTITION BY o_orderstatus " +
        "ORDER BY cnt DESC, o_orderpriority) AS rn FROM c) " +
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt " +
        "FROM r WHERE rn = 1 ORDER BY o_orderstatus"),
    "q_agg_percentile_cont" ->
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25), 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, " +
        "count(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))
}
