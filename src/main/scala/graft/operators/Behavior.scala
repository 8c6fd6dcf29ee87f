package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.14 — behavioral analytics over the event log: batch
  * sessionization, ordered funnels, cohort retention, and time-series
  * gap-filling. The batch complements of §2.9's streaming windows.
  *
  * Scale design: every query shuffles ONCE on user_id (the natural entity
  * key) and computes per-user state with windows or grouped aggregates —
  * never a self-join per event. Calendar spines (gap-fill) are generated
  * per-user with `sequence`, so the spine is computed where the user's rows
  * already live; no driver-side calendar broadcast. Timestamp arithmetic is
  * integer microseconds (unix_micros / epoch_us) — float seconds would
  * drift between engines.
  */
object Behavior {
  type Q = (SparkSession, String) => DataFrame

  private val GapUs: Long = 1800L * 1000000L // 30 min session gap

  /** Per-user EWMA (α = 0.5) over `events` (user_id, ts, event_id, value)
    * in (ts, event_id) order, as a SPILL-SAFE streaming fold: one hash
    * shuffle on user_id, an external sort within each partition (Spark's
    * sort spills to disk — no per-key array ever materializes), then a
    * mapPartitions pass whose state is THREE SCALARS per in-flight user
    * (current user, running ewma, count). A whale key costs O(1) executor
    * memory — the formulation the collect_list spelling (one in-memory
    * array per user inside an aggregation buffer) could not survive at
    * 100× with a bot user. The fold order and op sequence
    * (s' = 0.5·v + 0.5·s, seeded with the first value) are IDENTICAL to
    * the previous spelling and to DuckDB `list_reduce`, so results are
    * bit-equal (oracle hash unchanged; spec-asserted vs the collect_list
    * twin). Rows of one user are contiguous after the partition sort, so
    * the fold never needs cross-partition stitching. */
  private[graft] def ewmaByUser(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val sorted = events
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val folded = sorted.mapPartitions { it =>
      new Iterator[(Long, Int, Double)] {
        private var pending: (Long, Double) =
          if (it.hasNext) it.next() else null
        override def hasNext: Boolean = pending != null
        override def next(): (Long, Int, Double) = {
          val user = pending._1
          var acc = pending._2 // seed = first value in (ts, event_id) order
          var n = 1
          pending = null
          var done = false
          while (!done && it.hasNext) {
            val r = it.next()
            if (r._1 == user) { acc = 0.5 * r._2 + 0.5 * acc; n += 1 }
            else { pending = r; done = true }
          }
          (user, n, acc)
        }
      }
    }
    folded.toDF("user_id", "n_events", "ewma_raw")
      .select(col("user_id"), col("n_events"),
        round(col("ewma_raw"), 6).as("ewma"))
      .orderBy("user_id")
  }

  val queries: Map[String, Q] = Map(
    // Gap-based sessionization: a new session starts after >30 min of
    // silence. lag + conditional flag + running sum assigns session ids in
    // one window pass; two grouped passes compute per-user session stats.
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev", lag("us", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("us") - col("prev") > GapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("new_s").over(run))
        .groupBy("user_id", "sid").agg(count(lit(1)).as("s_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("s_events").as("n_events"),
          max("s_events").as("max_session_events"))
        .orderBy("user_id")
    }),

    // Ordered funnel signup -> view -> purchase: each stage requires an
    // event STRICTLY AFTER the previous stage's first completion (not just
    // any co-occurrence) — never an event-level self-join.
    // r19: ONE scan, ONE exchange. The original chained three grouped
    // passes (m1; m2 = min view after m1; m3 = min purchase after m2),
    // each a semi-join back on user_id — and because Catalyst does not
    // share common subtrees across a union, the s1 aggregate was
    // evaluated 3× and s2 2× (6 events scans in the physical plan). The
    // same three first-completion times now stack as conditional mins
    // over the user_id window partition: m1 = min(ts | signup),
    // m2 = min(ts | view ∧ ts > m1), m3 = min(ts | purchase ∧ ts > m2) —
    // each window reads the previous one's column, all three share the
    // one user_id exchange. Stage user-counts are then non-null counts
    // over the per-user frame (count(mK) ≡ the old per-stage group
    // count: a user reaches stage K iff mK is non-null), unstacked to
    // the same 3-row (stage, users) output.
    "q_funnel" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
      val perUser = Tables.events(s, d)
        .withColumn("m1",
          min(when(col("event_type") === "signup", col("ts"))).over(wu))
        .withColumn("m2",
          min(when(col("event_type") === "view" && col("ts") > col("m1"),
            col("ts"))).over(wu))
        .withColumn("m3",
          min(when(col("event_type") === "purchase" && col("ts") > col("m2"),
            col("ts"))).over(wu))
        .groupBy("user_id")
        .agg(max("m1").as("m1"), max("m2").as("m2"), max("m3").as("m3"))
      perUser
        .agg(count(col("m1")).as("c1"), count(col("m2")).as("c2"),
          count(col("m3")).as("c3"))
        .select(expr(
          "stack(3, '1_signup', c1, '2_then_view', c2, " +
            "'3_then_purchase', c3) as (stage, users)"))
        .orderBy("stage")
    }),

    // Cohort retention: users bucketed by first-event week (vs the dataset
    // epoch 2024-01-01), counted once per (cohort, week-offset) they remain
    // active in. Day-difference math, not date_trunc('week'), so week
    // boundaries cannot differ between engines.
    "q_retention" -> ((s, d) => {
      // r19: the per-user cohort anchor (first-event day) rides a window
      // over the same user_id partitioning the join would have shuffled
      // on — one scan and one exchange instead of two scans + a grouped
      // aggregate + a join back (guide §2.4). min(day) per user is
      // identical either way.
      val ev = Tables.events(s, d).select(col("user_id"), col("ts").cast("date").as("day"))
      ev.withColumn("day0", min("day").over(Window.partitionBy("user_id")))
        .select(col("user_id"),
          floor(datediff(col("day0"), lit("2024-01-01").cast("date")) / 7)
            .as("cohort_week"),
          floor(datediff(col("day"), col("day0")) / 7).as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Per-group feature standardization (z-score): each event's value
    // scaled by its event_type's mean/stddev — the feature-engineering
    // normalization step, as one grouped-stats pass broadcast back onto the
    // rows (window-over-group would shuffle the same once; the join form
    // keeps the stats frame tiny and broadcastable at any fact size).
    "q_normalize_z" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val stats = ev.groupBy("event_type")
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("v"),
          (round((col("value") - col("mu")) / col("sigma"), 4) + 0.0).as("z"))
        .orderBy("event_id")
    }),

    // Robust per-group outlier accounting (median/MAD — the robust
    // alternative to z-scores that one corrupt whale row cannot drag; the
    // data-quality gate run before training-data aggregation). Medians are
    // LOWER medians — the ceil(n/2)-th order statistic picked by
    // row_number, never an interpolated average: an order statistic is an
    // input value verbatim, so med, the residuals |x − med|, MAD (the
    // residuals' own order statistic) and the 6·MAD threshold compare
    // bit-identically in both engines with no rounding guard. Exact
    // medians don't merge, so this is two ranked passes by construction
    // (the one-pass mergeable path is q_agg_approx_quantile's sketch);
    // both windows shuffle once on event_type and the med/mad frames stay
    // group-cardinality-sized broadcasts.
    "q_anomaly_mad" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // r19 (second pass): ONE scan, ONE exchange — the med and mad order
      // statistics ride stacked windows over the SAME event_type
      // partitioning instead of two filtered one-row frames broadcast-
      // joined back onto two more derivations of the input (the previous
      // form still scanned events 3× across 3 Exchanges). The lower
      // median is picked exactly as before — row_number over
      // (value, event_id), the rank (n+1) div 2 — but instead of
      // filter + join, the picked value is replicated across its
      // partition as max(when(rn = target, v)) over the unordered frame
      // (a one-value conditional max: bit-identical selection, no
      // broadcast round-trip). resid, the second ranked pass, and the
      // final per-group aggregate all stay inside the one exchange
      // (guide §2.4: operations keyed the same way share one exchange);
      // the groupBy's input partitioning already matches, so Catalyst
      // plans no further shuffle before the output sort.
      val wPart = Window.partitionBy("event_type")
      val wVal = wPart.orderBy("value", "event_id")
      ev
        .withColumn("rnv", row_number().over(wVal))
        .withColumn("n", count(lit(1)).over(wPart))
        .withColumn("med",
          max(when(col("rnv") === expr("(n + 1) div 2"), col("value")))
            .over(wPart))
        .withColumn("resid", abs(col("value") - col("med")))
        .withColumn("rnr",
          row_number().over(wPart.orderBy("resid", "event_id")))
        .withColumn("mad",
          max(when(col("rnr") === expr("(n + 1) div 2"), col("resid")))
            .over(wPart))
        .groupBy("event_type")
        .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
          sum(when(col("resid") > col("mad") * 6, 1L).otherwise(0L))
            .as("n_outliers"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // Time-series gap-fill: a per-user daily calendar spine over the
    // observed span (sequence + explode — generated next to the user's
    // rows), zero-filled counts, and forward-filled last daily revenue.
    "q_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("value"))
      val daily = ev.groupBy("user_id", "day")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("rev"))
      val spine = ev.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("rev_ffill",
          round(last(col("rev"), ignoreNulls = true).over(w), 4))
        .select(col("user_id"), col("day"), col("cnt"), col("rev_ffill"))
        .orderBy("user_id", "day")
    }),

    // LINEAR INTERPOLATION over the daily spine — the resampling sibling
    // of q_gap_fill's forward-fill: missing days get
    // prev + (next − prev) · Δdays/span between the nearest OBSERVED
    // days on each side (the time-series resample every metrics pipeline
    // needs between "carry last value" and "model it"). The spine spans
    // [min, max] observed day per user, so interior gaps always have
    // both anchors — no extrapolation branch. Two mirrored
    // ignoreNulls window fills (last←, first→) carry (value, day)
    // anchors; the arithmetic is a fixed op sequence on integer day
    // diffs, round(4)'d — engine-stable. One user-keyed shuffle, frame
    // state is one anchor pair per row.
    "q_gap_interpolate" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("value"))
      val daily = ev.groupBy("user_id", "day")
        .agg(sum(col("value").cast("decimal(18,4)")).cast("double").as("rev"))
      val spine = ev.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val back = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("rev").isNotNull, col("day"))
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .withColumn("pv", last(col("rev"), ignoreNulls = true).over(back))
        .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
        .withColumn("nv", first(col("rev"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
        .select(col("user_id"), col("day"),
          col("rev").isNotNull.as("observed"),
          round(when(col("rev").isNotNull, col("rev")).otherwise(
            col("pv") + (col("nv") - col("pv")) *
              (datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double"))), 4)
            .as("rev_interp"))
        .orderBy("user_id", "day")
    }),

    // Per-user EWMA (α = 0.5) of event values in event-time order — the
    // exponential time-decay feature every behavioral scoring pipeline
    // computes (recency-weighted activity). Spill-safe streaming fold:
    // see [[ewmaByUser]] (O(1) state per user — a 10⁶-event whale costs
    // the same memory as a 10-event one, unlike the collect_list
    // formulation this replaced, whose one-array-per-user aggregation
    // buffer was the suite's single executor-OOM hazard at 100×). The
    // fold runs the identical IEEE op sequence as DuckDB `list_reduce`
    // seeded with the first element, so the result is bit-stable under
    // any partitioning — a float SUM would not be.
    "q_events_ewma" -> ((s, d) => ewmaByUser(Tables.events(s, d))),

    // First-order Markov transition matrix over the event stream: counts
    // of consecutive (from → to) event-type pairs within each user's
    // timeline — the navigation/journey model behind next-event
    // prediction and funnel discovery. ONE user-keyed window pass (lead)
    // + one partial-agg'd count on the (from, to) pair; type pairs are
    // tiny, so the second exchange carries ~|types|² rows per partition.
    "q_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("to_type", lead("event_type", 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("from_type", "to_type")
    }))

  val oracles: Map[String, String] = Map(
    "q_anomaly_mad" ->
      ("WITH n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1), " +
        "rk AS (SELECT event_type, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn FROM events), " +
        "med AS (SELECT rk.event_type, rk.value AS med FROM rk JOIN n USING (event_type) " +
        "WHERE rn = (n + 1) // 2), " +
        "wm AS (SELECT e.event_type, e.event_id, abs(e.value - med.med) AS resid, med.med " +
        "FROM events e JOIN med USING (event_type)), " +
        "rk2 AS (SELECT event_type, resid, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY resid, event_id) AS rn FROM wm), " +
        "mad AS (SELECT rk2.event_type, rk2.resid AS mad FROM rk2 JOIN n USING (event_type) " +
        "WHERE rn = (n + 1) // 2) " +
        "SELECT wm.event_type, min(wm.med) AS med, min(mad.mad) AS mad, " +
        "CAST(sum(CASE WHEN wm.resid > mad.mad * 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "count(*) AS cnt " +
        "FROM wm JOIN mad USING (event_type) GROUP BY wm.event_type ORDER BY wm.event_type"),
    "q_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "f AS (SELECT user_id, us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap, " +
        "CASE WHEN (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) IS NULL " +
        s"OR (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) > $GapUs THEN 1 ELSE 0 END AS new_s, " +
        "us, event_id FROM e), " +
        "g AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f), " +
        "h AS (SELECT user_id, sid, count(*) AS s_events FROM g GROUP BY user_id, sid) " +
        "SELECT user_id, count(*) AS n_sessions, CAST(SUM(s_events) AS BIGINT) AS n_events, " +
        "max(s_events) AS max_session_events FROM h GROUP BY user_id ORDER BY user_id"),
    "q_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS m1 FROM events WHERE event_type = 'signup' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(ts) AS m2 FROM events e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'view' AND ts > m1 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(ts) AS m3 FROM events e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'purchase' AND ts > m2 GROUP BY e.user_id) " +
        "SELECT stage, users FROM (" +
        "SELECT '1_signup' AS stage, count(*) AS users FROM s1 " +
        "UNION ALL SELECT '2_then_view', count(*) FROM s2 " +
        "UNION ALL SELECT '3_then_purchase', count(*) FROM s3) ORDER BY stage"),
    "q_retention" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "c AS (SELECT user_id, min(day) AS day0 FROM ev GROUP BY user_id), " +
        "x AS (SELECT DISTINCT ev.user_id, " +
        "CAST(floor(date_diff('day', DATE '2024-01-01', day0) / 7.0) AS BIGINT) AS cohort_week, " +
        "CAST(floor(date_diff('day', day0, day) / 7.0) AS BIGINT) AS week_offset " +
        "FROM ev JOIN c USING (user_id)) " +
        "SELECT cohort_week, week_offset, count(*) AS users FROM x " +
        "GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"),
    "q_normalize_z" ->
      ("WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma " +
        "FROM events GROUP BY event_type) " +
        "SELECT event_id, e.event_type AS event_type, round(value, 4) AS v, " +
        "round((value - mu) / sigma, 4) + 0.0 AS z " +
        "FROM events e JOIN s ON e.event_type = s.event_type ORDER BY event_id"),
    "q_gap_fill" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events WHERE user_id < 20), " +
        "daily AS (SELECT user_id, day, count(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev FROM ev GROUP BY user_id, day), " +
        "span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY user_id), " +
        "spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span) " +
        "SELECT s.user_id, s.day, COALESCE(cnt, 0) AS cnt, " +
        "round(last_value(rev IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS rev_ffill " +
        "FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day " +
        "ORDER BY s.user_id, s.day"),
    "q_gap_interpolate" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events WHERE user_id < 20), " +
        "daily AS (SELECT user_id, day, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev FROM ev GROUP BY user_id, day), " +
        "span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY user_id), " +
        "spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span), " +
        "j AS (SELECT s.user_id, s.day, d.rev FROM spine s " +
        "LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day), " +
        "f AS (SELECT user_id, day, rev, " +
        "last_value(rev IGNORE NULLS) OVER wb AS pv, " +
        "last_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pd, " +
        "first_value(rev IGNORE NULLS) OVER wf AS nv, " +
        "first_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd " +
        "FROM j WINDOW " +
        "wb AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, day, rev IS NOT NULL AS observed, " +
        "round(CASE WHEN rev IS NOT NULL THEN rev ELSE " +
        "pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE) / " +
        "CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 4) AS rev_interp " +
        "FROM f ORDER BY user_id, day"),
    "q_events_ewma" ->
      ("WITH g AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs " +
        "FROM events GROUP BY user_id) " +
        "SELECT user_id, CAST(len(vs) AS INTEGER) AS n_events, " +
        "round(list_reduce(vs, (s, v) -> 0.5 * v + 0.5 * s), 6) AS ewma " +
        "FROM g ORDER BY user_id"),
    "q_event_transitions" ->
      ("WITH t AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events) " +
        "SELECT event_type AS from_type, to_type, count(*) AS cnt FROM t " +
        "WHERE to_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"))
}
