package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GeoOps, KeyOps}

/** SURVEY.md §2.12 — data-model mappings the reference's entity model
  * carries that the testdata schema doesn't exercise directly: hierarchical
  * ancestor keys and GeoPoint properties [U: reference checkout empty —
  * public Datastore data model]. Both are exercised over DERIVED columns
  * (paths built from natural keys; coordinates derived deterministically
  * from keys) so the DuckDB oracle can rebuild the identical values.
  */
object DataModel {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Ancestor-path keys: aggregate children per parent — the Datastore
    // "ancestor query" shape as one hash aggregate. The shuffle and the
    // aggregate run on the NATURAL keys (bigint order key, int min-line);
    // the kind/id path strings are built AFTER the limit(200) — constant
    // work — via the same KeyOps path builders. Round 2 grouped on the
    // built path string: 150k `orders/<id>` strings through the shuffle
    // plus a string min-aggregate, pure plan tax for identical output.
    "q_key_hierarchy" -> ((s, d) => {
      // r19: fanOutBy(l_orderkey) — the single-row-group scan otherwise
      // runs the 150k-key partial aggregate in one task; hashing on the
      // group key parallelizes it with no second exchange.
      Tables.fanOutBy(Tables.lineitem(s, d), col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("children"), min(col("l_linenumber")).as("min_line"))
        .orderBy("l_orderkey")
        .limit(200)
        .withColumn("parent", KeyOps.keyPath("orders" -> col("l_orderkey")))
        .withColumn("first_child", KeyOps.keyPath(
          "orders" -> col("l_orderkey"), "lineitem" -> col("min_line")))
        .withColumn("parent_id", KeyOps.idAt(col("parent"), 0))
        .withColumn("parent_kind", KeyOps.kindAt(col("parent"), 0))
        .select("parent", "parent_kind", "parent_id", "children", "first_child")
        .orderBy("parent_id")
    }),

    // GeoPoint: deterministic per-key coordinates (same arithmetic in the
    // oracle), haversine distance from each customer to its nation's
    // derived point, plus the 5-degree grid cell that a spatial join would
    // co-shuffle on. round(4) absorbs last-ulp libm divergence.
    "q_geo_distance" -> ((s, d) => {
      def latOf(k: org.apache.spark.sql.Column) =
        ((k * lit(7919L)) % lit(18000L)).cast("double") / lit(100.0) - lit(90.0)
      def lonOf(k: org.apache.spark.sql.Column) =
        ((k * lit(104729L)) % lit(36000L)).cast("double") / lit(100.0) - lit(180.0)
      val cust = Tables.customer(s, d)
        .withColumn("c_lat", latOf(col("c_custkey")))
        .withColumn("c_lon", lonOf(col("c_custkey")))
      val nat = Tables.nation(s, d)
        .withColumn("n_lat", latOf(col("n_nationkey").cast("long")))
        .withColumn("n_lon", lonOf(col("n_nationkey").cast("long")))
        .select(col("n_nationkey"), col("n_lat"), col("n_lon"))
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("c_custkey"),
          (round(col("c_lat"), 4) + 0.0).as("lat"),
          (round(col("c_lon"), 4) + 0.0).as("lon"),
          round(GeoOps.haversineKm(
            col("c_lat"), col("c_lon"), col("n_lat"), col("n_lon")), 4)
            .as("dist_km"),
          GeoOps.cellId(col("c_lat"), col("c_lon"), 5.0).as("cell"))
        .orderBy("c_custkey")
    }),

    // SPATIAL RADIUS SELF-JOIN via complete grid blocking — the geo twin
    // of q_join_interval's bucket blocking: customer points (deterministic
    // synthetic lat/lon, same formulas as q_geo_distance) paired within
    // 500 km WITHOUT an all-pairs cross join. The blocking scheme and its
    // completeness argument live in GeoOps.radiusSelfJoinKm (5° lat bands
    // + 15° lon cells mod 24 + polar catch-alls, ×9 probe window, exact
    // haversine confirm); PropertySpec drives the helper against brute
    // force on generated corpora including polar and ±180°-wraparound
    // points. Oracle = the brute-force cross join — the blocking must be
    // invisible in the result.
    "q_geo_neighbors" -> ((s, d) => {
      def latOf(k: org.apache.spark.sql.Column) =
        ((k * lit(7919L)) % lit(18000L)).cast("double") / lit(100.0) - lit(90.0)
      def lonOf(k: org.apache.spark.sql.Column) =
        ((k * lit(104729L)) % lit(36000L)).cast("double") / lit(100.0) - lit(180.0)
      val pts = Tables.customer(s, d)
        .select(col("c_custkey").as("k"))
        .withColumn("lat", latOf(col("k")))
        .withColumn("lon", lonOf(col("k")))
      GeoOps.radiusSelfJoinKm(pts, 500.0).orderBy("da", "db")
    }),

    // Graph analytics: GENERIC connected components (Dedup's hybrid
    // union-find / min-label-propagation engine) run over a chain graph —
    // consecutive custkeys within each nation — whose true components are
    // known by construction (one per nation, labeled by its min custkey),
    // giving an exact oracle for an iterative graph algorithm. Nodes
    // without edges (single-customer nations) stay their own singleton
    // component via the left join.
    "q_graph_components" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      val edges = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"))
        .withColumn("prev", lag("c_custkey", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("da"), col("c_custkey").as("db"))
      val labels = Dedup.connectedComponents(edges)
        .toDF("c_custkey", "component")
      Tables.customer(s, d).select("c_custkey")
        .join(labels, Seq("c_custkey"), "left")
        .withColumn("component", coalesce(col("component"), col("c_custkey")))
        .orderBy("c_custkey")
    }),

    // Fixed-iteration PageRank (2 power iterations, d=0.85) over the same
    // chain graph — the iterative-numeric graph shape (each iteration: one
    // contributions shuffle keyed by dst + a broadcast of the scalar N).
    // Chain degrees are ≤2, so per-node inflow sums have ≤2 terms and the
    // result is floating-point-stable across engines; the oracle is the
    // identical recurrence as chained CTEs. At 100 TB the loop shape is
    // unchanged — per-round localCheckpoint (as in connectedComponents)
    // truncates lineage; rounds are O(iterations), not data size.
    "q_graph_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy("cur")
      val chain = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey").as("cur"))
        .withColumn("prev", lag("cur", 1).over(w))
        .filter(col("prev").isNotNull)
      // r19: materialize the frames the iterative plan re-references —
      // lazy, Catalyst re-derived the whole lag-window subtree once per
      // reference (the before-plan is 218 physical ops / 33 Exchanges /
      // 20 scans; edges feeds contrib in every round, nodes feeds r0 and
      // every round's left join, deg every round's divisor). This IS the
      // per-round lineage truncation the scaladoc promises (same device
      // as connectedComponents); after: 65 ops / 7 Exchanges / 10 scans
      // (of the materialized RDDs, not re-derived windows).
      val edges = chain.select(col("prev").as("src"), col("cur").as("dst"))
        .unionByName(chain.select(col("cur").as("src"), col("prev").as("dst")))
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint()
      val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
      def step(prev: DataFrame): DataFrame = {
        val contrib = edges
          .join(prev.withColumnRenamed("node", "src"), "src")
          .join(deg, "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("r") / col("d")).as("inflow"))
        nodes.crossJoin(broadcast(nn))
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(0.15) / col("n") + lit(0.85) * coalesce(col("inflow"), lit(0.0)))
              .as("r"))
      }
      val r0 = nodes.crossJoin(broadcast(nn))
        .select(col("node"), (lit(1.0) / col("n")).as("r"))
      step(step(r0))
        .select(col("node"), round(col("r") * 1000, 6).as("rank_k"))
        .orderBy("node").limit(200)
    }),

    // Snapshot diff — the audit every mutation verb / backfill / migration
    // needs: classify every key of two keyed snapshots as inserted /
    // deleted / updated / unchanged in ONE full-outer co-shuffle on the
    // key plus a null-safe struct compare, never a row-by-row driver loop.
    // The "new" snapshot is a deterministic in-query mutation of orders
    // (delete keys ≡0 mod 97, bump o_totalprice on keys ≡0 mod 50, insert
    // key+10M copies of keys ≡0 mod 1000) so the DuckDB oracle rebuilds
    // both sides bit-identically — the DIFF operator is the declared op,
    // the mutation is just reproducible input. At 100 TB: snapshots
    // bucketed on the key diff with ZERO Exchange (q_join_bucketed's
    // layout); the classify expression is map-side; the count aggregate
    // partial-merges to 4 rows per partition.
    "q_table_diff" -> ((s, d) => {
      val old = Tables.orders(s, d)
      snapshotDiff(old, tableDiffNewSnapshot(old), "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
    }),

    // CDC changelog apply (the Datastore mutation-log → snapshot compaction
    // [U: reference checkout empty — public CDC/lakehouse-merge semantics],
    // and the standard CDC MERGE every ingest pipeline runs): a keyed
    // changelog of upserts and tombstones with per-key sequence numbers
    // folds into a base snapshot — last writer wins, deletes remove. ONE
    // shuffle on the key: base rows enter the fold as seq-0 upserts, log
    // rows at their seq, a single row_number window picks each key's
    // latest, tombstones filter out AFTER winning (a delete must beat an
    // earlier update, not coexist with it). The changelog is a
    // deterministic derivation of orders (update on ≡0 mod 31; a SECOND
    // competing update on ≡0 mod 62 proving last-writer-wins; delete on
    // ≡0 mod 97 — which also tombstones some updated keys; insert of fresh
    // keys on ≡0 mod 1000) so DuckDB rebuilds it bit-identically — the
    // APPLY is the declared operator, the log is reproducible input. At
    // 100 TB: base bucketed on the key (q_join_bucketed's layout) makes
    // the window Exchange-free on the base side; the log co-shuffles at
    // delta size, never base size.
    "q_cdc_apply" -> ((s, d) => {
      val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      cdcApply(base, cdcChangelog(Tables.orders(s, d)), "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // Triangle counting (the clustering-coefficient / community-density
    // primitive) via the oriented two-wedge join: edges deduped to
    // src < dst so each triangle is generated exactly once as
    // (a<b)⋈(b<c)⋈(a<c) — two equi-joins, no candidate ever counted
    // twice, no driver iteration. The graph is deterministic (each
    // customer links to the next 1 and 2 custkeys in its nation's rank
    // order ⇒ every consecutive rank triple closes a triangle), so the
    // DuckDB oracle runs the identical 3-way join. At 100 TB the
    // orientation is BY DEGREE (low-degree endpoint first — the standard
    // wedge-bound trick that caps intermediate wedges at Σ deg(v)²
    // over low-degree vertices); id-order here is the same plan shape on
    // a bounded-degree graph.
    "q_graph_triangles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      val ranked = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_custkey"))
        .withColumn("rk", row_number().over(w))
      val r2 = ranked.select(col("c_nationkey").as("nk2"),
        col("c_custkey").as("dst"), col("rk").as("rkd"))
      // r19: the edge list feeds three consumers (both wedge sides inside
      // triangleCount plus the nk ownership join); lazy, Catalyst expanded
      // the rank-window + self-join subtree once per consumer (93 ops, 18
      // Exchanges in the before-plan). One materialization per execution
      // truncates that to the triangle joins themselves.
      val edges = ranked
        .join(r2, col("c_nationkey") === col("nk2") &&
          (col("rkd") - col("rk")).isin(1, 2))
        .select(col("c_nationkey").as("nk"), col("c_custkey").as("src"),
          col("dst"))
        .localCheckpoint()
      triangleCount(edges.select("src", "dst"))
        .join(edges.select(col("src").as("a"), col("nk")).distinct(), Seq("a"))
        .groupBy("nk").agg(sum(col("tri")).as("triangles"))
        .withColumnRenamed("nk", "c_nationkey")
        .orderBy("c_nationkey")
    }),

    // Slowly-changing-dimension Type-2 build (Kimball): collapse each
    // customer's order-status timeline into versioned rows with
    // [valid_from, valid_to) ranges and an is_current flag — the
    // entity-history shape a Datastore-style mutation log compacts into.
    // Two windows over ONE shuffle: both partitionBy(o_custkey) with the
    // same (o_orderdate, o_orderkey) sort, so Catalyst plans a single
    // Exchange+Sort and the lag/lead run back-to-back. The o_orderkey
    // tiebreak makes same-day status flips deterministic on both engines.
    "q_scd2_history" -> ((s, d) =>
      scd2History(Tables.orders(s, d)
        .filter(col("o_custkey") < 500)
        .select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
          col("o_orderstatus").as("status"), col("o_orderdate").as("ts")))
        .withColumnRenamed("k", "o_custkey")),

    // The SCD2 CONSUMER: effective-dated dimension lookup — each lineitem
    // enriched with the customer-status VERSION valid at SHIP time (which
    // can differ from the status at order time; n_drifted counts exactly
    // those). The point-in-time join every Kimball mart runs: equi-join
    // on the ENTITY key, then the [valid_from, valid_to) interval
    // predicate filters the bounded per-key version fan-out
    // (#changes + 1 rows per customer) — no blocking machinery needed,
    // unlike q_join_interval's keyless ranges. Half-open intervals make
    // boundary dates land in exactly one version (a same-day flip's
    // zero-length interval matches nothing), and every ship date ≥ its
    // order date ≥ the customer's first version start, so coverage is
    // total — both facts the oracle re-derives independently.
    "q_join_scd2_lookup" -> ((s, d) => {
      val dim = scd2History(Tables.orders(s, d)
        .filter(col("o_custkey") < 500)
        .select(col("o_custkey").as("k"), col("o_orderkey").as("seq"),
          col("o_orderstatus").as("status"), col("o_orderdate").as("ts")))
      val facts = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_custkey") < 500),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("k"), col("o_orderstatus"),
          col("l_shipdate"), col("l_quantity"))
      facts.join(dim, Seq("k"))
        .filter(col("valid_from") <= col("l_shipdate") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
        .select(col("status").as("status_at_ship"),
          (col("status") =!= col("o_orderstatus")).cast("int").as("drifted"),
          col("l_quantity"))
        .groupBy("status_at_ship")
        .agg(count(lit(1)).as("n_items"),
          sum(col("drifted")).as("n_drifted"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("status_at_ship")
    }))

  /** Generic SCD Type-2 collapse (the q_scd2_history engine, parameterized
    * so PropertySpec can drive it with generated mutation logs against a
    * brute-force fold). Input: (k, seq, status, ts) — `seq` is the unique
    * tiebreak for equal-ts events. Output: (k, status, valid_from,
    * valid_to, is_current) ordered by (k, valid_from, status). */
  private[graft] def scd2History(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy("ts", "seq")
    events
      .withColumn("prev_status", lag("status", 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("status"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("k"), col("status"), col("ts").as("valid_from"),
        col("valid_to"), when(col("valid_to").isNull, 1).otherwise(0)
          .as("is_current"))
      .orderBy("k", "valid_from", "status")
  }

  /** The deterministic "new" snapshot q_table_diff audits against: ~1% of
    * keys deleted, ~2% updated (price bump), ~0.1% re-inserted under fresh
    * keys (base+10M — far above any testdata orderkey, which tops out at
    * 6M even at TPC-H SF1 sparsity). */
  private[graft] def tableDiffNewSnapshot(orders: DataFrame): DataFrame = {
    val kept = orders.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(50)) === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val inserted = orders.filter(pmod(col("o_orderkey"), lit(1000)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
    kept.unionByName(inserted)
  }

  /** Generic CDC fold: apply a keyed changelog (op ∈ {U, D}, per-key `seq`
    * ordering, payload columns matching `base`) to a base snapshot. Base
    * rows enter as seq-0 upserts; one row_number window per key picks the
    * latest op; 'D' winners tombstone the key. Exactly one shuffle on the
    * key. Requires per-key-unique seqs (op breaks a malformed tie
    * deterministically: 'D' sorts before 'U' descending ⇒ delete wins). */
  /** INCREMENTAL VIEW MAINTENANCE of a grouped (count, sum) from a
    * commit-log CHANGE FEED (r11 — the reason
    * [[graft.sources.CommitLog.changesSince]] emits pre-images): every
    * change row carries an algebraic sign — +1 for insert /
    * update_postimage, −1 for update_preimage / delete — so the delta to
    * any per-group COUNT or SUM is itself one small aggregation of the
    * feed, applied to the stored state with a full-outer join. Emptied
    * groups drop out (their cnt nets to 0); groups only the delta knows
    * appear. Exactness contract: pass an exact-typed `valCol` (decimal,
    * long) and the maintained state is bit-equal to recomputing from
    * scratch — the oracle gates exactly that. At 100 TB: refreshing a
    * dashboard aggregate after a merge costs the CHANGESET's scan plus a
    * shuffle of the delta's groups, never the table's — the materialized-
    * view maintenance every warehouse sells, derived here from the log.
    * State schema: (groupCol, cnt: long, total: valCol's type summed). */
  def maintainAggFromChanges(state: DataFrame, changes: DataFrame,
      groupCol: String, valCol: String): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val delta = changes.groupBy(groupCol).agg(
      sum(sign).as("__dcnt"),
      sum(col(valCol) * sign).as("__dsum"))
      .withColumnRenamed(groupCol, "__dg")
    // NULL-SAFE group equality: a plain equi-join would never match the
    // null group, leaving the state's null-group row and the delta's
    // null-group row side by side instead of merged
    state.join(delta, col(groupCol) <=> col("__dg"), "full_outer")
      .select(coalesce(col(groupCol), col("__dg")).as(groupCol),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dcnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("total"), lit(0)) + coalesce(col("__dsum"), lit(0)))
          .as("total"))
      .filter(col("cnt") > 0)
  }

  def cdcApply(base: DataFrame, log: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = base.withColumn("seq", lit(0L)).withColumn("op", lit("U"))
    val w = Window.partitionBy(key).orderBy(col("seq").desc, col("op"))
    b.unionByName(log)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn", "seq", "op")
  }

  /** VERSIONED CDC merge — the incremental-fold sibling of [[cdcApply]].
    * Both inputs carry the full (payload, seq, op) shape and the output
    * KEEPS the winning row's seq and op, tombstones included: a 'D' winner
    * stays in the snapshot as a marker instead of silently vanishing.
    * That retained version is what makes the fold ASSOCIATIVE under any
    * batch split of the changelog — even when a later micro-batch delivers
    * a lower-seq row for a key an earlier batch already updated or deleted
    * (cross-batch disorder), the stale row loses to the stored seq, which
    * [[cdcApply]]'s fold cannot do (it resets base rows to seq 0, so any
    * late log row would beat them; it needs per-key batch-monotone
    * delivery). This is the log-compaction contract (Kafka compacted
    * topics, LSM tombstones): merge by highest version, keep tombstones
    * until a GC horizon. One shuffle on the key per merge.
    *
    * The live view is `.filter(op =!= "D").drop("seq", "op")`
    * ([[cdcLiveView]]); tombstone GC is a plain filter `seq >= horizon OR
    * op =!= "D"` once every producer has passed `horizon` — the same
    * horizon reasoning as streaming watermarks. */
  def cdcMerge(prev: DataFrame, batch: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(col("seq").desc, col("op"))
    prev.unionByName(batch)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** The queryable state of a [[cdcMerge]] snapshot: tombstones out,
    * version bookkeeping dropped. */
  def cdcLiveView(snapshot: DataFrame): DataFrame =
    snapshot.filter(col("op") =!= "D").drop("seq", "op")

  /** The deterministic changelog q_cdc_apply folds: an update wave (seq 1,
    * +5.00 on keys ≡0 mod 31), a COMPETING second wave (seq 2, +7.00 on
    * ≡0 mod 62 — every such key also matched wave 1, so last-writer-wins is
    * exercised on real collisions), tombstones (seq 3, ≡0 mod 97 — some of
    * which kill updated keys), and inserts of fresh keys (≡0 mod 1000,
    * +20M — beyond any testdata orderkey). */
  private[graft] def cdcChangelog(orders: DataFrame): DataFrame = {
    // r19: ONE orders scan emitting all four change waves per row via a
    // codegen'd explode + null filter — the union-of-filtered-scans form
    // read the orders parquet four times per execution. Same rows (union
    // order is immaterial: cdcApply's window orders by (seq desc, op) and
    // no key carries duplicate (seq, op) pairs across waves).
    def waveStruct(filterMod: Int, seq: Long, op: String,
        key: org.apache.spark.sql.Column,
        price: org.apache.spark.sql.Column) =
      when(pmod(col("o_orderkey"), lit(filterMod)) === 0,
        struct(key.as("o_orderkey"), price.as("o_totalprice"),
          lit(seq).as("seq"), lit(op).as("op")))
    orders
      .select(explode(array(
        waveStruct(31, 1L, "U", col("o_orderkey"),
          col("o_totalprice") + lit(5.0)),
        waveStruct(62, 2L, "U", col("o_orderkey"),
          col("o_totalprice") + lit(7.0)),
        waveStruct(97, 3L, "D", col("o_orderkey"), col("o_totalprice")),
        waveStruct(1000, 1L, "U", col("o_orderkey") + lit(20000000L),
          lit(1.0)))).as("w"))
      .filter(col("w").isNotNull)
      .select(col("w.o_orderkey"), col("w.o_totalprice"), col("w.seq"),
        col("w.op"))
  }

  /** Generic oriented triangle count. Edges are canonicalized to u < v and
    * deduped, so each undirected edge appears once and each triangle is
    * generated exactly once as (a<b)⋈(b<c)⋈(a<c) — two equi-joins, never a
    * cartesian. Returns per-apex counts (a, tri); sum(tri) is the global
    * count. Scale: for skewed graphs swap the id orientation for DEGREE
    * orientation (low-degree endpoint first) — identical plan, and the
    * wedge intermediate is bounded by Σ_v deg⁻(v)² over the oriented
    * out-degrees instead of the raw degree squares. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val e1 = e.select(col("u").as("a"), col("v").as("b"))
    val e2 = e.select(col("u").as("b"), col("v").as("c"))
    val e3 = e.select(col("u").as("a3"), col("v").as("c3"))
    e1.join(e2, Seq("b"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .groupBy("a").agg(count(lit(1)).as("tri"))
  }

  /** Generic keyed snapshot diff: full-outer join on `key`, null-safe
    * compare of the `compare` columns packed as ONE struct (a single
    * codegen'd `<=>`, not N boolean ANDs), per-class counts. Exposed so
    * callers can diff real snapshot pairs (e.g. two AtomicSwap
    * generations) with any column subset. */
  def snapshotDiff(oldS: DataFrame, newS: DataFrame, key: String,
      compare: Seq[String]): DataFrame = {
    val o = oldS.select(col(key).as("k"), struct(compare.map(col): _*).as("ov"))
    val n = newS.select(col(key).as("k"), struct(compare.map(col): _*).as("nv"))
    o.join(n, Seq("k"), "full_outer")
      .select(when(col("ov").isNull, lit("inserted"))
        .when(col("nv").isNull, lit("deleted"))
        .when(col("ov") <=> col("nv"), lit("unchanged"))
        .otherwise(lit("updated")).as("change_type"))
      .groupBy("change_type").agg(count(lit(1)).as("cnt"))
      .orderBy("change_type")
  }

  val oracles: Map[String, String] = Map(
    "q_cdc_apply" ->
      ("WITH log AS (" +
        "SELECT o_orderkey, o_totalprice + 5.0 AS o_totalprice, 1 AS seq, 'U' AS op FROM orders WHERE o_orderkey % 31 = 0 " +
        "UNION ALL SELECT o_orderkey, o_totalprice + 7.0, 2, 'U' FROM orders WHERE o_orderkey % 62 = 0 " +
        "UNION ALL SELECT o_orderkey, o_totalprice, 3, 'D' FROM orders WHERE o_orderkey % 97 = 0 " +
        "UNION ALL SELECT o_orderkey + 20000000, 1.0, 1, 'U' FROM orders WHERE o_orderkey % 1000 = 0), " +
        "allr AS (SELECT o_orderkey, o_totalprice, 0 AS seq, 'U' AS op FROM orders " +
        "UNION ALL SELECT * FROM log), " +
        "r AS (SELECT o_orderkey, o_totalprice, op, " +
        "row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC, op) AS rn FROM allr) " +
        "SELECT o_orderkey, o_totalprice FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"),
    "q_graph_triangles" ->
      ("WITH rk AS (SELECT c_nationkey, c_custkey, " +
        "row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rk FROM customer), " +
        "e AS (SELECT a.c_nationkey AS nk, a.c_custkey AS u, b.c_custkey AS v " +
        "FROM rk a JOIN rk b ON a.c_nationkey = b.c_nationkey AND b.rk - a.rk IN (1, 2)), " +
        "t AS (SELECT e1.nk FROM e e1 JOIN e e2 ON e1.v = e2.u " +
        "JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) " +
        "SELECT nk AS c_nationkey, count(*) AS triangles FROM t " +
        "GROUP BY nk ORDER BY c_nationkey"),
    "q_table_diff" ->
      ("WITH newsnap AS (" +
        "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderpriority FROM orders WHERE o_orderkey % 97 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderkey % 1000 = 0), " +
        "j AS (SELECT CASE WHEN o.o_orderkey IS NULL THEN 'inserted' " +
        "WHEN n.o_orderkey IS NULL THEN 'deleted' " +
        "WHEN (o.o_custkey IS NOT DISTINCT FROM n.o_custkey) " +
        "AND (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) " +
        "AND (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) " +
        "AND (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) " +
        "THEN 'unchanged' ELSE 'updated' END AS change_type " +
        "FROM orders o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey) " +
        "SELECT change_type, count(*) AS cnt FROM j GROUP BY change_type ORDER BY change_type"),
    "q_scd2_history" ->
      ("WITH chg AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate, " +
        "lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status " +
        "FROM orders WHERE o_custkey < 500), " +
        "pts AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM chg " +
        "WHERE prev_status IS NULL OR prev_status <> o_orderstatus) " +
        "SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from, " +
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to, " +
        "CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL " +
        "THEN 1 ELSE 0 END AS is_current " +
        "FROM pts ORDER BY o_custkey, valid_from, status"),
    "q_join_scd2_lookup" ->
      ("WITH chg AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate, " +
        "lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status " +
        "FROM orders WHERE o_custkey < 500), " +
        "pts AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM chg " +
        "WHERE prev_status IS NULL OR prev_status <> o_orderstatus), " +
        "ver AS (SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from, " +
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to FROM pts), " +
        "f AS (SELECT o.o_custkey, o.o_orderstatus, l.l_shipdate, l.l_quantity " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey < 500), " +
        "j AS (SELECT v.status AS status_at_ship, " +
        "CASE WHEN v.status <> f.o_orderstatus THEN 1 ELSE 0 END AS drifted, f.l_quantity " +
        "FROM f JOIN ver v ON f.o_custkey = v.o_custkey " +
        "AND v.valid_from <= f.l_shipdate AND (v.valid_to IS NULL OR f.l_shipdate < v.valid_to)) " +
        "SELECT status_at_ship, count(*) AS n_items, CAST(SUM(drifted) AS BIGINT) AS n_drifted, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty " +
        "FROM j GROUP BY 1 ORDER BY 1"),
    "q_graph_components" ->
      ("SELECT c_custkey, min(c_custkey) OVER (PARTITION BY c_nationkey) AS component " +
        "FROM customer ORDER BY c_custkey"),
    "q_graph_pagerank" ->
      ("WITH chain AS (SELECT lag(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS prev, c_custkey AS cur FROM customer), " +
        "edges AS (SELECT prev AS src, cur AS dst FROM chain WHERE prev IS NOT NULL " +
        "UNION ALL SELECT cur AS src, prev AS dst FROM chain WHERE prev IS NOT NULL), " +
        "vtx AS (SELECT DISTINCT src AS node FROM edges), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vtx), " +
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src), " +
        "pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM vtx), " +
        "pr1 AS (SELECT nd.node, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(SUM(pr0.r / deg.d), 0) AS r " +
        "FROM vtx nd LEFT JOIN edges ON edges.dst = nd.node " +
        "LEFT JOIN pr0 ON pr0.node = edges.src LEFT JOIN deg ON deg.src = edges.src GROUP BY nd.node), " +
        "pr2 AS (SELECT nd.node, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE(SUM(pr1.r / deg.d), 0) AS r " +
        "FROM vtx nd LEFT JOIN edges ON edges.dst = nd.node " +
        "LEFT JOIN pr1 ON pr1.node = edges.src LEFT JOIN deg ON deg.src = edges.src GROUP BY nd.node) " +
        "SELECT node, round(r * 1000, 6) AS rank_k FROM pr2 ORDER BY node LIMIT 200"),
    "q_key_hierarchy" ->
      ("SELECT 'orders/' || CAST(l_orderkey AS VARCHAR) AS parent, 'orders' AS parent_kind, " +
        "l_orderkey AS parent_id, count(*) AS children, " +
        "'orders/' || CAST(l_orderkey AS VARCHAR) || '/lineitem/' || CAST(min(l_linenumber) AS VARCHAR) AS first_child " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY parent_id LIMIT 200"),
    "q_geo_distance" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, " +
        "CAST((c_custkey * 7919) % 18000 AS DOUBLE) / 100.0 - 90.0 AS c_lat, " +
        "CAST((c_custkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0 AS c_lon FROM customer), " +
        "n AS (SELECT n_nationkey, " +
        "CAST((n_nationkey * 7919) % 18000 AS DOUBLE) / 100.0 - 90.0 AS n_lat, " +
        "CAST((n_nationkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0 AS n_lon FROM nation) " +
        "SELECT c_custkey, round(c_lat, 4) + 0.0 AS lat, round(c_lon, 4) + 0.0 AS lon, " +
        "round(2 * 6371.0088 * asin(sqrt(" +
        "pow(sin(radians(n_lat - c_lat) / 2), 2) + " +
        "cos(radians(c_lat)) * cos(radians(n_lat)) * pow(sin(radians(n_lon - c_lon) / 2), 2)" +
        ")), 4) AS dist_km, " +
        "CAST(floor((c_lat + 90.0) / 5.0) AS BIGINT) * 72 + CAST(floor((c_lon + 180.0) / 5.0) AS BIGINT) AS cell " +
        "FROM c JOIN n ON c_nationkey = n_nationkey ORDER BY c_custkey"),
    // brute-force cross join: the grid blocking must be invisible here
    "q_geo_neighbors" ->
      ("WITH c AS (SELECT c_custkey AS k, " +
        "CAST((c_custkey * 7919) % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat, " +
        "CAST((c_custkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon FROM customer), " +
        "p AS (SELECT a.k AS da, b.k AS db, " +
        "round(2 * 6371.0088 * asin(sqrt(" +
        "pow(sin(radians(b.lat - a.lat) / 2), 2) + " +
        "cos(radians(a.lat)) * cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon) / 2), 2)" +
        ")), 4) AS dist_km " +
        "FROM c a JOIN c b ON a.k < b.k) " +
        "SELECT da, db, dist_km FROM p WHERE dist_km <= 500.0 ORDER BY da, db"))
}
