package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.13 — training-data pipeline operators: deterministic
  * sampling, per-stratum quotas, token-budget cuts, and latest-version
  * compaction. These are the selection/curation steps between "raw corpus"
  * and "training mix" in an LLM data pipeline.
  *
  * Scale design:
  *  - All sampling here is HASH-based and deterministic — reproducible
  *    across runs, cluster layouts, and engines (md5 on both sides of the
  *    oracle), and embarrassingly parallel: a filter on a hash is map-only,
  *    no global coordination, unlike reservoir-style sampling which needs a
  *    single-pass state merge.
  *  - Stratified quota + budget cut use one shuffle on the stratum key; the
  *    per-stratum window never materializes more than a partition's rows.
  *    Quotas per stratum are small (constant output per stratum).
  *  - Latest-version compaction is the classic log-to-snapshot shape: one
  *    shuffle on the entity key, one pass per group — at 100 TB this is the
  *    standard "compact the CDC log" job, and AQE handles hot entities.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace token count — same formula as TextAnalysis (and its oracle),
    * so budget math agrees across engines. */
  private val nToks = size(expr(graft.functions.TextTokens.ToksSql))
  private val DuckNToks =
    "CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INTEGER)"

  // Session-cached corpus-trained merges file for q_token_budget_bpe_trained
  // (r19 — VERDICT r18 #5): ONE trainOnCorpus pass per (session, sf dir),
  // cached as the containing temp DIR (evict deletes the tree). The file
  // is an immutable artifact — Bpe.vocabAt memoizes per PATH and never
  // invalidates — which a fresh dir per (session, sf) satisfies: same
  // corpus trains byte-identical merges, so memo reuse is always correct.
  private val trainedMergesCache =
    new graft.SessionCache[String](graft.TempDirs.delete)
  private def trainedMergesFor(s: SparkSession, d: String): String = {
    val dir = trainedMergesCache.getOrBuild(s, d) {
      val root = graft.TempDirs.create("graft-bpe-trained")
      graft.functions.Bpe.writeMerges(s"$root/merges.txt",
        graft.functions.Bpe.trainOnCorpus(
          Tables.documents(s, d).select("text"), "text", 5000))
      root
    }
    s"$dir/merges.txt"
  }

  val queries: Map[String, Q] = Map(
    // Deterministic ~1/8 hash sample of orders: keep rows whose md5(key)
    // starts below '20' (32/256 of the hex space). Map-only, reproducible,
    // engine-independent — the consistent-sampling story TABLESAMPLE
    // (rand-based) cannot give. Aggregated so the declared output is small.
    "q_sample_hash" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "20")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("o_orderstatus")),

    // Stratified quota: exactly 20 documents per language, chosen by hash
    // order (md5 of the text) — a deterministic "uniform within stratum"
    // draw. One shuffle on lang; quota bounds each stratum's output.
    "q_sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy("lang", "rn")
    }),

    // Token-budget cut: walk each language's docs in doc_id order and keep
    // documents while the running token total stays within budget — the
    // "fill the training mix to N tokens per language" selection step.
    "q_token_budget" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("toks", nToks)
        .withColumn("cum_toks", sum(col("toks").cast("long")).over(w))
        .filter(col("cum_toks") <= 2000)
        .select(col("lang"), col("doc_id"), col("toks"), col("cum_toks"))
        .orderBy("lang", "doc_id")
    }),

    // The q_token_budget walk with REAL tokenizer counts: bpe_token_count
    // (functions/Bpe.scala — greedy-merge BPE over the committed 183-rank
    // vocabulary, evaluated as a codegen'd native expression) replaces the
    // whitespace proxy, so the budget is measured in the tokens a training
    // loader would actually produce (BPE counts run higher: sub-word
    // splits). Same shape as q_token_budget — one window pass per lang —
    // with the count column a fused map inside the scan projection.
    // NO-ORACLE by contract (DuckDB cannot run the merge walk); the spec
    // proves the expression against an independent brute-force BPE and
    // pins vocabulary-derived counts.
    "q_token_budget_bpe" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("toks", expr("bpe_token_count(text)"))
        .withColumn("cum_toks", sum(col("toks").cast("long")).over(w))
        .filter(col("cum_toks") <= 4000)
        .select(col("lang"), col("doc_id"), col("toks"), col("cum_toks"))
        .orderBy("lang", "doc_id")
    }),

    // The q_token_budget_bpe walk under a vocabulary TRAINED ON THE
    // CORPUS ITSELF (r19 — VERDICT r18 #5): Bpe.trainOnCorpus reduces
    // the documents table to distinct pre-tokenized words + counts in
    // ONE partial-aggregated shuffle, runs the published merge loop
    // over the reduced table (deterministic tie-break), persists the
    // merges file, and the count column is the same codegen'd native
    // expression loading it through the file route — the full
    // first-mile loop: curate → train tokenizer → budget in ITS tokens.
    // Trained counts run LOWER than the committed default's (the corpus
    // trains to its own fixpoint: every repeated word one token).
    // NO-ORACLE by contract like its sibling (DuckDB cannot run the
    // training loop or the merge walk); the spec pins trainOnCorpus ==
    // driver-side train and budget totals against brute-force encoding.
    "q_token_budget_bpe_trained" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("toks",
          expr(s"bpe_token_count(text, '${trainedMergesFor(s, d)}')"))
        .withColumn("cum_toks", sum(col("toks").cast("long")).over(w))
        .filter(col("cum_toks") <= 4000)
        .select(col("lang"), col("doc_id"), col("toks"), col("cum_toks"))
        .orderBy("lang", "doc_id")
    }),

    // Sequence-packing manifest (the GPT-style "concatenate the corpus,
    // chunk at L tokens" pretraining step): per language in doc_id order,
    // each doc's cumulative token interval [start_off, start_off+toks)
    // maps to the training sequences (bins of L=512) it lands in —
    // first_bin..last_bin, straddling docs spanning several. Window cumsum
    // only: one shuffle on lang, no per-bin explode, and the manifest is
    // exactly what a loader needs to materialize any bin independently.
    "q_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("toks", nToks)
        .filter(col("toks") > 0)
        .withColumn("cum", sum(col("toks").cast("long")).over(w))
        .withColumn("start_off", col("cum") - col("toks"))
        .withColumn("first_bin", floor(col("start_off") / lit(512.0)).cast("long"))
        .withColumn("last_bin", floor((col("cum") - 1) / lit(512.0)).cast("long"))
        .select(col("lang"), col("doc_id"), col("toks"), col("start_off"),
          col("first_bin"), col("last_bin"),
          (col("last_bin") - col("first_bin") + 1).as("n_bins"))
        .orderBy("lang", "doc_id")
    }),

    // Weighted sampling (Efraimidis-Spirakis A-Res): each doc draws a
    // deterministic pseudo-uniform u from integer hashing, and the top-50 by
    // u^(1/weight) is a weighted-without-replacement sample — longer docs
    // (weight = n_chars) proportionally likelier. Map-only scoring + one
    // top-k; the "sample proportional to content size" mix step. round(.,6)
    // before ranking absorbs cross-engine libm ulp differences in pow.
    "q_sample_weighted" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("u",
          ((col("doc_id") * 2654435761L + 97) % 1000000007L + 1).cast("double")
            / 1000000008.0)
        .withColumn("score", round(pow(col("u"), lit(1.0) / col("n_chars")), 6))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_chars"), col("score"))),

    // Table profiling (the data-quality gate a pipeline runs before
    // training): one narrow (metric-per-row) summary of orders — null
    // counts, distincts, range — computed in a single pass (one aggregate,
    // unpivoted), not one job per column.
    "q_profile_table" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val prof = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        countDistinct(col("o_orderpriority")).as("nd_priority"),
        min(col("o_totalprice")).cast("double").as("min_price"),
        max(col("o_totalprice")).cast("double").as("max_price"))
      prof.select(round(col("min_price"), 2).as("min_price"),
          round(col("max_price"), 2).as("max_price"),
          col("n_rows").cast("double"), col("null_custkey").cast("double"),
          col("nd_status").cast("double"), col("nd_priority").cast("double"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("n_rows"), col("null_custkey"), col("nd_status"),
            col("nd_priority"), col("min_price"), col("max_price")),
          "metric", "value")
        .orderBy("metric")
    }),

    // DISTRIBUTION DRIFT between two snapshots (population stability
    // index, the standard model-monitoring / data-quality drift metric):
    // orders split at 1997-01-01 into baseline and current, two features
    // profiled — a fixed-edge price bucketing (fixed edges, NOT
    // quantile-derived: quantile edges would make the report depend on
    // the baseline's own distribution and break cross-run comparability)
    // and the priority categorical. Reported PER BUCKET (n, share, PSI
    // term) rather than as one summed PSI: the per-bucket terms are what
    // an operator actually reads ("which segment moved"), and it keeps
    // every emitted number a fixed sequence of scalar ops — no
    // cross-bucket float summation order to pin. One-sided buckets carry
    // a NULL term (their ln is undefined; the convention every PSI
    // implementation documents). Cost: two grouped counts + broadcast
    // totals — a drift gate must be cheap enough to run every ingest.
    "q_profile_drift" -> ((s, d) => {
      // r19: ONE orders scan with conditional counts replaces two filtered
      // scans grouped separately and full-outer-joined — a bucket absent
      // on one side counts 0 there, which is exactly the full_outer +
      // na.fill(0) semantics the two-frame psiReport applied (the report
      // math itself is unchanged and shared via psiReportCounts).
      val cutoff = lit("1997-01-01").cast("timestamp")
      val o = Tables.orders(s, d)
      val counts = ordersDriftBuckets(
        o.withColumn("__new", col("o_orderdate") >= cutoff), Seq("__new"))
        .groupBy("feature", "bucket")
        .agg(count_if(!col("__new")).as("n_old"),
          count_if(col("__new")).as("n_new"))
      psiReportCounts(counts).orderBy("feature", "bucket")
    }),

    // Referential-integrity gate (the cross-table half of the data-quality
    // gate q_profile_table starts): orphaned facts via anti-joins + a
    // key-uniqueness check, reported metric-per-row. Testdata is consistent
    // so the expected counts are 0 — the CHECKS are the product, and they
    // hold cross-engine. At 100 TB: anti-joins shuffle on the key like any
    // fact join (dims broadcast when small), the uniqueness check is one
    // keyed count — no new machinery, which is the point: integrity gates
    // must be cheap enough to run every ingest.
    "q_integrity_fk" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val orphanLine = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitem_without_order").as("chk"), col("n"))
      val orphanOrder = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("orders_without_customer").as("chk"), col("n"))
      val dupKeys = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).agg(count(lit(1)).as("n"))
        .select(lit("duplicate_orderkeys").as("chk"), col("n"))
      orphanLine.unionByName(orphanOrder).unionByName(dupKeys).orderBy("chk")
    }),

    // Deterministic train/val/test assignment: each doc's md5 band maps it
    // to train (~87.5%), val, or test — stable under corpus growth (a doc's
    // split never changes when other docs arrive, unlike rank-based
    // splits), reproducible across engines and runs, map-only. The split
    // step every training corpus needs; summarized per (lang, split).
    "q_split_train" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("band", substring(md5(col("doc_id").cast("string")), 1, 2))
        .withColumn("split",
          when(col("band") < "e0", "train")
            .when(col("band") < "f0", "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"))
        .orderBy("lang", "split")),

    // Deterministic global training shuffle: an epoch's order is the
    // range-sort of a seeded hash key — reproducible across runs, engines,
    // and cluster layouts (no rand()), and scalable: ONE range-partitioned
    // sort exchange, no single-partition window, no driver pass. A new
    // epoch is a new seed string — a full, equally-cheap reshuffle; a
    // loader resumes mid-epoch by remembering its last key.
    "q_shuffle_seeded" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("skey",
          md5(concat(lit("epoch-42:"), col("doc_id").cast("string"))))
        .select("skey", "doc_id", "lang")
        .orderBy("skey")),

    // Token-balanced shard assignment: within each language, docs walk in
    // descending token order and round-robin across 8 shards — the greedy
    // LPT-style guarantee (any two shards of a language differ by at most
    // one document's tokens) with only a per-stratum window, never a
    // global rank. The "write N equal training shards" step, summarized
    // per (lang, shard).
    "q_shard_balanced" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("toks").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("toks", nToks)
        .withColumn("shard", (row_number().over(w) - 1) % 8)
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks").cast("long")).as("shard_toks"))
        .orderBy("lang", "shard")
    }),

    // Latest-version compaction: one surviving row per (user_id, event_type)
    // entity — the newest by (ts, event_id). The upsert/SCD-1 snapshot shape:
    // reading a change log back to current state.
    "q_upsert_latest" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_trunc("second", col("ts")).cast("timestamp_ntz").as("ts_s"),
          round(col("value"), 4).as("value_r"))
        .orderBy("user_id", "event_type")
    }))

  /** The orders-table feature bucketing q_profile_drift profiles: a
    * fixed-edge price bucket + the priority categorical, one (feature,
    * bucket) row per feature per input row. */
  private[graft] def ordersDriftBuckets(df: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) :+
      explode(array(
        struct(lit("price_bucket").as("feature"),
          concat(lit("b"), least(floor(col("o_totalprice") / 50000).cast("int"), lit(9))
            .cast("string")).as("bucket")),
        struct(lit("priority").as("feature"),
          col("o_orderpriority").as("bucket")))).as("f"): _*)
      .select(keep.map(col) ++ Seq(
        col("f.feature").as("feature"), col("f.bucket").as("bucket")): _*)

  /** Generic per-bucket PSI report from two bucket-count frames —
    * (feature, bucket, n_old) vs (feature, bucket, n_new). Shared by the
    * batch q_profile_drift and the streaming drift monitor
    * (StreamOps.runDriftMonitor), so the two can never diverge on the
    * math. Every emitted number is a fixed sequence of scalar ops (no
    * cross-bucket float summation); one-sided buckets carry a NULL term
    * (undefined ln — the documented PSI convention). */
  private[graft] def psiReport(old: DataFrame, cur: DataFrame): DataFrame =
    psiReportCounts(
      old.join(cur, Seq("feature", "bucket"), "full_outer")
        .na.fill(0L, Seq("n_old", "n_new")))

  /** Same report from ONE combined (feature, bucket, n_old, n_new) count
    * frame — the r19 single-pass shape q_profile_drift feeds (a bucket
    * absent on one side carries count 0 there, exactly the full_outer +
    * na.fill(0) semantics of the two-frame entry above, which now
    * delegates here so the math can never diverge between the entries).
    * A feature with NO rows on one side (t_old = 0 or t_new = 0) is
    * DROPPED whole — PSI against an empty side is undefined (every term
    * would divide by a zero total), and dropping is what the original
    * two-frame form's inner totals-joins did (r20, ADVICE r19: the r19
    * delegation briefly let such features through with a 0/0 share). */
  private[graft] def psiReportCounts(counts: DataFrame): DataFrame = {
    val tOld = counts.groupBy("feature").agg(sum("n_old").as("t_old"))
      .filter(col("t_old") > 0)
    val tNew = counts.groupBy("feature").agg(sum("n_new").as("t_new"))
      .filter(col("t_new") > 0)
    val pOld = col("n_old").cast("double") / col("t_old")
    val pNew = col("n_new").cast("double") / col("t_new")
    counts
      .join(broadcast(tOld), "feature").join(broadcast(tNew), "feature")
      .select(col("feature"), col("bucket"), col("n_old"), col("n_new"),
        round(pOld, 6).as("p_old"), round(pNew, 6).as("p_new"),
        when(col("n_old") > 0 && col("n_new") > 0,
          round((pOld - pNew) * log(pOld / pNew), 6)).as("psi_term"))
  }

  val oracles: Map[String, String] = Map(
    "q_sample_hash" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20' " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_sample_stratified" ->
      ("SELECT lang, rn, doc_id FROM (" +
        "SELECT lang, doc_id, CAST(row_number() OVER " +
        "(PARTITION BY lang ORDER BY md5(text), doc_id) AS INTEGER) AS rn " +
        "FROM documents) WHERE rn <= 20 ORDER BY lang, rn"),
    "q_token_budget" ->
      (s"SELECT lang, doc_id, toks, cum_toks FROM (" +
        s"SELECT lang, doc_id, $DuckNToks AS toks, " +
        // DuckDB SUM(BIGINT) yields HUGEINT (pandas float64); the outer cast
        // pins the dtype to int64 to match Spark's LongType cum_toks.
        s"CAST(SUM(CAST($DuckNToks AS BIGINT)) OVER " +
        "(PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks " +
        "FROM documents) WHERE cum_toks <= 2000 ORDER BY lang, doc_id"),
    "q_pack_sequences" ->
      (s"WITH base AS (SELECT lang, doc_id, $DuckNToks AS toks FROM documents), " +
        "t AS (SELECT lang, doc_id, toks, " +
        "CAST(SUM(CAST(toks AS BIGINT)) OVER (PARTITION BY lang ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum " +
        "FROM base WHERE toks > 0) " +
        "SELECT lang, doc_id, toks, cum - toks AS start_off, " +
        "CAST(floor((cum - toks) / 512.0) AS BIGINT) AS first_bin, " +
        "CAST(floor((cum - 1) / 512.0) AS BIGINT) AS last_bin, " +
        "CAST(floor((cum - 1) / 512.0) AS BIGINT) - " +
        "CAST(floor((cum - toks) / 512.0) AS BIGINT) + 1 AS n_bins " +
        "FROM t ORDER BY lang, doc_id"),
    "q_sample_weighted" ->
      ("SELECT doc_id, n_chars, score FROM (" +
        "SELECT doc_id, n_chars, " +
        "round(pow(CAST((doc_id * 2654435761 + 97) % 1000000007 + 1 AS DOUBLE) / 1000000008.0, " +
        "1.0 / n_chars), 6) AS score FROM documents) " +
        "ORDER BY score DESC, doc_id LIMIT 50"),
    "q_profile_drift" ->
      ("WITH f AS (" +
        "SELECT 'price_bucket' AS feature, 'b' || CAST(least(CAST(floor(o_totalprice / 50000) AS INTEGER), 9) AS VARCHAR) AS bucket, o_orderdate FROM orders " +
        "UNION ALL SELECT 'priority', o_orderpriority, o_orderdate FROM orders), " +
        "old AS (SELECT feature, bucket, count(*) AS n_old FROM f " +
        "WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1, 2), " +
        "nw AS (SELECT feature, bucket, count(*) AS n_new FROM f " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1, 2), " +
        "j AS (SELECT COALESCE(old.feature, nw.feature) AS feature, " +
        "COALESCE(old.bucket, nw.bucket) AS bucket, " +
        "COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new " +
        "FROM old FULL OUTER JOIN nw ON old.feature = nw.feature AND old.bucket = nw.bucket), " +
        "t AS (SELECT feature, sum(n_old) AS t_old, sum(n_new) AS t_new FROM j GROUP BY feature) " +
        "SELECT j.feature AS feature, bucket, n_old, n_new, " +
        "round(CAST(n_old AS DOUBLE) / t_old, 6) AS p_old, " +
        "round(CAST(n_new AS DOUBLE) / t_new, 6) AS p_new, " +
        "CASE WHEN n_old > 0 AND n_new > 0 THEN " +
        "round((CAST(n_old AS DOUBLE) / t_old - CAST(n_new AS DOUBLE) / t_new) * " +
        "ln((CAST(n_old AS DOUBLE) / t_old) / (CAST(n_new AS DOUBLE) / t_new)), 6) END AS psi_term " +
        "FROM j JOIN t USING (feature) ORDER BY feature, bucket"),
    "q_integrity_fk" ->
      ("SELECT chk, n FROM (" +
        "SELECT 'lineitem_without_order' AS chk, count(*) AS n FROM lineitem l " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) " +
        "UNION ALL SELECT 'orders_without_customer', count(*) FROM orders o " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) " +
        "UNION ALL SELECT 'duplicate_orderkeys', count(*) FROM " +
        "(SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)" +
        ") ORDER BY chk"),
    "q_profile_table" ->
      ("SELECT metric, value FROM (" +
        "SELECT CAST(count(*) AS DOUBLE) AS n_rows, " +
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_custkey, " +
        "CAST(count(DISTINCT o_orderstatus) AS DOUBLE) AS nd_status, " +
        "CAST(count(DISTINCT o_orderpriority) AS DOUBLE) AS nd_priority, " +
        "round(CAST(min(o_totalprice) AS DOUBLE), 2) AS min_price, " +
        "round(CAST(max(o_totalprice) AS DOUBLE), 2) AS max_price FROM orders) " +
        "UNPIVOT (value FOR metric IN (n_rows, null_custkey, nd_status, nd_priority, min_price, max_price)) " +
        "ORDER BY metric"),
    "q_split_train" ->
      ("SELECT lang, split, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM (" +
        "SELECT lang, n_chars, CASE " +
        "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0' THEN 'train' " +
        "WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents) " +
        "GROUP BY lang, split ORDER BY lang, split"),
    "q_shuffle_seeded" ->
      ("SELECT md5('epoch-42:' || CAST(doc_id AS VARCHAR)) AS skey, doc_id, lang " +
        "FROM documents ORDER BY skey"),
    "q_shard_balanced" ->
      (s"SELECT lang, shard, count(*) AS n_docs, " +
        "CAST(SUM(CAST(toks AS BIGINT)) AS BIGINT) AS shard_toks FROM (" +
        s"SELECT lang, doc_id, $DuckNToks AS toks, " +
        s"CAST((row_number() OVER (PARTITION BY lang ORDER BY $DuckNToks DESC, doc_id) - 1) % 8 AS INTEGER) AS shard " +
        "FROM documents) GROUP BY lang, shard ORDER BY lang, shard"),
    "q_upsert_latest" ->
      ("SELECT user_id, event_type, event_id, " +
        "date_trunc('second', ts) AS ts_s, round(value, 4) AS value_r FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id, event_type"))
}
