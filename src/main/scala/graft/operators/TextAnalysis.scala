package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.10 — text analysis for LLM-data pipelines: token counting,
  * language-ID heuristic, quality scoring, TF-IDF, rolling-hash
  * fingerprinting. All pure codegen'd expressions (no UDFs), all
  * oracle-checked.
  *
  * Scale: per-document operators are map-only (no shuffle); the corpus-level
  * ones (TF-IDF df, distinct terms) shuffle once on the term — at 100 TB the
  * explode output is bounded by token count, and partial aggregation
  * collapses per-partition duplicates before the exchange.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private val toks = expr(graft.functions.TextTokens.ToksSql)

  /** Marker-word sets for the language-ID heuristic (deterministic,
    * precision-irrelevant: the testdata's lang labels are synthetic). */
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "que"),
    "zh" -> Seq("zhi", "de", "le"))

  private[graft] def markerScore(markers: Seq[String]): Column =
    markerScoreOf(toks, markers)

  /** Marker-occurrence count over an existing token column. r19: the count
    * of tokens in the (distinct) marker set equals the sum over markers of
    * that marker's occurrence count, and one occurrence count is
    * `size(t) - size(array_remove(t, m))` — codegen'd collection
    * expressions, replacing the interpreted filter/array_contains lambda
    * the HOF formulation evaluated per token. Taking the tokens as a
    * column also lets q_text_langid tokenize once for all 5 languages
    * (it re-ran the tokenizer per language before). */
  private[graft] def markerScoreOf(t: Column, markers: Seq[String]): Column =
    markers.map(m => size(t) - size(array_remove(t, lit(m)))).reduce(_ + _)

  // Session-scoped inverted-index memo: built once per (session, table dir)
  // into a temp directory; lookups are then bucket-pruned reads. Mirrors
  // Similarity's IVF index economics (build once, search many).
  // Eviction deletes the directory; a shutdown hook sweeps survivors.
  private val idxCache = new graft.SessionCache[String](graft.TempDirs.delete)
  private[graft] def indexDirFor(s: SparkSession, d: String): String =
    idxCache.getOrBuild(s, d) {
      val dir = graft.TempDirs.create("graft-invidx")
      graft.sources.InvertedIndex.build(graft.Tables.documents(s, d), dir)
      dir
    }

  // Session-scoped root for the query-surface catalog (named `graft_q` so
  // it can never collide with a user's own `graft` registration).
  private val catRootCache = new graft.SessionCache[String](graft.TempDirs.delete)
  private[graft] def catalogRootFor(s: SparkSession): String =
    catRootCache.getOrBuild(s, "root") {
      val root = graft.TempDirs.create("graft-catalog-q")
      s.conf.set("spark.sql.catalog.graft_q", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q.dir", root)
      root
    }

  /** The session's index as a NAMED TABLE in the `graft_q` catalog
    * (registered on first use) — shared by the q_search_index_table and
    * q_search_index_df routes. The catalog route matters beyond
    * ergonomics: only it resolves the index's reported bucket(term)
    * partitioning (the catalog is the FunctionCatalog). */
  private[graft] def indexTableFor(s: SparkSession, d: String): String = {
    val tbl = s"graft_q.docs_" + d.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(tbl)) {
      catalogRootFor(s) // registers the graft_q catalog on first use
      s.sql(s"CREATE TABLE $tbl (term STRING, doc_id BIGINT) " +
        s"USING `graft.index` LOCATION '${indexDirFor(s, d)}'")
    }
    tbl
  }

  val queries: Map[String, Q] = Map(
    // Whitespace + BPE-ish regex token counts per doc.
    "q_text_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(toks).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .as("bpe_tokens"))
        .orderBy("doc_id")),

    // Corpus stats per lang: docs, distinct vocabulary, avg tokens/doc.
    // Single explode + one grouped pass (two distinct-aggs share the scan)
    // instead of two separate subtrees — one read of the corpus, not two.
    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), explode(toks).as("term"))
        .groupBy("lang")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("term")).as("n_terms"),
          count(lit(1)).as("total_tokens"))
        .select(col("lang"), col("n_docs"), col("n_terms"), col("total_tokens"),
          (col("total_tokens").cast("double") / col("n_docs")).as("avg_tokens"))
        .orderBy("lang")),

    // Language-ID by marker-word counts, argmax with fixed tie order.
    "q_text_langid" -> ((s, d) => {
      // r19: tokenize once into `t`, score all 5 languages off that column
      val scored = Tables.fanOut(Tables.documents(s, d)
        .select(col("doc_id"), toks.as("t")))
        .select(
          col("doc_id") +:
            Markers.toSeq.sortBy(_._1).map { case (l, ws) =>
              markerScoreOf(col("t"), ws).as(s"s_$l") }: _*)
      val langs = Markers.keys.toSeq.sorted
      val m = greatest(langs.map(l => col(s"s_$l")): _*)
      val predicted = langs.tail.foldLeft(
        when(col(s"s_${langs.head}") === m, langs.head)) {
        (acc, l) => acc.when(col(s"s_$l") === m, l)
      }
      scored.select(
        (col("doc_id") +: langs.map(l => col(s"s_$l")))
          :+ predicted.as("predicted"): _*)
        .orderBy("doc_id")
    }),

    // Quality scoring: length/word-length/stopword-ratio features + a pinned
    // composite score (formula mirrored exactly in the oracle).
    "q_text_quality" -> ((s, d) => {
      // r19: tokenize once into `t` (the feature row used 6 independent
      // tokenizer evaluations before); same expressions otherwise
      val stopHits = markerScoreOf(col("t"), Markers("en"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), toks.as("t"))
        // zero-token docs are excluded on both sides (x/0 semantics differ
        // between engines)
        .filter(size(col("t")) > 0)
        .select(
          col("doc_id"),
          length(col("text")).as("text_chars"),
          size(col("t")).as("n_tokens"),
          round(length(expr("replace(text, ' ', '')")).cast("double") / size(col("t")), 6)
            .as("avg_word_len"),
          round(stopHits.cast("double") / size(col("t")), 6).as("stop_ratio"),
          round(least(size(col("t")).cast("double") / lit(100.0), lit(1.0)) *
            (lit(1.0) - abs(stopHits.cast("double") / size(col("t")) - lit(0.1))), 6)
            .as("quality"))
        .orderBy("doc_id")
    }),

    // TF-IDF: each source is one "document"; score = tf * ln((N+1)/(df+1)),
    // rounded BEFORE ranking so cross-engine libm ulp diffs can't flip ranks.
    "q_text_tfidf_top" -> ((s, d) => {
      val t = Tables.documents(s, d).select(col("source"), explode(toks).as("term"))
      val tf = t.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val n = Tables.documents(s, d)
        .agg(countDistinct(col("source")).as("ns"))
      val w = Window.partitionBy("source").orderBy(col("score").desc, col("term"))
      // r19: df = count of (source, term) rows per term — a whole-partition
      // window over the SAME tf frame instead of a regroup + self-join,
      // which re-derived the explode+groupBy subtree on both sides (guide
      // §2.4; same identity as unigramLogprob's corpus counts). Counts are
      // bit-identical.
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("ns") + 1).cast("double") / (col("df") + 1)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("source", "term", "tf", "df", "score", "rn")
        .orderBy("source", "rn")
    }),

    // Index-backed term search: docs containing 'vector' via the on-disk
    // inverted index (built once per session, bucket-partitioned so the
    // lookup reads ONE of 64 directories — corpus-size-independent). The
    // Datastore-style index-backed query shape; oracle = the full-scan
    // list_contains filter, which must return the identical doc set.
    "q_search_index" -> ((s, d) => {
      val dir = indexDirFor(s, d)
      graft.sources.InvertedIndex.lookup(s, dir, "vector")
    }),

    // The same index lookup through the DataSourceV2 connector surface
    // (sources/IndexSource.scala): `format("graft.index")` with the term
    // equality PUSHED into the source, which plans input partitions for
    // exactly one of 64 bucket directories. Row-identical to q_search_index
    // by construction; the pushdown + pruning are plan-asserted in
    // TextMapperSpec.
    "q_search_index_dsv2" -> ((s, d) => {
      val dir = indexDirFor(s, d)
      s.read.format("graft.index").option("dir", dir).load()
        .filter(col("term") === "vector")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // The same lookup as a NAMED TABLE through the graft TableCatalog
    // (sources/GraftCatalog.scala): register the session's index once
    // under a catalog name, then spark.table() — the ergonomics a Spark
    // user expects from a native index. Identical plan/pushdown to the
    // dsv2 route (the catalog loads the same IndexTable), so the same
    // oracle applies.
    "q_search_index_table" -> ((s, d) =>
      s.table(indexTableFor(s, d))
        .filter(col("term") === "vector")
        .select("doc_id")
        .orderBy("doc_id")),

    // Document frequency of EVERY term, computed ON the index through the
    // catalog route: the postings are already distinct (term, doc_id)
    // pairs clustered by the writer's term-hash buckets, and the
    // catalog-resolved bucket transform (KeyGroupedPartitioning +
    // FunctionCatalog, round 8) makes this groupBy consume the on-disk
    // clustering with ZERO shuffle Exchange (plan-asserted in
    // GraftCatalogSpec) — the vocabulary statistics pass a 100 TB corpus
    // wants to run on the index, not the text. Oracle = tokenize +
    // distinct + count in DuckDB over the raw documents.
    "q_search_index_df" -> ((s, d) =>
      s.table(indexTableFor(s, d))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy("term")),

    // Total postings count (index cardinality — the first statistic an
    // index health check reads), answered from parquet FOOTERS via the
    // connector's aggregate pushdown (IndexScanBuilder.pushAggregation):
    // an ungrouped COUNT(*) plans a GraftIndexAggScan replaying each
    // file's doc_ids element value count, so no posting pages are read —
    // the Datastore __Stat__-style metadata count, grading O(files) not
    // O(postings). Oracle = the distinct (doc, term) pair count over the
    // raw documents, which is what the index stores by construction.
    "q_search_index_count" -> ((s, d) =>
      s.read.format("graft.index")
        .option("dir", indexDirFor(s, d)).load()
        .agg(count(lit(1)).as("n_postings"))),

    // Approximate heavy hitters: top-10 most frequent terms via a count-min
    // sketch + bounded candidate set — ONE pass, fixed-size mergeable
    // partial state (4×1024 longs per partition), vs the exact path's
    // one-shuffled-row-per-distinct-term. Estimates are sketch-dependent
    // (never under, boundedly over) => no DuckDB oracle; TextMapperSpec
    // asserts the CMS guarantees against exact counts and that the true
    // top term is recovered.
    "q_text_heavy_hitters" -> ((s, d) => {
      val hh = udaf(new graft.functions.CountMinHeavyHitters(
        depth = 4, width = 1024, k = 10, cap = 512))
      Tables.documents(s, d)
        .select(explode(toks).as("term"))
        .agg(hh(col("term")).as("top"))
        .select(posexplode(col("top")).as(Seq("i", "te")))
        .select((col("i") + 1).as("rank"), col("te._1").as("term"),
          col("te._2").as("est_cnt"))
        .orderBy("rank")
    }),

    // Rolling-hash document fingerprint: position-weighted char-code sum mod
    // a prime — order-sensitive, overflow-free (exact in both engines).
    // Empty docs are excluded on BOTH sides: Spark's sequence(1,0) would go
    // descending while DuckDB's range(1,1) is empty, so their "fingerprints"
    // of '' diverge (0 vs NULL). Since r4 this runs the native codegen'd
    // `rolling_fingerprint` expression (one fused loop, whole-stage
    // codegen) instead of the interpreted HOF array pipeline; the native ==
    // HOF equivalence is spec-asserted in NativeFunctionSpec.
    "q_text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          expr("rolling_fingerprint(text)").as("fingerprint"))
        .orderBy("doc_id")))

  /** The pre-r4 higher-order-function formulation of the fingerprint —
    * kept as the spec reference the native expression is asserted equal
    * against (and the shape a user without GraftExtensions would write). */
  private[graft] val fingerprintHof: Column =
    pmod(aggregate(
      expr("transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) * ((i * 131) % 1000003) AS BIGINT))"),
      lit(0L), (acc, x) => acc + x), lit(1000000007L))

  private[graft] val DuckToks = "list_filter(string_split(text, ' '), w -> w <> '')"

  private[graft] def duckMarkerScore(markers: Seq[String]): String = {
    val arr = markers.map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_filter($DuckToks, w -> list_contains([$arr], w))) AS INTEGER)"
  }

  val oracles: Map[String, String] = Map(
    "q_search_index" ->
      ("SELECT doc_id FROM documents " +
        "WHERE list_contains(list_filter(string_split(text, ' '), w -> w <> ''), 'vector') " +
        "ORDER BY doc_id"),
    "q_search_index_dsv2" ->
      ("SELECT doc_id FROM documents " +
        "WHERE list_contains(list_filter(string_split(text, ' '), w -> w <> ''), 'vector') " +
        "ORDER BY doc_id"),
    "q_search_index_table" ->
      ("SELECT doc_id FROM documents " +
        "WHERE list_contains(list_filter(string_split(text, ' '), w -> w <> ''), 'vector') " +
        "ORDER BY doc_id"),
    "q_search_index_df" ->
      (s"WITH t AS (SELECT doc_id, unnest(list_distinct($DuckToks)) AS term FROM documents) " +
        "SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term ORDER BY term"),
    "q_search_index_count" ->
      (s"WITH t AS (SELECT doc_id, unnest(list_distinct($DuckToks)) AS term FROM documents) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_postings FROM t"),
    "q_text_tokens" ->
      (s"SELECT doc_id, CAST(len($DuckToks) AS INTEGER) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens " +
        "FROM documents ORDER BY doc_id"),
    "q_text_stats" ->
      (s"WITH t AS (SELECT lang, doc_id, $DuckToks AS toks FROM documents), " +
        "d AS (SELECT lang, count(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM t GROUP BY lang), " +
        "v AS (SELECT lang, count(DISTINCT term) AS n_terms FROM (SELECT lang, unnest(toks) AS term FROM t) GROUP BY lang) " +
        "SELECT d.lang AS lang, n_docs, n_terms, total_tokens, CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens " +
        "FROM d JOIN v ON d.lang = v.lang ORDER BY lang"),
    "q_text_langid" -> {
      val langs = Markers.keys.toSeq.sorted
      val scores = langs.map(l => s"${duckMarkerScore(Markers(l))} AS s_$l").mkString(", ")
      val m = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
      s"SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")}, CASE $cases END AS predicted " +
        s"FROM (SELECT doc_id, $scores FROM documents) ORDER BY doc_id"
    },
    "q_text_quality" -> {
      val stop = duckMarkerScore(Markers("en"))
      s"SELECT doc_id, CAST(length(text) AS INTEGER) AS text_chars, " +
        s"CAST(len($DuckToks) AS INTEGER) AS n_tokens, " +
        s"round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($DuckToks), 6) AS avg_word_len, " +
        s"round(CAST($stop AS DOUBLE) / len($DuckToks), 6) AS stop_ratio, " +
        s"round(least(CAST(len($DuckToks) AS DOUBLE) / 100.0, 1.0) * " +
        s"(1.0 - abs(CAST($stop AS DOUBLE) / len($DuckToks) - 0.1)), 6) AS quality " +
        s"FROM documents WHERE len($DuckToks) > 0 ORDER BY doc_id"
    },
    "q_text_tfidf_top" ->
      (s"WITH t AS (SELECT source, unnest($DuckToks) AS term FROM documents), " +
        "tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY source, term), " +
        "dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(DISTINCT source) AS ns FROM documents), " +
        "sc AS (SELECT source, term, tf, df, round(tf * ln(CAST(ns + 1 AS DOUBLE) / (df + 1)), 6) AS score FROM tf JOIN dfc USING (term), n), " +
        "r AS (SELECT source, term, tf, df, score, CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS INTEGER) AS rn FROM sc) " +
        "SELECT source, term, tf, df, score, rn FROM r WHERE rn <= 3 ORDER BY source, rn"),
    "q_text_fingerprint" ->
      ("SELECT doc_id, CAST(CAST(list_aggregate(list_transform(range(1, CAST(length(text) AS BIGINT) + 1), " +
        "i -> ascii(text[i]) * ((i * 131) % 1000003)), 'sum') AS BIGINT) % 1000000007 AS BIGINT) AS fingerprint " +
        "FROM documents WHERE length(text) > 0 ORDER BY doc_id"))
}
