package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.15 — corpus-curation operators an LLM training-data pipeline
  * runs between "raw text" and "training mix": benchmark decontamination
  * (n-gram overlap, the GPT-3/PaLM appendix methodology), PII scrubbing,
  * repetition-based quality filtering (the repetition-signal family of
  * Rae et al. 2021's Gopher data rules), chunking, chunk-level dedup (the
  * substring-duplication concern of Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better", at chunk granularity), and
  * language rebalancing. All exact and oracle-checked — the
  * approximate/scalable siblings (minhash, simhash) live in Dedup.
  *
  * Scale design:
  *  - Decontamination joins the corpus's shingles against the BENCHMARK's
  *    shingle set. The benchmark (eval suites) is tiny relative to a 100 TB
  *    corpus, so its distinct-shingle set is broadcast: the corpus side is
  *    one map-only pass (explode + hash-probe), no corpus shuffle at all.
  *    At extreme benchmark sizes, the same query degrades gracefully to a
  *    shuffled semi-join — the DataFrame shape doesn't change.
  *  - PII scrubbing is pure per-row expression work (regexp_extract_all /
  *    regexp_replace are codegen'd): map-only, shuffle-free, scales
  *    linearly with executors.
  *  - Repetition scoring is per-row since r19 (the top-gram count of one
  *    doc is the longest equal run of its own sorted gram array): map-only,
  *    no gram ever shuffles.
  *  - Rebalancing aggregates per-language counts (a handful of rows),
  *    broadcasts them back, and filters with a DETERMINISTIC per-doc
  *    uniform hash — reproducible across runs, engines, and cluster
  *    layouts, unlike rand()-based sampling (same Knuth-hash idiom as
  *    Pipeline's q_sample_weighted).
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** Per-invocation suffix for q_decontaminate_bloom's temp views. */
  private val bloomViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def toksOf = expr(graft.functions.TextTokens.ToksSql)

  /** Word 5-gram shingles: (doc_id, g) for every window position.
    * r19: the gram strings come from the fused native `grams` expression
    * (functions/Grams.scala) instead of the interpreted
    * transform/sequence/slice/concat_ws HOF chain — same strings by
    * construction (UTF8String.concatWs IS concat_ws's runtime). */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toksOf.as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(expr("grams(t, 5, ' ')")).as("g"))

  /** Duplicated-k-gram coverage per doc (the q_dedup_substring engine,
    * parameterized over the corpus so PropertySpec can drive it with
    * generated token arrays against a brute-force oracle). Input: (doc_id,
    * t: array<string>). Output: (doc_id, n_toks, dup_tokens, dup_frac)
    * where dup_tokens is the size of the UNION of [p, p+k-1] spans over
    * positions p whose k-gram occurs >1× corpus-wide — overlapping spans
    * counted once via the running-max interval merge. */
  private[graft] def substringDupCoverage(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("p")
    // r19: the gram key is two independently-seeded xxhash64 words (128
    // bits total — the same collision envelope the md5 key had) instead of
    // md5's 32-char hex string: xxhash64 is whole-stage-codegen'd while
    // md5 pays a MessageDigest + hex-encode per position, and the
    // (h1, h2) key groups/joins/shuffles as 16 fixed bytes instead of a
    // 32-byte string (guide §2.3 narrower types, §4 built-ins). The hash
    // never reaches the output, so results are unchanged.
    val grams = graft.Tables.fanOut(docs)
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), size(col("t")).as("n_toks"), posexplode(
        expr(s"grams(t, $k, ' ')")).as(Seq("p", "g")))
      .select(col("doc_id"), col("n_toks"), col("p"),
        xxhash64(col("g")).as("h1"), xxhash64(lit(8191L), col("g")).as("h2"))
    val dup = grams.groupBy("h1", "h2").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h1", "h2")
    val runs = grams.join(dup, Seq("h1", "h2"))
      .select(col("doc_id"), col("n_toks"), col("p").cast("long").as("p"))
      .withColumn("new_run", when(
        col("p") > coalesce(
          max(col("p") + lit(k - 1L)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1L)), 1L).otherwise(0L))
      .withColumn("run", sum("new_run").over(w))
    runs.groupBy("doc_id", "n_toks", "run")
      .agg((max(col("p") + lit(k - 1L)) - min(col("p")) + lit(1L)).as("span"))
      .groupBy("doc_id", "n_toks")
      .agg(sum("span").as("dup_tokens"))
      .select(col("doc_id"), col("n_toks"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_toks").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Unigram-LM scoring (the q_text_logprob engine, parameterized over the
    * corpus so PropertySpec can drive it with generated token arrays
    * against a brute-force oracle). Input: (doc_id, t: array<string>).
    * Output: (doc_id, n_toks, avg_logprob) — token-weighted mean
    * ln(c_term / total_tokens) over the input's own unigram counts. */
  private[graft] def unigramLogprob(docs: DataFrame): DataFrame = {
    // r19: the before-plan evaluated the explode+tf subtree three times
    // (tf itself, cnt = regroup of tf, tot = re-aggregate of cnt — 3 doc
    // scans, 8 Exchanges). Two algebraic identities remove both extra
    // passes with bit-identical counts: the per-term corpus count is a
    // whole-partition window over the SAME tf frame (one shuffle on term,
    // guide §2.4), and the corpus total Σ_term c = Σ all tf = Σ_doc
    // size(t) — a map-only aggregate over the token arrays that never
    // explodes a token.
    val tf = docs.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tot = docs.agg(sum(size(col("t")).cast("long")).as("tot"))
    tf.withColumn("c", sum("tf").over(Window.partitionBy("term")))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_toks"),
        round(
          sum(col("tf").cast("double") *
            log(col("c").cast("double") / col("tot").cast("double"))) /
            sum(col("tf")).cast("double"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  // Spark's SQL parser unescapes string literals, so a pattern interpolated
  // into expr(...) needs its backslashes doubled or the literal-dot `\.`
  // silently becomes match-anything `.` — diverging from both the Column
  // API (no unescaping) and the DuckDB oracle.
  private val EmailReSql = EmailRe.replace("\\", "\\\\")

  val queries: Map[String, Q] = Map(
    // Benchmark decontamination: drop corpus docs sharing ANY word-5-gram
    // with the benchmark partition (here: doc_id < 20 stands in for the
    // eval suite). Broadcast the benchmark's distinct shingles; the corpus
    // pass is map-only + a distinct on the (small) hit set.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = shingles(docs)
      val bench = sh.filter(col("doc_id") < 20).select("g").distinct()
      val hits = sh.filter(col("doc_id") >= 20)
        .join(broadcast(bench), "g")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") >= 20)
        .join(hits, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination — the 100 TB upgrade of
    // q_decontaminate. Instead of broadcasting the benchmark's full
    // distinct-shingle SET to every corpus task, a scalar subquery builds
    // an 8-bits/item bloom filter ONCE (graft_bloom_agg over xxhash64'd
    // shingles: 1.6e6 bits for the 2e5-item capacity here, ≈2% FPP at the
    // optimal hash count) and the corpus probe is a map-only
    // graft_might_contain — at a 10^9-shingle benchmark that is ~2 GB of
    // strings vs ~1 GB of filter, and the bits (unlike the strings) never
    // need to be JVM objects on the probe side. No false negatives, so
    // non-candidates are EXACT survivors; only the (small) candidate pair
    // set exact-confirms against the true shingle set, which stays
    // broadcastable because it only meets candidates. Result is
    // row-identical to q_decontaminate — they share the oracle verbatim
    // (spec-asserted equal too).
    //
    // The temp views are per-invocation unique (ADVICE r9): fixed global
    // names raced under concurrent builds in one session (view replacement
    // vs scalar-subquery resolution) and leaked catalog state.
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = shingles(docs)
      val id = bloomViewSeq.incrementAndGet()
      val benchView = s"graft_bench_sh_$id"
      val corpusView = s"graft_corpus_sh_$id"
      sh.filter(col("doc_id") < 20).select("g").distinct()
        .createOrReplaceTempView(benchView)
      sh.filter(col("doc_id") >= 20).createOrReplaceTempView(corpusView)
      val cand = s.sql(
        s"""SELECT c.doc_id, c.g FROM $corpusView c
           |WHERE graft_might_contain(
           |  (SELECT graft_bloom_agg(g, 200000L, 1600000L) FROM $benchView),
           |  c.g)""".stripMargin)
      val hits = cand.join(broadcast(s.table(benchView)), "g")
        .select("doc_id").distinct()
      docs.filter(col("doc_id") >= 20)
        .join(hits, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    // PII scrubbing: count + redact emails and phone numbers. The testdata
    // carries no PII, so each doc is augmented with a synthetic address and
    // number first (same augmentation in the oracle) — the point is the
    // scrub expressions, which are codegen'd and map-only.
    // r19: fanOut before the three regex passes (single-task scan, §2)
    "q_pii_scrub" -> ((s, d) =>
      Tables.fanOut(Tables.documents(s, d)
        .select("doc_id", "text"))
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-4567 now")).as("aug"))
        .select(
          col("doc_id"),
          size(expr(s"regexp_extract_all(aug, '$EmailReSql', 0)")).as("n_emails"),
          size(expr(s"regexp_extract_all(aug, '$PhoneRe', 0)")).as("n_phones"),
          length(regexp_replace(
            regexp_replace(col("aug"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>")).as("clean_len"))
        .orderBy("doc_id").limit(100)),

    // Gopher-style repetition signal: the fraction of a doc's word-2-grams
    // occupied by its single most frequent 2-gram (high = boilerplate/spam).
    // r19: computed PER ROW — the top gram count of one doc is the longest
    // equal run of its own sorted gram list, so exploding every gram
    // instance into a (doc_id, g) shuffle plus a second per-doc shuffle
    // (the before-plan's 3 Exchanges) bought nothing: the signal is
    // row-local. gram_max_count is the fused native pass (an interpreted
    // aggregate()-HOF version of the same idea measured SLOWER than the
    // shuffle it removed — see GramMaxCount's scaladoc). Map-only now (one
    // Exchange left, the output sort); at 100 TB this also removes the one
    // shuffle whose bytes scaled with token count (guide §2.4).
    // max(count) ≡ longest sorted run and sum(count) ≡ size(t)−1, so the
    // division round-trips bit-identically against the same oracle.
    "q_text_repetition" -> ((s, d) =>
      Tables.fanOut(Tables.documents(s, d)
        .select(col("doc_id"), toksOf.as("t")))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          round(expr("CAST(gram_max_count(t, 2) AS DOUBLE)") /
            expr("CAST(size(t) - 1 AS DOUBLE)"), 6)
            .as("top2_frac"))
        .orderBy("doc_id")),

    // Document chunking for RAG / context-window prep: 64-token windows at
    // stride 48 (16-token overlap), identified by (doc_id, chunk_id) with a
    // content hash. Map-only (generation is per-row HOF work); at 100 TB the
    // output is ~1.3× the token count and never shuffles here — downstream
    // ops key by doc_id or chunk hash as needed.
    "q_doc_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toksOf.as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), posexplode(
          expr("transform(sequence(1, size(t), 48), s -> slice(t, s, 64))"))
          .as(Seq("chunk_id", "chunk")))
        .filter(size(col("chunk")) > 0)
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          size(col("chunk")).as("n_toks"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Chunk-level (paragraph-grade) dedup: which 64-token chunks appear in
    // more than one place, and who keeps them (min doc_id owner). The
    // composition of q_doc_chunks with exact dedup — one shuffle on the
    // chunk hash with map-side partial counts; the chunk TEXT never
    // shuffles, only its md5.
    "q_dedup_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toksOf.as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), explode(
          expr("transform(sequence(1, size(t), 48), s -> slice(t, s, 64))"))
          .as("chunk"))
        .filter(size(col("chunk")) > 0)
        .select(col("doc_id"), md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(count(lit(1)).cast("int").as("n_copies"),
          min("doc_id").as("keeper_doc"))
        .filter(col("n_copies") > 1)
        .orderBy(col("n_copies").desc, col("chunk_md5"))
        .limit(50)),

    // Percentile-gated quality filter: keep docs at or above their
    // language's 25th quality percentile (percent_rank — integer-ratio
    // math, so the cut is bit-identical across engines, unlike an
    // interpolated percentile threshold). Per-language window over the
    // quality scores = one shuffle on lang.
    "q_quality_filter" -> ((s, d) => {
      val stopHits = TextAnalysis.markerScore(TextAnalysis.Markers("en"))
      val t = toksOf
      val scored = Tables.documents(s, d)
        .filter(size(t) > 0)
        .select(col("lang"), col("doc_id"),
          round(least(size(t).cast("double") / lit(100.0), lit(1.0)) *
            (lit(1.0) - abs(stopHits.cast("double") / size(t) - lit(0.1))), 6)
            .as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("quality")
      scored.withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.25)
        .groupBy("lang")
        .agg(count(lit(1)).cast("int").as("n_kept"),
          round(avg("quality"), 6).as("avg_quality"))
        .orderBy("lang")
    }),

    // Encoding scalar family: base64 / hex / byte length over utf-8 text —
    // the content-addressing and wire-format primitives. Pure codegen'd
    // expressions, map-only.
    "q_scalar_encode" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          base64(encode(substring(col("text"), 1, 16), "utf-8")).as("b64"),
          hex(substring(col("text"), 1, 8)).as("hx"),
          octet_length(col("text")).as("n_bytes"))
        .orderBy("doc_id").limit(50)),

    // Language rebalancing: cap every language at ~120 docs via a
    // deterministic per-doc uniform; languages under the cap keep all docs.
    // The per-language count table is tiny → broadcast back to the corpus.
    "q_lang_rebalance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // same shape fix as q_mix_temperature: materialize the group-sized
      // count frame its two consumers share (as a local relation, which
      // reports its exact size), broadcast the group-sized final join.
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
      val n = s.createDataFrame(
        java.util.Arrays.asList(counts.collect(): _*), counts.schema)
      val u = (col("doc_id") * lit(2654435761L) + lit(97L)) % lit(1000000007L)
      val kept = docs.join(broadcast(n), "lang")
        .filter(u.cast("double") / 1000000007.0 <
          least(lit(1.0), lit(120.0) / col("n_total")))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      n.join(broadcast(kept), Seq("lang"), "left")
        .na.fill(0L, Seq("n_kept"))
        .select("lang", "n_total", "n_kept")
        .orderBy("lang")
    }),

    // Substring-level dedup (the Lee et al. 2022 ExactSubstr concern at
    // token-10-gram granularity): for every doc, the fraction of its tokens
    // covered by some 10-gram that occurs MORE THAN ONCE in the corpus
    // (cross-doc or within-doc). Plan: one shuffle keyed on the gram's
    // 128-bit double-xxhash64 key (the 10-gram TEXT never shuffles —
    // only two fixed 8-byte hash words and a
    // position), an inner join back to positions, then per-doc interval
    // union via a running-max window (overlapping/touching [p, p+9] spans
    // merge into contiguous runs, so covered tokens are counted once).
    // At 100 TB the gram-count shuffle uses map-side partial aggregation
    // and the window shuffles only (doc_id, pos) pairs of duplicated
    // grams — a small fraction of the corpus for natural text.
    "q_dedup_substring" -> ((s, d) =>
      substringDupCoverage(
        Tables.documents(s, d).select(col("doc_id"), toksOf.as("t")), 10)),

    // Unigram-LM quality score (the perplexity-filter proxy of the CCNet /
    // Wikipedia-LM data rules, with the corpus itself as the LM): per doc,
    // the token-weighted mean ln P(token), P = corpus unigram frequency.
    // Rare-token-heavy docs (gibberish, mojibake, code dumps) score low.
    // Plan: per-doc term frequencies first (one shuffle with map-side
    // combine), THEN the join to the corpus vocabulary — token INSTANCES
    // never cross the join, only (doc, distinct-term) pairs. The vocabulary
    // count table shuffles on term; the scalar corpus total is broadcast.
    "q_text_logprob" -> ((s, d) =>
      unigramLogprob(
        Tables.documents(s, d).select(col("doc_id"), toksOf.as("t")))),

    // Temperature-flattened source mixing (the "set the training mix"
    // step, the multilingual-sampling rule of Conneau & Lample 2019 /
    // mT5): source s with n_s docs gets target share ∝ n_s^(1/2) (T=2
    // flattening — sqrt is IEEE-correctly-rounded, so the weights are
    // bit-identical across engines), scaled to a 200-doc budget and kept
    // via the deterministic integer-hash uniform. The weight SUM crosses
    // engines through a decimal cast (partition-order-invariant, exact);
    // every double op after it is a fixed left-to-right sequence mirrored
    // in the oracle. The corpus pass is map-only against a broadcast
    // per-source rate table — at 100 TB the only full-data cost is one
    // Fingerprint-key canonicalization (OpenRefine's fingerprint clustering,
    // the first normalization pass web-corpus curation runs before any
    // fuzzy dedup): a document's KEY is its distinct tokens, sorted and
    // re-joined — word order, repetition, and duplication all collapse,
    // so boilerplate re-orderings land in one cluster a plain exact-hash
    // dedup misses. Map-only key build (no UDF — array_distinct/array_sort
    // are codegen'd), ONE shuffle on the key; only multi-member clusters
    // emit (the dedup candidates). At 100 TB the key can be hashed to 16
    // bytes before the shuffle (the full key string never needs to move —
    // same md5 trick as q_dedup_exact); kept raw here so the oracle can
    // rebuild it verbatim.
    "q_text_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), array_join(
          array_sort(array_distinct(graft.functions.ColumnOps.tokens(col("text")))),
          " ").as("fp"))
        .groupBy("fp")
        .agg(count(lit(1)).as("members"), min(col("doc_id")).as("canonical"))
        .filter(col("members") > 1)
        .orderBy("canonical")),

    // filter.
    "q_mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the per-source count frame is group-cardinality-sized but feeds
      // the plan in three places (rate table ×2 + its own total); left
      // lazy it re-scanned documents once per reference (5 scans, 8
      // Exchanges, and a SortMergeJoin over the handful-of-sources frame).
      // One materialization + broadcasting the final group-sized join
      // leaves two document scans and no sort-merge. It is materialized as
      // a local relation, which (unlike a local checkpoint) reports its
      // exact size, so the output sort over the final join runs as one
      // partition.
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
      val n = s.createDataFrame(
        java.util.Arrays.asList(counts.collect(): _*), counts.schema)
      val w = n.withColumn("w",
        sqrt(col("n_total").cast("double")).cast("decimal(28,12)"))
      val tot = w.agg(sum(col("w")).as("tot"))
      val rated = w.crossJoin(broadcast(tot))
        .withColumn("rate", round(
          least(lit(1.0),
            lit(200.0) * col("w").cast("double") / col("tot").cast("double")
              / col("n_total").cast("double")), 6))
        .select("source", "n_total", "rate")
      val u = (col("doc_id") * lit(2654435761L) + lit(97L)) % lit(1000000007L)
      val kept = docs.join(broadcast(rated), "source")
        .filter(u.cast("double") / 1000000007.0 < col("rate"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rated.join(broadcast(kept), Seq("source"), "left")
        .na.fill(0L, Seq("n_kept"))
        .select("source", "n_total", "n_kept", "rate")
        .orderBy("source")
    }),

    // Hashed-feature linear quality classifier — the fastText shape
    // (Joulin et al. 2016) every production corpus filter runs: unigram +
    // adjacent-bigram features, each hashed into a fixed-width bucket
    // space (here md5's first byte → 256 buckets; a real model uses 2^18+,
    // same plumbing), scored against a broadcast weight table, mean-pooled
    // per doc, thresholded. The weights are a deterministic stand-in
    // (bucket b → 2b−255, zero-mean over the bucket space) so the oracle
    // can regenerate them — swapping in trained weights changes ONE line.
    // Scale: the weight table is O(buckets) and broadcast (8 B/bucket —
    // a 2^20-bucket model is 8 MB); the corpus side is explode + hash +
    // broadcast-probe + one partial-agg'd groupBy(doc_id), so the only
    // shuffle carries one (sum, count) pair per doc. Integer weights keep
    // the sum exact and order-independent (float partial sums would make
    // the score depend on partitioning); the single double division
    // happens once per doc, after the aggregate.
    "q_quality_classifier" -> ((s, d) => {
      val weights = broadcast(s.range(256).select(
        format_string("%02x", col("id")).as("h"),
        (col("id") * 2 - 255).as("wv")))
      val t = Tables.fanOut(Tables.documents(s, d)
        .select(col("doc_id"), expr(graft.functions.TextTokens.ToksSql).as("toks"))
        .filter(size(col("toks")) > 0))
      // r19: bigrams via the fused native `grams` (same strings — tokens
      // are never null, so concat-with-'_' ≡ concatWs-with-'_'; size<2
      // yields the empty array the `when` guard used to supply).
      val feats = t.select(col("doc_id"),
        explode(concat(col("toks"), expr("grams(toks, 2, '_')"))).as("f"))
      feats.withColumn("h", substring(md5(col("f")), 1, 2))
        .join(weights, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum(col("wv")).as("sw"))
        .select(col("doc_id"), col("n_feats"),
          round(col("sw").cast("double") / (lit(510.0) * col("n_feats")), 6)
            .as("score"),
          (col("sw") > 0).as("keep"))
        .orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    "q_text_normalize" ->
      ("WITH fp AS (SELECT doc_id, array_to_string(list_sort(list_distinct(" +
        "list_filter(string_split(text, ' '), w -> w <> ''))), ' ') AS fp " +
        "FROM documents) " +
        "SELECT fp, count(*) AS members, min(doc_id) AS canonical FROM fp " +
        "GROUP BY fp HAVING count(*) > 1 ORDER BY canonical"),
    "q_decontaminate" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "shingled AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g " +
        "FROM tok, UNNEST(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5), " +
        "hits AS (SELECT DISTINCT s.doc_id FROM shingled s " +
        "JOIN (SELECT DISTINCT g FROM shingled WHERE doc_id < 20) b USING (g) " +
        "WHERE s.doc_id >= 20) " +
        "SELECT d.doc_id FROM documents d " +
        "WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM hits) " +
        "ORDER BY d.doc_id"),
    // The bloom prefilter is exact end-to-end (no false negatives + exact
    // confirm of positives), so the oracle is q_decontaminate's verbatim.
    "q_decontaminate_bloom" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "shingled AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g " +
        "FROM tok, UNNEST(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5), " +
        "hits AS (SELECT DISTINCT s.doc_id FROM shingled s " +
        "JOIN (SELECT DISTINCT g FROM shingled WHERE doc_id < 20) b USING (g) " +
        "WHERE s.doc_id >= 20) " +
        "SELECT d.doc_id FROM documents d " +
        "WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM hits) " +
        "ORDER BY d.doc_id"),
    "q_pii_scrub" ->
      ("SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(aug, '$EmailRe')) AS INTEGER) AS n_emails, " +
        s"CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS INTEGER) AS n_phones, " +
        s"CAST(length(regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'), " +
        s"'$PhoneRe', '<PHONE>', 'g')) AS INTEGER) AS clean_len " +
        "FROM (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or 555-123-4567 now' AS aug FROM documents) " +
        "ORDER BY doc_id LIMIT 100"),
    "q_text_repetition" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g " +
        "FROM tok, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2), " +
        "cnt AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2) " +
        "SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top2_frac " +
        "FROM cnt GROUP BY doc_id ORDER BY doc_id"),
    "q_doc_chunks" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "ch AS (SELECT doc_id, CAST((s - 1) / 48 AS INTEGER) AS chunk_id, t[s:s+63] AS chunk " +
        "FROM tok, UNNEST(range(1, len(t)+1, 48)) AS u(s) WHERE len(t) > 0) " +
        "SELECT doc_id, chunk_id, CAST(len(chunk) AS INTEGER) AS n_toks, " +
        "md5(array_to_string(chunk, ' ')) AS chunk_md5 " +
        "FROM ch WHERE len(chunk) > 0 ORDER BY doc_id, chunk_id"),
    "q_dedup_chunks" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "ch AS (SELECT doc_id, t[s:s+63] AS chunk " +
        "FROM tok, UNNEST(range(1, len(t)+1, 48)) AS u(s) WHERE len(t) > 0) " +
        "SELECT md5(array_to_string(chunk, ' ')) AS chunk_md5, " +
        "CAST(count(*) AS INTEGER) AS n_copies, CAST(min(doc_id) AS BIGINT) AS keeper_doc " +
        "FROM ch WHERE len(chunk) > 0 GROUP BY 1 HAVING count(*) > 1 " +
        "ORDER BY n_copies DESC, chunk_md5 LIMIT 50"),
    "q_quality_filter" -> {
      val stop = TextAnalysis.duckMarkerScore(TextAnalysis.Markers("en"))
      val dt = TextAnalysis.DuckToks
      s"WITH scored AS (SELECT lang, doc_id, " +
        s"round(least(CAST(len($dt) AS DOUBLE) / 100.0, 1.0) * " +
        s"(1.0 - abs(CAST($stop AS DOUBLE) / len($dt) - 0.1)), 6) AS quality " +
        s"FROM documents WHERE len($dt) > 0), " +
        "pr AS (SELECT lang, quality, percent_rank() OVER (PARTITION BY lang ORDER BY quality) AS p FROM scored) " +
        "SELECT lang, CAST(count(*) AS INTEGER) AS n_kept, round(avg(quality), 6) AS avg_quality " +
        "FROM pr WHERE p >= 0.25 GROUP BY lang ORDER BY lang"
    },
    "q_scalar_encode" ->
      ("SELECT doc_id, base64(CAST(substring(text, 1, 16) AS BLOB)) AS b64, " +
        "hex(substring(text, 1, 8)) AS hx, " +
        "CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes " +
        "FROM documents ORDER BY doc_id LIMIT 50"),
    "q_lang_rebalance" ->
      ("WITH lang_n AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang), " +
        "kept AS (SELECT d.lang, count(*) AS n_kept FROM documents d JOIN lang_n USING (lang) " +
        "WHERE CAST((d.doc_id * 2654435761 + 97) % 1000000007 AS DOUBLE) / 1000000007.0 " +
        "< LEAST(1.0, 120.0 / lang_n.n_total) GROUP BY d.lang) " +
        "SELECT lang_n.lang, lang_n.n_total, COALESCE(kept.n_kept, 0) AS n_kept " +
        "FROM lang_n LEFT JOIN kept USING (lang) ORDER BY lang_n.lang"),
    "q_dedup_substring" ->
      ("WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS t FROM documents), " +
        "g AS (SELECT doc_id, len(t) AS n_toks, i - 1 AS p, md5(array_to_string(t[i:i+9], ' ')) AS gh " +
        "FROM tok, UNNEST(range(1, len(t)-8)) AS u(i) WHERE len(t) >= 10), " +
        "dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1), " +
        "m AS (SELECT g.doc_id, g.n_toks, g.p FROM g JOIN dup USING (gh)), " +
        "pm AS (SELECT doc_id, n_toks, p, max(p + 9) OVER " +
        "(PARTITION BY doc_id ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m), " +
        "rs AS (SELECT doc_id, n_toks, p, CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END AS new_run FROM pm), " +
        "rn AS (SELECT doc_id, n_toks, p, sum(new_run) OVER (PARTITION BY doc_id ORDER BY p) AS run FROM rs), " +
        "sp AS (SELECT doc_id, n_toks, run, max(p + 9) - min(p) + 1 AS span FROM rn GROUP BY 1, 2, 3) " +
        "SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks, CAST(sum(span) AS BIGINT) AS dup_tokens, " +
        "round(CAST(sum(span) AS DOUBLE) / n_toks, 6) AS dup_frac " +
        "FROM sp GROUP BY doc_id, n_toks ORDER BY doc_id"),
    "q_text_logprob" ->
      ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(list_filter(string_split(text,' '), w -> w <> '')) AS term FROM documents) " +
        "GROUP BY doc_id, term), " +
        "cnt AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term), " +
        "tot AS (SELECT sum(c) AS tot FROM cnt) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks, " +
        "round(sum(CAST(tf AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))) / CAST(sum(tf) AS DOUBLE), 6) AS avg_logprob " +
        "FROM tf JOIN cnt USING (term), tot GROUP BY doc_id ORDER BY doc_id"),
    "q_mix_temperature" ->
      ("WITH n AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_total, CAST(sqrt(CAST(n_total AS DOUBLE)) AS DECIMAL(28,12)) AS w FROM n), " +
        "t AS (SELECT SUM(w) AS tot FROM w), " +
        "r AS (SELECT source, n_total, round(least(1.0, " +
        "200.0 * CAST(w AS DOUBLE) / CAST(tot AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS rate FROM w, t), " +
        "kept AS (SELECT d.source, count(*) AS n_kept FROM documents d JOIN r USING (source) " +
        "WHERE CAST((d.doc_id * 2654435761 + 97) % 1000000007 AS DOUBLE) / 1000000007.0 < r.rate " +
        "GROUP BY d.source) " +
        "SELECT r.source, r.n_total, COALESCE(kept.n_kept, 0) AS n_kept, r.rate " +
        "FROM r LEFT JOIN kept USING (source) ORDER BY r.source"),
    "q_quality_classifier" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks " +
        "FROM documents WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) > 0), " +
        "f AS (SELECT doc_id, unnest(toks || CASE WHEN len(toks) >= 2 " +
        "THEN list_transform(range(1, CAST(len(toks) AS BIGINT)), i -> toks[i] || '_' || toks[i+1]) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS f FROM t), " +
        "wt AS (SELECT printf('%02x', CAST(i AS INTEGER)) AS h, CAST(i * 2 - 255 AS BIGINT) AS wv FROM range(256) r(i)), " +
        "j AS (SELECT doc_id, wv FROM f JOIN wt ON substring(md5(f.f), 1, 2) = wt.h) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, " +
        "round(CAST(sum(wv) AS DOUBLE) / (510.0 * count(*)), 6) AS score, " +
        "CAST(sum(wv) AS BIGINT) > 0 AS keep " +
        "FROM j GROUP BY doc_id ORDER BY doc_id"))
}
