package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** On-disk inverted index: term → sorted posting list of doc_ids, stored
  * partitioned by a hash BUCKET of the term so a term lookup reads exactly
  * one of `buckets` directories (partition pruning) instead of scanning the
  * corpus — the index-backed query shape the reference's Datastore backend
  * implies (every Datastore query is index-backed [U, SURVEY.md §0]).
  *
  * Build: one explode + distinct + groupBy(term) — two shuffles, run once;
  * lookups are then corpus-size-independent (bucket dir + term filter).
  * The bucket expression `pmod(xxhash64(term), buckets)` is evaluated on a
  * LITERAL at lookup time, so Catalyst constant-folds it and the partition
  * filter prunes at planning.
  *
  * Layout: `bucket=B/seg=S/...` — `seg` is the ingest batch id (0 for the
  * initial build). Appends land as new seg partitions via DYNAMIC partition
  * overwrite, which makes a retried batch id idempotent: the retry replaces
  * its own seg partitions instead of duplicating rows (the at-least-once
  * guarantee foreachBatch ingest needs). At 100 TB, stop-word-class terms
  * also split across segs naturally; the lookup shape is unchanged
  * (explode over all of a term's segment rows).
  */
object InvertedIndex {
  val DefaultBuckets = 64

  /** The index records its OWN bucket count in `_graft_meta.json` at the
    * root: the bucket function must match between writer and reader, and a
    * caller passing a different count would probe the wrong directory and
    * get silently-empty results — the worst failure mode an index can
    * have. Readers resolve the count from the meta file by default; the
    * leading underscore keeps Spark's own file readers from treating it as
    * data. */
  private val MetaFile = "_graft_meta.json"

  /** The active session's Hadoop configuration when one exists (so
    * `spark.hadoop.*` settings — object-store credentials, fs.defaultFS,
    * filesystem impls — reach meta reads/writes exactly as they reach the
    * data reads), falling back to a bare Configuration only outside any
    * session. A bare `new Configuration()` here silently dropped those
    * settings (ADVICE r6). */
  private[graft] def driverHadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def hadoopFs(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(driverHadoopConf), p)
  }

  private[sources] def writeMeta(dir: String, buckets: Int): Unit = {
    // Write to a temp name and rename into place: metaBuckets HARD-FAILS on
    // a present-but-unparseable meta, so a reader racing a build must only
    // ever observe a complete file — fs.create + write exposes an
    // empty/partial window (ADVICE r7). The rename replaces atomically on
    // HDFS-like stores; on stores where rename-onto-existing fails, delete
    // first (the absent-file window falls back, which is the lenient path).
    val (fs, p) = hadoopFs(dir)
    val target = new org.apache.hadoop.fs.Path(p, MetaFile)
    val tmp = new org.apache.hadoop.fs.Path(p, s".$MetaFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(Json.write("buckets" -> buckets).getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"writeMeta: rename $tmp -> $target failed")
    }
  }

  /** Bucket count recorded at build time; `fallback` when the meta file is
    * absent (pre-meta indexes). */
  private[sources] def metaBuckets(dir: String,
      fallback: Int = DefaultBuckets): Int = {
    val (fs, p) = hadoopFs(dir)
    Json.readFile(fs, new org.apache.hadoop.fs.Path(p, MetaFile)) match {
      case None => fallback
      case Some(text) =>
        Json.parse(text).flatMap(o => Json.long(o.path("buckets")))
          .map(_.toInt).getOrElse(throw new IllegalStateException(
            // a present-but-unparseable meta is corruption, not absence:
            // falling back would re-open the silent-empty-lookup hole
            s"$dir/$MetaFile exists but has no \"buckets\" field: $text"))
    }
  }

  /** Resolve the effective bucket count: an explicit positive argument
    * wins; otherwise the index's own recorded count. */
  private def resolveBuckets(dir: String, buckets: Int): Int =
    if (buckets > 0) buckets else metaBuckets(dir)

  /** True when the index holds no postings yet (absent dir or no bucket
    * partitions) — the state a catalog CTAS writes its first batch into. */
  private[sources] def isEmpty(dir: String): Boolean = {
    val (fs, p) = hadoopFs(dir)
    !fs.exists(p) || !fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("bucket="))
  }

  private def toks = expr(graft.functions.TextTokens.ToksSql)

  /** (term, doc_id) pairs -> the on-disk postings layout. The shared tail
    * of the doc-tokenizing build/append paths AND the DataSourceV2 write
    * path (which accepts pairs directly — tokenization is the caller's
    * concern there). */
  private[sources] def pairsToPostings(pairs: DataFrame, buckets: Int,
      seg: Long): DataFrame =
    pairs.select(col("term"), col("doc_id"))
      .distinct()
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        count(lit(1)).as("df"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .withColumn("seg", lit(seg))

  private def postings(docs: DataFrame, buckets: Int, seg: Long): DataFrame =
    pairsToPostings(
      docs.select(col("doc_id"), explode(toks).as("term")), buckets, seg)

  /** Write a postings frame as a full rebuild or as new `seg` partitions
    * via dynamic overwrite — the ONE writer build/append and the DSv2
    * write path all go through. */
  private[sources] def writeOut(out: DataFrame, dir: String,
      rebuild: Boolean): Unit =
    if (rebuild)
      out.write.mode("overwrite").partitionBy("bucket", "seg").parquet(dir)
    else
      out.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("bucket", "seg").parquet(dir)

  /** (term, doc_id) pairs in; postings on disk out — the DSv2 writer's
    * delegate (rebuild = SaveMode.Overwrite, else a `seg` append). */
  private[sources] def writePairs(pairs: DataFrame, dir: String, buckets: Int,
      seg: Long, rebuild: Boolean): Unit = {
    writeOut(pairsToPostings(pairs, buckets, seg), dir, rebuild)
    writeMeta(dir, buckets)
  }

  def build(docs: DataFrame, dir: String, buckets: Int = DefaultBuckets): Unit = {
    writeOut(postings(docs, buckets, seg = 0L), dir, rebuild = true)
    writeMeta(dir, buckets)
  }

  /** Incremental append: batch `seg`'s postings land as new
    * `bucket=B/seg=N` partitions. Dynamic partition overwrite means a
    * RETRY of the same seg replaces exactly its own partitions — appends
    * are idempotent per batch id, so at-least-once drivers (foreachBatch
    * restarts) converge to exactly-once layout. Only the new docs shuffle;
    * nothing existing is rewritten. A term present in several batches has
    * one row per batch; [[lookup]] explodes all of them, so lookups over
    * (initial + appended) equal a from-scratch build on the union,
    * provided batches are doc-disjoint (re-ingesting a doc under a NEW seg
    * needs a compaction rebuild). `df` is per-segment; total document
    * frequency is sum(df) over a term's segments. */
  def append(docs: DataFrame, dir: String, seg: Long,
      buckets: Int = -1): Unit = {
    val b = resolveBuckets(dir, buckets)
    writeOut(postings(docs, b, seg), dir, rebuild = false)
    writeMeta(dir, b) // first write to a fresh dir records the count
  }

  /** Segment compaction: after many [[append]]s a hot term accumulates one
    * segment row per batch; this folds them back to one row per term in
    * `seg=0` (merged DISTINCT sorted postings — so even duplicated doc_ids
    * from overlapping batches collapse — and recomputed df) and swaps the
    * result in. One shuffle keyed by term — run it on the cadence LSM
    * stores run their merges.
    *
    * Swap guarantee (single-maintainer, plain filesystem): the new index
    * is fully written to a temp dir first, the old dir is moved aside, the
    * new one renamed in, and only then is the old dropped — a crash leaves
    * either the old index (recoverable at `<dir>.old`) or the new one, and
    * never a half-written mix. Between the two renames there is a brief
    * window where a CONCURRENT reader can miss the directory; a
    * multi-reader 100 TB deployment puts a manifest pointer in front
    * (Iceberg/Delta-style) instead of renaming data paths — the layout
    * under the pointer is exactly this one. */
  def compact(spark: SparkSession, dir: String,
      buckets: Int = -1): Unit = {
    val b = resolveBuckets(dir, buckets)
    val merged = spark.read.parquet(dir)
      .select(col("term"), explode(col("doc_ids")).as("doc_id"))
      .distinct()
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        count(lit(1)).as("df"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(b.toLong)))
      .withColumn("seg", lit(0L))
    val tmp = dir + ".compacting"
    merged.write.mode("overwrite").partitionBy("bucket", "seg").parquet(tmp)
    writeMeta(tmp, b) // the swapped-in dir must carry the count too
    graft.AtomicSwap.replace(spark.sparkContext.hadoopConfiguration,
      dir, tmp, "compact")
  }

  /** All doc_ids whose text contains `term`, via the index: reads one
    * bucket directory, one term row per segment, explodes the postings. */
  def lookup(spark: SparkSession, dir: String, term: String,
      buckets: Int = -1): DataFrame = {
    val b = resolveBuckets(dir, buckets)
    spark.read.parquet(dir)
      .filter(col("bucket") === pmod(xxhash64(lit(term)), lit(b.toLong))
        && col("term") === term)
      .select(explode(col("doc_ids")).as("doc_id"))
      .orderBy("doc_id")
  }
}
