package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Table registry over the driver-generated parquet star schema
  * (TESTDATA.md, FIXTURES.md). Mirrors the reference's "kind" abstraction
  * (SURVEY.md §2.2: a Datastore kind maps to a registered parquet table
  * [U — reference checkout empty, see SURVEY.md §0]).
  *
  * Scale note: `spark.read.parquet` plans splits from parquet row groups, so
  * scans parallelize across executors with no custom sharding — the Spark
  * replacement for the reference's scatter-sampled key-range shards.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // r19: session-scoped memo of each table's INFERRED parquet schema —
  // `spark.read.parquet(path)` with no schema re-reads a file footer to
  // infer it on EVERY DataFrame construction, a fixed per-query-execution
  // tax across all ~215 declared queries. Passing the memoized schema is
  // the catalog pattern (schema from metadata, not a footer read); the
  // DATA is still read from parquet on every execution — this caches
  // table metadata, never rows or results.
  private val schemaCache = new SessionCache[StructType]()

  /** r19: spread rows across the session's shuffle parallelism before a
    * per-row-EXPENSIVE stage (heavy expressions, explode + partial
    * aggregation). The testdata parquet files are single-row-group, so a
    * scan is one task no matter the split config, and everything up to
    * the first exchange would otherwise run serially — the single-file /
    * single-row-group straggler shape (guide §2), which a production
    * corpus hits whenever one input file dominates. The exchange carries
    * the frame once (small at every gate scale); the parallelism comes
    * from spark.sql.shuffle.partitions, which GraftSession derives from
    * the session's core count — never a hard-coded local constant. An
    * EXPLICIT partition count keeps AQE's small-shuffle coalescing from
    * folding the fan-out back into one task.
    *
    * CONDITIONAL (r19 follow-up): the fan-out is an input-skew remedy, so
    * it only fires when the scan is actually under-parallelized — fewer
    * input files than the session's shuffle parallelism (splittability is
    * at best one task per file here; with many files the scan already
    * fans itself out and the extra exchange would just move the payload
    * bytes once for nothing, the guide §8 anti-pattern). A production
    * multi-file corpus therefore takes the identity path; the single-file
    * testdata (and any one-giant-file ingest) takes the repartition. */
  /** Estimated scan parallelism (r20, ADVICE r19): file count alone
    * under-estimates — Spark splits a file larger than maxPartitionBytes
    * across tasks, so one big multi-row-group file already scans in
    * parallel and must not be fanned out (the exchange would move the
    * payload for nothing). Estimate = max(files, total bytes / split
    * size); single-row-group files can defeat the bytes term (splits
    * beyond the one row group come up empty), which errs toward skipping
    * the fan-out — the conservative side (no standing payload shuffle).
    * The bytes term counts only when the size is known: a relation
    * without statistics (a connector frame such as a commit-log change
    * feed) reports `spark.sql.defaultSizeInBytes`, which would saturate
    * it, so such a frame is judged by its file count alone.
    * NonFatal only: an OOM/Interrupted must propagate, not silently
    * degrade into a repartition decision. */
  private def scanParallelism(df: DataFrame): Int =
    try {
      val nFiles = df.inputFiles.length
      val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf
          .get("spark.sql.files.maxPartitionBytes", "128MB"))
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val bySize =
        if (bytes >= df.sparkSession.sessionState.conf.defaultSizeInBytes) 0
        else (bytes / maxSplit).min(BigInt(Int.MaxValue)).toInt
      math.max(nFiles, bySize)
    } catch { case scala.util.control.NonFatal(_) => 0 }

  def fanOut(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (scanParallelism(df) >= parts) df else df.repartition(parts)
  }

  /** Keyed variant of [[fanOut]] for an under-parallelized scan feeding a
    * groupBy on `keys`: hash-repartitioning on the SAME keys the aggregate
    * needs means the aggregation runs fully parallel AFTER one exchange of
    * the raw rows, with no second exchange (the aggregate's required
    * HashPartitioning is already satisfied) — where the round-robin
    * [[fanOut]] would pay the fan-out exchange AND the aggregate's own.
    * The trade vs no fan-out at all: the keyed exchange carries raw rows
    * instead of map-side partials, but the partial aggregation otherwise
    * runs inside the one serial scan task. Same conditionality as
    * [[fanOut]]: a multi-file corpus takes the identity path and keeps
    * classic partial aggregation. Exact aggregates (decimal sums, count,
    * min/max) are partitioning-independent, so results are unchanged —
    * callers must not route partitioning-SENSITIVE aggregates (sketches)
    * through this. */
  def fanOutBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (scanParallelism(df) >= parts) df else df.repartition(parts, keys: _*)
  }

  /** Final presentation sort for REPORT-sized outputs (r20, guide §2.4
    * "an orderBy used only to make output deterministic"). A trailing
    * `.orderBy(keys)` plans as THREE extra steps per execution — a
    * range-bounds sampling pass over the child, a range exchange, and the
    * sort — i.e. two whole extra jobs under AQE, paid by every execution
    * of ~every declared query. When the output is a bounded report (group
    * counts over enum-grade keys: order status, return flag, language —
    * cardinality independent of corpus size), `coalesce(1) +
    * sortWithinPartitions` produces the IDENTICAL row sequence (same
    * comparator, total keys, one partition = global order) with no
    * sampling job and no range exchange; the single task sorts a handful
    * of rows at ANY corpus scale, and the upstream aggregation keeps its
    * parallelism (partial aggregates are unaffected; only the final,
    * groups-sized reduce folds into the one task).
    *
    * NOT for O(input) outputs — full-table projections, per-row scores,
    * change feeds: those keep the distributed range sort (a single-task
    * sort of a billion rows is the straggler shape §2 exists to kill).
    * Callers assert that the output is report-sized BY CONSTRUCTION
    * (bounded group cardinality), not just small at the test SF. */
  def reportSort(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys: _*)

  /** Chainable syntax for [[reportSort]]: `frame.reportSort("k")` is a
    * drop-in replacement for a trailing `.orderBy("k")` on report-sized
    * output (same row sequence — see [[reportSort]]'s contract). */
  implicit class ReportSortSyntax(private val df: DataFrame) {
    def reportSort(key: String, keys: String*): DataFrame =
      df.coalesce(1).sortWithinPartitions(key, keys: _*)
    def reportSort(keys: org.apache.spark.sql.Column*): DataFrame =
      df.coalesce(1).sortWithinPartitions(keys: _*)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.getOrBuild(spark, path)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Schema-pinned non-parquet ingestion (VERDICT r9 missing #3 — the most
    * common first mile for a real user is JSONL or CSV, not parquet).
    * Format is picked from the path suffix; the caller PINS the schema
    * (usually the parquet twin's), so inference never scans the data twice
    * or drifts types between batches, and reads are PERMISSIVE: a corrupt
    * line yields null columns (captured whole when the schema declares
    * Spark's `columnNameOfCorruptRecord`) instead of failing a 100 TB
    * ingest at row one-billion. Both readers split cleanly across
    * executors (JSONL and non-multiline CSV are line-splittable), so the
    * ingest parallelizes exactly like the parquet scan it feeds. */
  def loadAs(spark: SparkSession, path: String, schema: StructType): DataFrame =
    path match {
      case p if p.endsWith(".jsonl") || p.endsWith(".json") =>
        sources.Sources.jsonl(spark, p, schema)
      case p if p.endsWith(".csv") =>
        sources.Sources.csv(spark, p, schema)
      case p => spark.read.schema(schema).parquet(p)
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** ns-epoch long column -> µs TimestampType. THE one definition of the
    * nanosAsLong rebuild (FIXTURES.md pitfall), shared by the batch and
    * streaming readers so the two paths cannot diverge. Integer `div`
    * truncation — ns epochs ~1.7e18 exceed double's 2^53 mantissa, so float
    * division would corrupt the low bits. */
  def nsLongToMicrosTs(colName: String): org.apache.spark.sql.Column =
    timestamp_micros(expr(s"$colName div 1000"))

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read as
    * a timestamp; sessions set spark.sql.legacy.parquet.nanosAsLong=true
    * (see GraftSession) and the long is rebuilt here. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // cast to NTZ: matches how Spark 4 reads the other tables' naive
        // parquet timestamps (and how DuckDB sees them); UTC session => the
        // LTZ->NTZ rebase is the identity.
        df.withColumn("ts", nsLongToMicrosTs("ts").cast("timestamp_ntz"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Table accessor by name, applying any per-table normalization (events'
    * ns-long → timestamp rebuild) — the one lookup both the DataFrame and
    * SQL surfaces share. */
  def table(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case n => load(s, d, n)
  }

  /** Register all tables as temp views (for `spark.sql` surfaces). Goes
    * through [[table]], NOT raw [[load]]: a raw-load registration would
    * hand SQL users an events.ts that is still a nanosecond long while the
    * DataFrame surface sees a timestamp — the two surfaces must agree. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
