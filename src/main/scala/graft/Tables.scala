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

  /** Estimated scan parallelism: max(files, total bytes / split size).
    * File count alone under-estimates, because Spark splits a file larger
    * than `spark.sql.files.maxPartitionBytes` across tasks. Single-row-group
    * files can defeat the bytes term (splits beyond the one row group come
    * up empty), which errs toward skipping the fan-out, the conservative
    * side. The bytes term counts only when the size is known: a relation
    * without statistics (a connector frame such as a commit-log change
    * feed) reports `spark.sql.defaultSizeInBytes`, which would saturate
    * it, so such a frame is judged by its file count alone. NonFatal only:
    * an OOM or interrupt must propagate, not degrade into a repartition
    * decision. */
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

  /** Spreads rows across the session's shuffle parallelism before a
    * per-row-expensive stage (heavy expressions, explode + partial
    * aggregation). A single-row-group parquet file scans as one task
    * whatever the split config, so everything up to the first exchange
    * would otherwise run serially: the single-file straggler shape, which
    * a production corpus hits whenever one input file dominates. The
    * exchange carries the frame once; the parallelism is
    * `spark.sql.shuffle.partitions`, which [[GraftSession]] derives from
    * the session's core count. The explicit partition count keeps AQE's
    * small-shuffle coalescing from folding the fan-out back into one task.
    *
    * Conditional: the fan-out is an input-skew remedy, so it fires only
    * when the estimated scan parallelism ([[scanParallelism]]) is below
    * the shuffle parallelism. A scan that already fans itself out (many
    * files, or one file larger than a split) takes the identity path,
    * since the extra exchange would move the payload once for nothing. */
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
