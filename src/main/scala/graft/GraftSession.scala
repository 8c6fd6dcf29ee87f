package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession

/** Single place for the session config the engine depends on.
  *
  * Local filesystem: the `file` scheme resolves to
  * [[GraftLocalFileSystem]], which sets permission bits in-process, so no
  * write forks a `chmod` (the stock `RawLocalFileSystem` forks one per
  * file, `.crc` sidecar and directory when `libhadoop` is absent). Modes,
  * the `fs.permissions.umask-mode` umask and the checksum sidecars are
  * exactly the stock filesystem's. Caveat: Hadoop caches filesystems per
  * (scheme, authority, user), not per implementation class, so whichever
  * caller resolves `file://` first in a JVM fixes the class for all
  * others. When that was a bare `Configuration` (which resolves Hive's
  * `ProxyLocalFileSystem` through the service loader), writes stay
  * correct but fork again; [[install]] logs one WARN in that case. */
object GraftSession {
  private[graft] val LocalFsKey = "fs.file.impl"
  private[graft] val LocalFsClass = classOf[GraftLocalFileSystem].getName

  /** Entries of Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`), sized so that every class the
    * declared queries generate is compiled once per JVM, not once per
    * execution. At Spark's default of 100 the 16 queries of one benchmark
    * pass (about 205 distinct classes) evict each other, and every
    * execution compiles its code again.
    *
    * Contract: the cache is one LRU per JVM. It is a static SQL conf that
    * Spark reads when its code generator first loads, so the first session
    * that generates code fixes the size for the life of the JVM, and a
    * later session's setting has no effect.
    *
    * Measured over all 215 declared queries on 4 cores: 2,366 distinct
    * classes at sf0.01 and 2,378 at sf0.1. Holding the 2,366 costs about
    * +16 MB of Metaspace, +3 MB of compressed class space and +8 MB of
    * code heap; a full cache, scaled linearly, about 1.7 times that. */
  private[graft] val CodegenCacheEntries = 4096

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // native engine functions (cosine_similarity) via Catalyst extensions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); Spark 4 can only surface it as
      // a long (Tables.events converts to a µs TimestampType).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs parquet timestamps on write (not INT96/ns) so the driver's reader
      // sees the same logical type DuckDB produces for the oracle result.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // let keyed ops consume the graft connectors' on-disk clustering
      // (KeyGroupedPartitioning reported by IvfScan/IndexScan): without this
      // Spark ignores connector-reported partitioning and re-shuffles data
      // the layout already groups by cid / term-bucket
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.$LocalFsKey", LocalFsClass)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  def local(cpus: Int): SparkSession =
    install(builder(s"local[$cpus]", cpus).getOrCreate())

  /** Post-create installation for the one hook the extensions API cannot
    * reach: `experimental.extraOptimizations` runs as the LAST
    * optimizer batch ("User Provided Optimizers") — the only injection
    * point sequenced AFTER the V2 push-down batch that creates the
    * V1ScanWrapper [[graft.plans.RestoreV1ScanStatistics]] rewrites
    * (injectOptimizerRule and injectPreCBORule both run before it).
    * Idempotent; every engine entry point wraps its getOrCreate. It also
    * resolves `file://` under the session's Hadoop conf, which claims the
    * JVM's filesystem cache entry for [[GraftLocalFileSystem]] unless an
    * earlier caller took it (then one WARN, see the object doc). */
  def install(s: SparkSession): SparkSession = {
    if (!s.experimental.extraOptimizations
        .contains(graft.plans.RestoreV1ScanStatistics))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+
          graft.plans.RestoreV1ScanStatistics
    foreignLocalFs(s.sparkContext.hadoopConfiguration).foreach { cls =>
      if (localFsWarned.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"file:// resolves to $cls, not $LocalFsClass: it was cached " +
            "before the engine session, so local writes fork a chmod per file")
    }
    s
  }

  private val localFsWarned = new AtomicBoolean(false)

  /** The class `file://` resolves to under `conf` (through the JVM's
    * filesystem cache) when it is not the engine's. */
  private[graft] def foreignLocalFs(
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), conf)
    if (fs.isInstanceOf[GraftLocalFileSystem]) None
    else Some(fs.getClass.getName)
  }
}
