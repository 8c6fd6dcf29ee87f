package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}

/** The connector surface for [[CommitLog]] tables (VERDICT r11 #1/#3) —
  * the same packaging the graft.index / graft.ivf sources already have, so
  * a commit-log table reads like any Spark table instead of through
  * library calls:
  *
  * {{{
  * spark.read.format("graft.commitlog")
  *   .option("root", "/tables/orders")      // or .load("/tables/orders")
  *   .load()                                 // newest committed snapshot
  *   .filter($"bucket" === 2)                // prunes dirs via commit stats
  *
  * spark.read.format("graft.commitlog").option("versionAsOf", "2")
  *   .load("/tables/orders")                 // time travel
  *
  * spark.read.format("graft.commitlog").option("changesSince", "1")
  *   .load("/tables/orders")                 // CDF: typed change rows
  *
  * spark.readStream.format("graft.commitlog")
  *   .option("maxCommitsPerTrigger", "1")    // admission control
  *   .load("/tables/orders")                 // micro-batch append tail
  *
  * spark.readStream.format("graft.commitlog")
  *   .option("readChangeFeed", "true")       // CDF stream: typed change
  *   .load("/tables/orders")                 // rows, merges ride through
  *
  * df.write.format("graft.commitlog")        // WRITES route through the
  *   .mode("append")                          // commit protocol (r13):
  *   .option("evolve", "true")                // additive widening,
  *   .option("statsCols", "day,tenant")       // recorded skipping stats,
  *   .option("txnAppId", "job7")              // idempotent txn appends
  *   .option("txnVersion", "42")
  *   .save("/tables/orders")
  *
  * restated.write.format("graft.commitlog").mode("overwrite")
  *   .option("replaceWhere", "day = 5")      // dir-pruned restatement
  *   .save("/tables/orders")
  *
  * stream.writeStream.format("graft.commitlog")
  *   .option("txnAppId", "ingest")           // exactly-once sink
  *   .option("checkpointLocation", ckpt).start("/tables/orders")
  * }}}
  *
  * Architecture (the published Delta pattern, not a new read engine):
  * snapshot and time-travel reads return a [[HadoopFsRelation]] whose
  * [[CommitLogFileIndex]] lists exactly the commit's immutable data
  * directories — Spark's OWN vectorized parquet reader, predicate
  * pushdown, and column pruning all apply unchanged, and the FileIndex
  * prunes whole DIRECTORIES at planning from the pushed data filters
  * through the SAME decisions the library route uses
  * ([[CommitLog.statsKeepDirs]] for recorded min/max ranges,
  * [[CommitLog.bloomKeepDirs]] for sidecar point probes) — the two routes
  * cannot prune differently. The change-feed read delegates to
  * [[CommitLog.changesSince]] (whose inner reads are the same vectorized
  * parquet scans) behind a [[TableScan]]; the one extra cost is the
  * row-conversion boundary, proportional to the DELTA's size — the feed is
  * delta-sized by construction, never table-sized.
  *
  * The streaming read is a V1 [[Source]] with admission control — the
  * FileStreamSource shape: offsets are COMMIT VERSIONS (the log's own
  * unit). A fresh stream BOOTSTRAPS from the head snapshot (first batch =
  * the table's state, whatever shapes built it), then delivers the rows
  * row-visible commits append, as ordinary schema-pinned parquet reads;
  * rowInvisible compactions ride through silently, and a rewrite/merge in
  * an incremental window fails loudly (a tail delivers appends;
  * retractions need a resync — the same contract as
  * [[CommitLog.appendedSince]]). `option("startingVersion", v)` opts into
  * append replay from a retained version instead of the bootstrap.
  * Exactly-once end-to-end comes from the engine's offset checkpoint plus
  * [[CommitLog.commitAppendOnce]] on the sink side.
  *
  * At 100 TB: planning cost is O(head's directory count) listing + the
  * pruned dirs' footers; a stats/bloom-pruned probe reads O(matching dirs);
  * a streaming micro-batch reads O(new commits' rows). Nothing here scans
  * history to answer a head read.
  */
final class CommitLogSource extends DataSourceRegister
    with RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider {
  import CommitLogSource._

  override def shortName(): String = "graft.commitlog"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(spark, parameters)
    val versionAsOf = parameters.get("versionAsOf").map(_.toLong)
    val timestampAsOf = parameters.get("timestampAsOf").map(_.toLong)
    // option-combination validation FIRST (ADVICE r13): resolving
    // changesSinceTimestamp below does log I/O and can throw its own
    // resolution errors — a conflicting combination must get the clean
    // conflict message, not a confusing downstream failure
    require(Seq(versionAsOf, timestampAsOf,
      parameters.get("changesSince"),
      parameters.get("changesSinceTimestamp")).count(_.isDefined) <= 1,
      "graft.commitlog takes versionAsOf OR timestampAsOf OR changesSince " +
        "OR changesSinceTimestamp, not a combination")
    // the CDF window opens at a version, or (r13) at a wall-clock — the
    // newest commit strictly before the timestamp becomes the exclusive
    // base, so the feed delivers every commit at-or-after it (the
    // startingTimestamp rule applied to the batch route)
    val changesSince = parameters.get("changesSince").map(_.toLong)
      .orElse(parameters.get("changesSinceTimestamp").map(ts =>
        CommitLog.versionBeforeTimestamp(spark, root, ts.toLong)))
    changesSince match {
      case Some(since) =>
        val head = CommitLog.latest(spark, root).getOrElse(
          throw new IllegalArgumentException(
            s"graft.commitlog: no commits at $root"))
        def notReadable(sinceV: Long): Nothing =
          throw new IllegalArgumentException(
            s"graft.commitlog: changes since v$sinceV at $root are not " +
              "incrementally readable (rewrite/purge intervened, or the " +
              "base version was vacuumed) — resync from a snapshot read")
        val df =
          if (head.version <= since)
            // already at (or past) the head: an EMPTY feed, so schedulable
            // consumers poll without special-casing the caught-up state
            CommitLog.readCommit(spark, root, head).limit(0)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(head.version))
          else if (since == 0L) {
            // from-zero window ("everything"): v1's full content opens the
            // feed as inserts — v1 must still be retained for the window
            // to be exact (the stream's replay-from-0 contract)
            val c1 = CommitLog.commitAt(spark, root, 1L).getOrElse(
              throw new IllegalArgumentException(
                s"graft.commitlog: a changes window from version 0 at " +
                  s"$root is impossible — version 1 was vacuumed; read a " +
                  "snapshot instead"))
            val first = CommitLog.readCommit(spark, root, c1)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(1L))
            if (head.version <= 1L) first
            else first.unionByName(
              CommitLog.changesSince(spark, root, 1L, head)
                .getOrElse(notReadable(1L)),
              allowMissingColumns = true)
          }
          else CommitLog.changesSince(spark, root, since, head)
            .getOrElse(notReadable(since))
        new CommitLogChangesRelation(sqlContext, df)
      case None =>
        val commit = (versionAsOf, timestampAsOf) match {
          case (Some(v), _) => CommitLog.commitAt(spark, root, v).getOrElse(
            throw new IllegalArgumentException(
              s"graft.commitlog: version $v at $root was vacuumed or never " +
                "committed"))
          // TIMESTAMP AS OF (r13): the Delta rule — newest commit whose
          // (monotonized) wall-clock is at-or-before the given epoch-ms;
          // resolution failures (pre-timestamp commits, a ts before the
          // earliest retained commit) throw loudly in commitAtTimestamp
          case (None, Some(ts)) => CommitLog.commitAtTimestamp(spark, root, ts)
          case (None, None) => CommitLog.latest(spark, root).getOrElse(
            throw new IllegalArgumentException(
              s"graft.commitlog: no commits at $root"))
        }
        snapshotRelation(spark, root, commit, parameters)
    }
  }

  /** The WRITE half of the connector (VERDICT r12 #1): `df.write
    * .format("graft.commitlog")` routes through the commit protocol —
    * never a raw parquet write — so connector writes and library writes
    * produce byte-identical commit JSON and contend through the same
    * optimistic claim.
    *
    *  - `mode("append")` → [[CommitLog.commitAppend]] (O(delta): the new
    *    rows + one log file), honoring `option("evolve","true")` for
    *    additive schema widening and `option("statsCol"/"statsCols", …)`
    *    for recorded min/max skipping stats; with
    *    `option("txnAppId", …)` + `option("txnVersion", …)` it becomes
    *    [[CommitLog.commitAppendOnce]] — the Delta idempotent-writer
    *    shape (re-delivering the same txnVersion is a no-op).
    *  - `mode("overwrite")` → [[CommitLog.commit]] rewrite (action
    *    "overwrite"; "create" on an empty table).
    *  - `mode("errorifexists")` (the default) creates, and throws if the
    *    table already has commits; `mode("ignore")` no-ops then.
    *
    * Returns the written version's snapshot relation. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(spark, parameters)
    val writer = parameters.getOrElse("writer", "connector")
    val evolve = parameters.get("evolve").exists(_.toBoolean)
    val statsCols = statsColsOf(parameters)
    val txnAppId = parameters.get("txnAppId")
    val txnVersion = parameters.get("txnVersion").map(_.toLong)
    require(txnAppId.isDefined == txnVersion.isDefined,
      "graft.commitlog: txnAppId and txnVersion must be passed together")
    val exists = CommitLog.latest(spark, root).isDefined
    val commit = mode match {
      case SaveMode.Append => txnAppId match {
        case Some(app) =>
          require(!evolve,
            "graft.commitlog: evolve is not supported with txn options — " +
              "idempotent appends pin the head schema")
          CommitLog.commitAppendOnce(spark, root, writer, "append",
            appId = app, batchId = txnVersion.get,
            statsCols = statsCols)(data)
        case None =>
          // the create label resolves PER CLAIM ATTEMPT inside the verb
          // (code review r14): a pre-read exists flag would stamp a
          // racing loser's v2 as "create"
          CommitLog.commitAppend(spark, root, writer, "append",
            statsCols = statsCols, evolve = evolve,
            createOnEmpty = true)(data)
      }
      case SaveMode.Overwrite => parameters.get("replaceWhere") match {
        // PARTIAL overwrite (the Delta replaceWhere shape, r13): one
        // serializable rewrite commit replacing exactly the rows matching
        // the predicate with the incoming frame — the idempotent
        // "restate this day/partition" pattern, with MERGE-style
        // copy-on-write dir pruning: only dirs whose recorded evidence
        // says they might hold a matching row are rewritten (see
        // CommitLog.replaceWhere). Delta's constraint holds: every
        // incoming row must itself satisfy the predicate.
        case Some(condSql) =>
          CommitLog.replaceWhere(spark, root, writer,
            org.apache.spark.sql.functions.expr(condSql), data,
            statsCols = statsCols)
        case None =>
          CommitLog.commit(spark, root, writer, "overwrite",
            statsCols = statsCols, createOnEmpty = true)(_ => data)
      }
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft.commitlog: $root already has commits — use " +
            "mode(\"append\") or mode(\"overwrite\")")
        CommitLog.commit(spark, root, writer, "create",
          statsCols = statsCols)(_ => data)
      case SaveMode.Ignore =>
        if (exists) CommitLog.latest(spark, root).get
        else CommitLog.commit(spark, root, writer, "create",
          statsCols = statsCols)(_ => data)
    }
    snapshotRelation(spark, root, commit, parameters)
  }

  /** `writeStream.format("graft.commitlog")` — the exactly-once streaming
    * sink: each micro-batch appends through
    * [[CommitLog.commitAppendOnce]] keyed by (appId, batchId), so the
    * engine's at-least-once re-delivery after a crash between sink write
    * and checkpoint advance no-ops against the txn watermark — the
    * packaged form of [[graft.streaming.StreamOps.runStreamToCommitLog]].
    * The appId comes from `option("txnAppId", …)` or, by default, a
    * stable digest of the query's checkpoint location (the identity that
    * already defines "the same query" across restarts). Append output
    * mode only — a commit-log table is an append log; rewrites go through
    * merge/commit. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft.commitlog sink supports Append output mode, got $outputMode")
    require(partitionColumns.isEmpty,
      "graft.commitlog sink does not take partitionBy — layout is the " +
        "table's compact/zorder cadence")
    val root = rootOf(sqlContext.sparkSession, parameters)
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map(p =>
        "sink-" + java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)))
      .getOrElse(throw new IllegalArgumentException(
        "graft.commitlog sink needs option(\"txnAppId\", ...) or a " +
          "checkpointLocation to derive a stable writer identity from"))
    new CommitLogSink(root, appId, statsColsOf(parameters))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = rootOf(sqlContext.sparkSession, parameters)
    // option misuse fails at LOAD (sourceSchema runs at resolution), not
    // only when the query starts
    require(parameters.get("startingVersion").isEmpty ||
      parameters.get("startingTimestamp").isEmpty,
      "graft.commitlog stream takes startingVersion OR startingTimestamp, " +
        "not both")
    val base = schema.orElse(
      CommitLog.readLatest(sqlContext.sparkSession, root).map(_.schema))
      .getOrElse(throw new IllegalArgumentException(
        s"graft.commitlog stream: $root has no commits yet and no schema " +
          "was given — pass .schema(...) to tail a not-yet-created table"))
    // the CDF stream (r13) delivers typed change rows: payload columns
    // plus the Delta change-feed vocabulary — when a user schema was
    // given it is the PAYLOAD schema, the change columns are ours
    val s =
      if (readChangeFeedOf(parameters))
        StructType(base.fields.filterNot(f =>
          f.name == "_change_type" || f.name == "_commit_version") ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false)))
      else base
    (s"graft.commitlog($root)", s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(sqlContext.sparkSession, parameters)
    // default (no startingVersion): BOOTSTRAP — first batch is the head
    // SNAPSHOT, then incremental appends (the runCommitLogTail contract;
    // code review r12: replaying history from v1 permanently fails on any
    // table whose retained history holds a merge/rewrite or whose early
    // versions were vacuumed — i.e. most real tables). An explicit
    // startingVersion opts into append REPLAY from that version, for
    // consumers that want the retained history as insert batches.
    val startingVersion = parameters.get("startingVersion").map(_.toLong)
    // startingTimestamp (r13, Delta's rule): replay from the first commit
    // whose monotonized wall-clock is at-or-after the given epoch-ms —
    // resolved ONCE at query start to a version floor (offsets stay
    // versions, so the checkpoint is timestamp-free and restarts are
    // deterministic even as the clock-to-version mapping grows)
    val startingTimestamp = parameters.get("startingTimestamp").map(_.toLong)
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      "graft.commitlog stream takes startingVersion OR startingTimestamp, " +
        "not both")
    val floor = startingVersion.orElse(startingTimestamp.map(ts =>
      CommitLog.versionBeforeTimestamp(sqlContext.sparkSession, root, ts)))
    val maxCommits = parameters.get("maxCommitsPerTrigger").map(_.toInt)
    maxCommits.foreach(n => require(n >= 1,
      s"maxCommitsPerTrigger must be >= 1, got $n"))
    new CommitLogStreamSource(sqlContext.sparkSession, root,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      floor, maxCommits, readChangeFeedOf(parameters))
  }
}

object CommitLogSource {
  /** The table root: a filesystem path, or (r14) a `<catalog>.<table>`
    * NAME resolved through the session's GraftCatalog registration — so
    * CDF, time travel, streaming tails, and the exactly-once sink all
    * work without a raw path once a table is cataloged
    * ([[GraftCatalog.commitLogRootByName]] owns the sound-or-None
    * detection: anything that could be a path stays a path). */
  private def rootOf(spark: SparkSession,
      parameters: Map[String, String]): String = {
    val raw = parameters.get("root").orElse(parameters.get("path"))
      .orElse(parameters.get("location"))
      .getOrElse(throw new IllegalArgumentException(
        "graft.commitlog requires .option(\"root\", <table root or " +
          "catalog.table name>) or load(<table root>)"))
    GraftCatalog.commitLogRootByName(spark, raw).getOrElse(raw)
  }

  private def readChangeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** The declared skipping-stats column set: `statsCols` (comma-separated)
    * plus the single `statsCol`, deduped. */
  private def statsColsOf(parameters: Map[String, String]): Seq[String] =
    (parameters.get("statsCol").toSeq ++
      parameters.get("statsCols").toSeq.flatMap(_.split(','))
        .map(_.trim).filter(_.nonEmpty)).distinct

  /** A pushed DELETE filter as a Column, or None when the shape has no
    * faithful translation — `canDeleteWhere` then refuses the statement
    * (a partial translation would delete the wrong rows). */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{sources => f1}
    f match {
      case f1.EqualTo(a, v) => Some(col(a) === lit(v))
      case f1.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case f1.GreaterThan(a, v) => Some(col(a) > lit(v))
      case f1.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case f1.LessThan(a, v) => Some(col(a) < lit(v))
      case f1.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case f1.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case f1.IsNull(a) => Some(col(a).isNull)
      case f1.IsNotNull(a) => Some(col(a).isNotNull)
      case f1.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case f1.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case f1.StringContains(a, v) => Some(col(a).contains(v))
      case f1.And(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
      case f1.Or(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
      case f1.Not(c) => filterToColumn(c).map(!_)
      case f1.AlwaysTrue() => Some(lit(true))
      case f1.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The snapshot read plan for one committed version: Spark's own parquet
    * relation over a [[CommitLogFileIndex]]. Shared by the options route
    * and [[GraftCatalog]].
    *
    * A commit carrying DELETION VECTORS (r16) cannot be a bare file scan
    * — its visible rows are dirs MINUS vectors — so it plans as a
    * [[CommitLogDvRelation]] over the library's one DV-aware read
    * instead (pushed filters/columns still reach the inner parquet scans
    * through Catalyst; directory-index pruning returns once [[CommitLog
    * .compact]] materializes the vectors away — the transitional-state
    * trade the DV write economics buy). */
  private[sources] def snapshotRelation(spark: SparkSession, root: String,
      commit: CommitLog.Commit,
      options: Map[String, String]): BaseRelation = {
    if (CommitLog.needsMergeOnRead(commit))
      return new CommitLogDvRelation(spark.sqlContext,
        CommitLog.readCommit(spark, root, commit))
    val schema = CommitLog.readCommit(spark, root, commit).schema
    HadoopFsRelation(new CommitLogFileIndex(spark, root, commit),
      partitionSchema = StructType(Nil), dataSchema = schema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = options)(spark)
  }

  /** The dirs of `commit` a scan (or a partial rewrite) constrained by
    * `dataFilters` must touch — conservative evidence-based pruning over
    * the commit's recorded per-column min/max stats and the table's bloom
    * sidecars. Shared by [[CommitLogFileIndex.listFiles]] (pushed-filter
    * scan planning) and [[CommitLog.replaceWhere]] (which dirs a
    * restatement must rewrite), so the two decisions are identical by
    * construction. */
  /** The conjunct-derived [lo, hi] probe for every RECORDED stats column
    * (r13/r18): each recorded column contributes its own range narrowed
    * from the pushed conjuncts. Shared by the per-DIR pruning below and the per-FILE pruning in
    * [[CommitLogFileIndex.listFiles]] so the two granularities can never
    * disagree about what a predicate implies. */
  private[graft] def evidenceProbes(commit: CommitLog.Commit,
      dataFilters: Seq[Expression]): Seq[(String, Long, Long)] =
    commit.statsCols.flatMap { sc =>
        var lo = Long.MinValue
        var hi = Long.MaxValue
        var any = false
        def narrowLo(v: Long): Unit = { lo = math.max(lo, v); any = true }
        def narrowHi(v: Long): Unit = { hi = math.min(hi, v); any = true }
        dataFilters.foreach {
          case EqualTo(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach { v => narrowLo(v); narrowHi(v) }
          case EqualTo(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach { v => narrowLo(v); narrowHi(v) }
          // <=> with a non-null literal narrows exactly like = (r19 —
          // the static partition-overwrite face); null literals skip
          // (litLong returns None)
          case EqualNullSafe(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach { v => narrowLo(v); narrowHi(v) }
          case EqualNullSafe(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach { v => narrowLo(v); narrowHi(v) }
          // strict bounds kept LOOSE (>v treated as >=v): pruning may only
          // ever be conservative, and dir stats are inclusive ranges
          case GreaterThan(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach(narrowLo)
          case GreaterThanOrEqual(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach(narrowLo)
          case LessThan(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach(narrowHi)
          case LessThanOrEqual(a: Attribute, l: Literal) if a.name == sc =>
            litLong(l).foreach(narrowHi)
          case GreaterThan(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach(narrowHi) // lit > col  ==  col < lit
          case GreaterThanOrEqual(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach(narrowHi)
          case LessThan(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach(narrowLo) // lit < col  ==  col > lit
          case LessThanOrEqual(l: Literal, a: Attribute) if a.name == sc =>
            litLong(l).foreach(narrowLo)
          case In(a: Attribute, elems) if a.name == sc &&
              elems.forall(e => e.isInstanceOf[Literal] &&
                litLong(e.asInstanceOf[Literal]).isDefined) =>
            val vs = elems.map(e => litLong(e.asInstanceOf[Literal]).get)
            narrowLo(vs.min); narrowHi(vs.max)
          // LIKE 'p%' over a recorded string column (r17): every match
          // extends the prefix, so its encoding sits in [prefix padded
          // 0x00, prefix padded 0xFF] — the range scan shape string
          // stats exist for
          case org.apache.spark.sql.catalyst.expressions.StartsWith(
              a: Attribute, Literal(p, StringType)) if a.name == sc &&
              p != null =>
            narrowLo(encodeStringStat(p.toString, 0x00))
            narrowHi(encodeStringStat(p.toString, 0xff))
          case _ => () // unrecognized shape: contributes no narrowing
        }
        if (!any) None else Some((sc, lo, hi))
    }

  /** A pushed literal rendered EXACTLY as the write side recorded the
    * dir's partition values (Spark's cast-to-string over the
    * partitionable types) — None outside that set: the conjunct then
    * cannot prune. The JVM twin of [[CommitLog.stagePartitioned]]'s
    * shadow-column cast. */
  private def partValue(v: Any, dt: DataType): Option[String] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.toString)
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        Some(v.toString)
      case DateType => Some(java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong).toString)
      case _ => None
    }

  /** PARTITION pruning (r19 — VERDICT r18 #1): a dir whose recorded
    * partition tuple fails an equality/IN conjunct on a partition column
    * provably holds no qualifying row — exact identity, not a range.
    * Dirs without recorded values (pre-partitioning commits, verbs that
    * stage unsplit) are always kept: advisory, prune-only, the stats
    * discipline. Keep-sets intersect across partition columns (the
    * conjuncts are ANDed). */
  private[graft] def partKeepDirs(commit: CommitLog.Commit,
      dataFilters: Seq[Expression],
      from: Seq[String]): Seq[String] = {
    if (commit.partitionBy.isEmpty || commit.partVals.isEmpty)
      return from
    commit.partitionBy.zipWithIndex.foldLeft(from) {
      case (kept, (pc, idx)) =>
        // a conjunct contributes only when its value set is COMPLETE for
        // the column (every qualifying row's value is in the set); the
        // static INSERT OVERWRITE … PARTITION face compiles to <=>
        // (null-safe) — a non-null literal prunes exactly like =, and a
        // null literal contributes nothing (partValue = None disables
        // its conjunct)
        val sets: Seq[Set[String]] =
          completeLiteralSets(dataFilters, pc).flatMap { lits =>
            val vs = lits.map(l => partValue(l.value, l.dataType))
            if (vs.nonEmpty && vs.forall(_.isDefined)) Some(vs.flatten.toSet)
            else None
          }
        if (sets.isEmpty) kept
        else kept.filter { d =>
          commit.partVals.get(d) match {
            case Some(vs) if vs.length > idx =>
              sets.forall(_.contains(vs(idx)))
            case _ => true // no recorded identity: kept (advisory)
          }
        }
    }
  }

  /** The equality/IN conjuncts pinning `name` whose literal set is
    * COMPLETE — every row satisfying the conjunct has its value among
    * the returned literals (code review r19: this extraction existed in
    * three near-identical copies). One inner Seq per conjunct; callers
    * map their own rendering over the literals, and any element that
    * fails to render disables that conjunct (prune-only soundness: an
    * incomplete set must never prune). EqualNullSafe with a null
    * literal yields Literal(null) — renderers return None for it, which
    * correctly disables the conjunct. */
  private def completeLiteralSets(filters: Seq[Expression],
      name: String): Seq[Seq[Literal]] = filters.flatMap {
    case EqualTo(a: Attribute, l: Literal) if a.name == name => Some(Seq(l))
    case EqualTo(l: Literal, a: Attribute) if a.name == name => Some(Seq(l))
    case EqualNullSafe(a: Attribute, l: Literal) if a.name == name =>
      Some(Seq(l))
    case EqualNullSafe(l: Literal, a: Attribute) if a.name == name =>
      Some(Seq(l))
    case In(a: Attribute, elems) if a.name == name &&
        elems.nonEmpty && elems.forall(_.isInstanceOf[Literal]) =>
      Some(elems.map(_.asInstanceOf[Literal]))
    case _ => None
  }

  /** DERIVED partition probes (r19 close — the Delta generated-
    * partition-column pruning rule): when a PARTITION column is
    * GENERATED ALWAYS AS an expression over exactly ONE other column
    * and the query pins that input with an equality/IN literal
    * conjunct, every qualifying row's partition value IS the expression
    * evaluated at the literal — so a filter on the INPUT (`ts = X`)
    * prunes the generated day/bucket partitions without the user ever
    * naming them. The values are computed by Catalyst constant folding,
    * ZERO jobs and ONE optimizer pass per conjunct (code review r19 —
    * not per IN element): all of a conjunct's literals bind through a
    * single VALUES relation (`l.sql` renders each — no textual
    * substitution inside the expression), and
    * `ConvertToLocalRelation` evaluates the projection into a
    * LocalRelation read off the OPTIMIZED plan; a deterministic
    * expression always folds this way, a non-deterministic one never
    * does. SESSION-CONFIG independence: the recorded values were
    * computed under the WRITER's session, so any fold whose analyzed
    * tree carries a timezone-dependent node is refused (Cast only when
    * the type pair actually consults the zone) — a zone-sensitive
    * expression folded under THIS session's spark.sql.session.timeZone
    * could disagree and mis-prune, and pruneDirsByEvidence also feeds
    * DELETE/UPDATE affected-dir selection, where a wrong prune is
    * silent wrong data. Anything failure-shaped — multi-input
    * expressions, parse errors, unfolded plans, unrenderable or NULL
    * outputs, row-count mismatches — contributes nothing:
    * conservative, prune-only, the stats discipline. */
  private def genPartitionProbes(spark: SparkSession,
      commit: CommitLog.Commit, dataFilters: Seq[Expression])
      : Map[String, Set[String]] = {
    if (commit.gens.isEmpty || commit.partitionBy.isEmpty) return Map.empty
    def foldAll(genExpr: String, inName: String,
        lits: Seq[Literal]): Option[Set[String]] =
      try {
        val rows = lits.map(l => s"(${l.sql})").mkString(", ")
        val df = spark.sql(s"SELECT ($genExpr) AS __g " +
          s"FROM (VALUES $rows) AS __t(`$inName`)")
        val sessionSensitive = df.queryExecution.analyzed.expressions
          .exists(_.exists {
            case c: org.apache.spark.sql.catalyst.expressions.Cast =>
              org.apache.spark.sql.catalyst.expressions.Cast
                .needsTimeZone(c.child.dataType, c.dataType)
            case _: org.apache.spark.sql.catalyst.expressions
                .TimeZoneAwareExpression => true
            // the CurrentLike family is deterministic-within-a-query but
            // session-dependent (current_database(), current_user()) —
            // setGeneratedColumns refuses these since r19, but a
            // legacy-recorded expression must still never fold here
            case x if x.getClass.getSimpleName.startsWith("Current") ||
                x.getClass.getSimpleName == "Now" ||
                x.getClass.getSimpleName == "LocalTimestamp" => true
            case _ => false
          })
        if (sessionSensitive) return None
        df.queryExecution.optimizedPlan match {
          case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
              if lr.output.length == 1 && lr.data.length == lits.length =>
            val dt = lr.output.head.dataType
            val vs = lr.data.map(r => partValue(r.get(0, dt), dt))
            if (vs.forall(_.isDefined)) Some(vs.flatten.toSet)
            else None // any unrenderable element: set incomplete
          case _ => None // did not fold (non-deterministic, unresolved)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    commit.gens.flatMap { case (p, e) =>
      if (!commit.partitionBy.contains(p)) None
      else {
        val refs = try {
          spark.sessionState.sqlParser.parseExpression(e).collect {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.name
          }.distinct
        } catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
        refs match {
          case Seq(in) if in != p && !in.contains('.') &&
              !in.contains('`') =>
            val sets: Seq[Set[String]] =
              completeLiteralSets(dataFilters, in).flatMap(lits =>
                foldAll(e, in, lits))
            if (sets.isEmpty) None
            else Some(p -> sets.reduce(_ intersect _))
          case _ => None
        }
      }
    }.toMap
  }

  private[graft] def pruneDirsByEvidence(spark: SparkSession, root: String,
      commit: CommitLog.Commit, dataFilters: Seq[Expression]): Seq[String] = {
    // ---- recorded-EMPTY dirs first (r19): a dir whose commit recorded
    // exactly 0 rows (the SQL-created seed, an emptied restatement
    // remainder) can never contribute — drop it from every plan. The
    // stats discipline: a missing/malformed entry keeps the dir. ----
    val nonEmpty = commit.dataDirs
      .filterNot(d => commit.rows.get(d).contains(0L))
    // ---- partition identity (r19): exact per-dir values, the
    // cheapest and sharpest evidence a partitioned table has ----
    val partKept0 = partKeepDirs(commit, dataFilters, nonEmpty)
    // ---- generated-input probes: a pinned generation INPUT implies
    // the partition value — intersect like any other evidence ----
    val partKept = genPartitionProbes(spark, commit, dataFilters)
      .foldLeft(partKept0) { case (kept, (pc, set)) =>
        val idx = commit.partitionBy.indexOf(pc)
        kept.filter { d =>
          commit.partVals.get(d) match {
            case Some(vs) if vs.length > idx => set.contains(vs(idx))
            case _ => true // no recorded identity: kept (advisory)
          }
        }
      }
    // ---- min/max stats: narrow a [lo, hi] range PER RECORDED COLUMN
    // (r13: the stats set can hold several columns — each contributes its
    // own conjunct-derived range, and a dir survives only if EVERY
    // recorded column's range intersects; intersecting keep-sets is sound
    // because the pushed conjuncts are ANDed) ----
    val statsKept: Seq[String] =
      evidenceProbes(commit, dataFilters).foldLeft(partKept) {
        case (kept, (sc, lo, hi)) =>
          kept.filter(CommitLog.statsKeepDirs(commit, sc, lo, hi).toSet)
      }
    // ---- bloom sidecars: point-probe an equality/IN literal set ----
    // Per-conjunct soundness: a value set is used only when it is COMPLETE
    // for its conjunct (every row satisfying the conjunct has its column
    // value in the set), so a dir whose sidecar rejects every probed value
    // provably holds no qualifying row. The union across such conjuncts
    // only widens the probe — conservative.
    // multi-column blooms (r17): EVERY registered bloom column with a
    // complete equality/IN value set among the conjuncts contributes a
    // point probe; keep-sets intersect (the conjuncts are ANDed), so
    // composite predicates prune on each bloomed column at once
    CommitLog.bloomColumns(spark, root).foldLeft(statsKept) { (kept, bc) =>
      val vals: Seq[Any] = completeLiteralSets(dataFilters, bc)
        .flatMap { lits =>
          val vs = lits.map(l => bloomValue(l.value, l.dataType))
          if (vs.forall(_.isDefined)) vs.flatten
          else Nil // any unconvertible element: set incomplete, unusable
        }
      if (vals.isEmpty) kept
      else {
        val bloomKept = CommitLog.bloomKeepDirs(spark, root, commit,
          bc, vals, requireMarker = true).toSet
        kept.filter(bloomKept)
      }
    }
  }

  /** A literal's value in the shared long stats domain
    * ([[CommitLog.statDomain]]'s JVM twin — r17, VERDICT r16 #2):
    * integrals exactly; DATE literals carry epoch-days and TIMESTAMP
    * literals epoch-micros INTERNALLY, which is precisely what the
    * write side records; STRING literals encode via
    * [[encodeStringStat]]. Anything else (null, fractional, complex)
    * disables stats narrowing for its conjunct (conservative). */
  private def litLong(l: Literal): Option[Long] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType => Some(l.value.asInstanceOf[Byte].toLong)
      case ShortType => Some(l.value.asInstanceOf[Short].toLong)
      case IntegerType => Some(l.value.asInstanceOf[Int].toLong)
      case LongType => Some(l.value.asInstanceOf[Long])
      case DateType => Some(l.value.asInstanceOf[Int].toLong)
      // internal micros → the write side's SECONDS domain (floorDiv,
      // matching Spark's own timestamp→long cast and unix_seconds; the
      // NTZ branch of statDomain computes the same floor zone-free)
      case TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        Some(Math.floorDiv(l.value.asInstanceOf[Long], 1000000L))
      case StringType => Some(encodeStringStat(l.value.toString, 0x00))
      case _ => None
    }

  /** A string's first 7 UTF-8 bytes as a big-endian unsigned long,
    * right-padded with `padByte` — 0x00 for point/lower bounds (the
    * write side's exact padding), 0xFF for a prefix's UPPER bound
    * (every extension of the prefix encodes at or below it). Monotone
    * (non-strict) in Spark's unsigned-byte string order; byte-for-byte
    * the JVM twin of [[CommitLog.statDomain]]'s string branch. */
  private[sources] def encodeStringStat(s: String, padByte: Int): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else padByte.toLong)
      i += 1
    }
    v
  }

  /** A literal rendered as the JVM value [[CommitLog.addBloom]]'s sidecars
    * were built from (integrals put as longs, strings as strings), or None
    * when the type has no sidecar representation — that conjunct then
    * cannot prune. */
  private def bloomValue(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.toString) // UTF8String -> String
      case ByteType => Some(java.lang.Long.valueOf(v.asInstanceOf[Byte].toLong))
      case ShortType => Some(java.lang.Long.valueOf(v.asInstanceOf[Short].toLong))
      case IntegerType => Some(java.lang.Long.valueOf(v.asInstanceOf[Int].toLong))
      case LongType => Some(java.lang.Long.valueOf(v.asInstanceOf[Long]))
      case BinaryType => Some(v.asInstanceOf[Array[Byte]])
      case _ => None
    }
}

/** [[FileIndex]] over one committed version's immutable data directories.
  *
  * `listFiles` is where the commit log's metadata meets Catalyst: the
  * pushed data filters are inspected for simple shapes on the table's
  * RECORDED stats column (a conjunction of =, <, <=, >, >=, IN narrows to
  * one [lo, hi] range) and RECORDED bloom column (=/IN literal sets), and
  * whole directories are dropped through the library's own
  * [[CommitLog.statsKeepDirs]] / [[CommitLog.bloomKeepDirs]] planning —
  * stats prune only on a RECORDED stats column and blooms take
  * `requireMarker` = true, because here the constraint is DERIVED rather
  * than caller-asserted, so a commit that never recorded evidence for the
  * column is never pruned on it. Unrecognized filter
  * shapes contribute nothing (conservative: scan). Row-level correctness
  * never depends on any of this — Spark re-applies every filter after the
  * scan, the same two-layer contract as [[CommitLog.readLatestWhere]].
  *
  * Listing happens ONCE per relation (directories are immutable until
  * vacuum, and a vacuum old enough to race a running query would be a
  * retention misconfiguration by the same contract the library route
  * documents); `refresh()` is therefore a no-op — time travel and
  * snapshot isolation come from the pinned [[CommitLog.Commit]]. */
private[graft] final class CommitLogFileIndex(spark: SparkSession,
    root: String, commit: CommitLog.Commit) extends FileIndex {

  private val fsys =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // dir name -> its parquet files, listed once (immutable once committed).
  // A MISSING directory fails loudly (code review r12): the commit lists
  // it, so absence means a vacuum outran this query's snapshot (or
  // external damage) — the library route's spark.read.parquet throws for
  // the same state, and a silent empty would return partial rows (worst
  // of all in a streaming batch, which must be exact or absent).
  private lazy val byDir: Seq[(String, Array[FileStatus])] =
    commit.dataDirs.map { d =>
      val p = new HPath(root, d)
      if (!fsys.exists(p)) throw new IllegalStateException(
        s"graft.commitlog: data directory $p of version ${commit.version} " +
          "is missing — vacuumed past this read's snapshot (raise retention " +
          "or re-resolve the head) or externally damaged")
      d -> fsys.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }

  override def rootPaths: Seq[HPath] =
    commit.dataDirs.map(d => new HPath(root, d))
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = byDir.iterator.flatMap(_._2).map(_.getLen).sum
  override def inputFiles: Array[String] =
    byDir.flatMap(_._2).map(_.getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = prunedDirs(dataFilters).toSet
    // PER-FILE pruning inside kept dirs (r18 — VERDICT r17 #6): commits
    // since r18 record `dir/file` → col → [min, max]; the SAME probes
    // that pruned dirs drop individual files whose recorded ranges miss,
    // so a predicate inside a big bin-packed (sorted/zordered) dir skips
    // files WITHOUT parquet footer reads at planning. Files/dirs without
    // recorded per-file stats are always kept — advisory, prune-only.
    val probes = CommitLogSource.evidenceProbes(commit, dataFilters)
    Seq(PartitionDirectory(InternalRow.empty,
      byDir.filter(kv => keep(kv._1)).flatMap { case (d, fs) =>
        fs.filter(st =>
          CommitLog.fileKeep(commit, d, st.getPath.getName, probes))
      }.toArray))
  }

  /** The directories a scan constrained by `dataFilters` must read —
    * exposed for the pruning spec (the connector twin of CommitLogSpec's
    * inputFiles proofs). Decision shared with the library's
    * [[CommitLog.replaceWhere]] (r13): both routes delegate to
    * [[CommitLogSource.pruneDirsByEvidence]], so a partial overwrite and
    * a filtered scan can never disagree about which dirs a predicate
    * might touch. */
  private[graft] def prunedDirs(dataFilters: Seq[Expression]): Seq[String] =
    CommitLogSource.pruneDirsByEvidence(spark, root, commit, dataFilters)
}

/** [[org.apache.spark.sql.execution.datasources.v2.parquet
  * .ParquetScanBuilder]] for the CATALOG route (r19), adding two things
  * Spark's parquet table cannot know on its own:
  *
  *  - DIR-LEVEL PRUNING from the commit record: the pushed data filters
  *    run through the SAME [[CommitLogSource.pruneDirsByEvidence]] the
  *    options route and replaceWhere use (stats + bloom + partition
  *    identity + recorded-empty), and the scan is rebuilt over only the
  *    kept dirs — `spark.table` now plans like the format route instead
  *    of footer-pruning every committed dir.
  *  - EXACT ROW-COUNT statistics (VERDICT r18 #4): FileScan statistics
  *    are compressed-byte estimates with no row count, which mis-size
  *    small-row/many-file dims; the commit knows the truth per dir. The
  *    reported count is the KEPT dirs' sum — an upper bound under
  *    pushed filters (Spark re-applies them above and estimates
  *    selectivity there), the same overestimate-only direction as
  *    Spark's own file-size stats. Skipped under a pushed aggregate
  *    (the scan's output cardinality is the group count, unknown).
  *
  * Pushdown behavior is inherited UNCHANGED — only `build()` differs. */
private final class CommitLogScanBuilder(
    sparkSession: SparkSession,
    root: String, commit: CommitLog.Commit,
    fileIndex: org.apache.spark.sql.execution.datasources
      .PartitioningAwareFileIndex,
    schema: StructType, dataSchema: StructType,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
  extends org.apache.spark.sql.execution.datasources.v2.parquet
    .ParquetScanBuilder(sparkSession, fileIndex, schema, dataSchema,
      options) {
  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val built = super.build()
    val keep = CommitLogSource.pruneDirsByEvidence(sparkSession, root,
      commit, built.dataFilters).toSet
    val keptDirs = commit.dataDirs.filter(keep)
    val rebuilt =
      if (keptDirs.size == commit.dataDirs.size) built
      else new org.apache.spark.sql.execution.datasources.v2.parquet
        .ParquetScan(built.sparkSession, built.hadoopConf,
          new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
            sparkSession, keptDirs.map(d => new HPath(root, d)),
            Map.empty, Some(dataSchema)),
          built.dataSchema, built.readDataSchema, built.readPartitionSchema,
          built.pushedFilters, built.options, built.pushedAggregate,
          built.partitionFilters, built.dataFilters,
          built.pushedVariantExtractions)
    val exact: Option[Long] =
      if (built.pushedAggregate.isDefined) None
      // dv is empty on this route (dv-bearing commits plan as V1Scan)
      else if (keptDirs.forall(commit.rows.contains))
        Some(keptDirs.map(commit.rows).sum)
      else None
    exact match {
      case Some(n) => new CommitLogStatsScan(rebuilt, n)
      case None => rebuilt
    }
  }
}

/** [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]]
  * overriding only `estimateStatistics` with the exact visible row
  * count; execution, pushdown state, metadata, and metrics are the
  * parquet scan's own (same constructor state). */
private final class CommitLogStatsScan(
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    rowCount: Long)
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
    inner.sparkSession, inner.hadoopConf, inner.fileIndex,
    inner.dataSchema, inner.readDataSchema, inner.readPartitionSchema,
    inner.pushedFilters, inner.options, inner.pushedAggregate,
    inner.partitionFilters, inner.dataFilters,
    inner.pushedVariantExtractions) {
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      // in-memory width estimate: per-field default sizes + row overhead
      // (Spark's own LeafNode sizing idiom) — truer than compressed file
      // bytes for broadcast decisions on small-row dims
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(CommitLogCatalogTable
          .rowWidthBytes(rowCount, readSchema()))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rowCount)
    }
}

private[graft] object CommitLogCatalogTable {
  /** The commit's EXACT visible row count (r19) — Some only when every
    * dir recorded its count and every dv-bearing dir its vectored
    * count; anything less degrades the route to size estimates, never
    * to a wrong exact number. */
  /** In-memory width estimate for `n` rows of `schema`: per-field
    * default sizes + row overhead (Spark's own LeafNode sizing idiom) —
    * truer than compressed file bytes for broadcast decisions on
    * small-row dims. The ONE copy all three statistics routes share
    * (code review r19: catalog scan, V1-DV fallback, relation). */
  private[sources] def rowWidthBytes(n: Long,
      schema: StructType): Long =
    math.max(1L, n * (schema.defaultSize + 8L))

  private[graft] def exactVisibleRows(c: CommitLog.Commit): Option[Long] =
    if (c.dataDirs.nonEmpty && c.dataDirs.forall(c.rows.contains) &&
        c.dv.keySet.forall(c.dvRows.contains))
      Some(math.max(0L, c.dataDirs.map(c.rows).sum -
        c.dv.keySet.toSeq.map(c.dvRows).sum))
    else None
}

/** Catalog face of a commit-log table ([[GraftCatalog]] provider
  * `graft.commitlog`): `spark.table("graft.my_table")` plans a DSv2
  * parquet read (vectorized, filter/column pushdown) over the NEWEST
  * commit's immutable directory list, resolved per query — snapshot
  * isolation by construction. WRITES (r13) go through the commit
  * protocol, never a raw parquet write: `INSERT INTO` appends via
  * [[CommitLog.commitAppend]] (O(delta)), `INSERT OVERWRITE` rewrites via
  * [[CommitLog.commit]] — the V1-write fallback shape (V1_BATCH_WRITE +
  * InsertableRelation), so the catalog route and the library route
  * produce identical commit JSON and contend through the same optimistic
  * claim. Time travel, the change feed, dir-pruned range/point reads,
  * and streaming tails/sinks use the `graft.commitlog` format options
  * route. */
private[graft] final class CommitLogCatalogTable(root: String,
    declaredSchema: Option[String] = None,
    pinnedCommit: Option[CommitLog.Commit] = None,
    private[graft] val pendingEvolution: Seq[StructField] = Nil)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
  import org.apache.spark.sql.sources.InsertableRelation
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private def spark = SparkSession.active
  // an EMPTY (created, never committed) table resolves through its
  // CREATE TABLE schema (r13): it plans an empty scan and accepts its
  // first INSERT — the SQL-only workflow. Schema priority mirrors the
  // read path: the head commit's recorded DDL (evolution), else parquet
  // footers (via ParquetTable inference), else the declared schema.
  // `pinnedCommit` (r14) is the TIME-TRAVEL face: `SELECT … FROM t
  // VERSION AS OF v / TIMESTAMP AS OF ts` resolves through
  // GraftCatalog's loadTable overloads to a table pinned at that
  // commit's immutable directory list — reads plan against it, and
  // every mutating face refuses (history is immutable; writes target
  // the head, never a past version).
  private val commitOpt = pinnedCommit.orElse(CommitLog.latest(spark, root))
  if (commitOpt.isEmpty && declaredSchema.isEmpty)
    throw new IllegalArgumentException(
      s"graft.commitlog: no commits at $root and the catalog descriptor " +
        "records no schema — CREATE TABLE with columns, or commit first")
  private def refuseIfPinned(what: String): Unit =
    if (pinnedCommit.isDefined) throw new UnsupportedOperationException(
      s"graft.commitlog: $what against a time-travel read of version " +
        s"${pinnedCommit.get.version} — committed history is immutable; " +
        "target the table without VERSION AS OF / TIMESTAMP AS OF")

  /** The table root, for the row-level SQL strategy (r14 — UPDATE /
    * MERGE INTO route through the library verbs on this root). */
  private[graft] def commitLogRoot: String = root
  /** Pinned (time-travel) tables refuse every mutating statement. */
  private[graft] def isTimeTravel: Boolean = pinnedCommit.isDefined
  private val inner =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      s"graft.commitlog($root)", spark, CaseInsensitiveStringMap.empty(),
      commitOpt.toSeq.flatMap(c => c.dataDirs.map(d => s"$root/$d")),
      commitOpt.map(c => c.schemaDDL.orElse(
        if (c.dataDirs.isEmpty) declaredSchema else None))
        .getOrElse(declaredSchema).map(StructType.fromDDL),
      classOf[ParquetFileFormat])

  override def name(): String = s"graft.commitlog($root)"
  /** A STAGED merge evolution (r16) widens the REPORTED schema so the
    * evolution rule's re-resolution sees its added columns before any
    * commit exists; the merge execution folds them into its one commit.
    * Instances without a staged evolution (every ordinary read) report
    * exactly the committed schema. */
  override def schema(): StructType =
    if (pendingEvolution.isEmpty) inner.schema
    else StructType(inner.schema.fields ++ pendingEvolution)
  /** The DECLARED partition spec (r19 — `CREATE … PARTITIONED BY`),
    * reported as the identity transforms it arrived as, or the DECLARED
    * clustering spec (r16 — `CREATE/ALTER … CLUSTER BY`) as its
    * ClusterByTransform — so DESCRIBE and catalog consumers see the
    * recorded intent. Partition layout is enforced by the write verbs
    * (split staging); clustering by the argument-less compact cadence.
    * The two are mutually exclusive by SQL grammar. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val pby = commitOpt.map(_.partitionBy).getOrElse(Nil)
    if (pby.nonEmpty)
      pby.map(c => org.apache.spark.sql.connector.expressions.Expressions
        .identity(c): org.apache.spark.sql.connector.expressions.Transform)
        .toArray
    else commitOpt.flatMap(_.clusterBy).map { sp =>
      val cols =
        (if (sp.startsWith("z:")) sp.stripPrefix("z:")
         else sp.stripPrefix("sort:")).split(',').toIndexedSeq
      Array[org.apache.spark.sql.connector.expressions.Transform](
        org.apache.spark.sql.connector.expressions.ClusterByTransform(
          cols.map(c => org.apache.spark.sql.connector.expressions
            .Expressions.column(c))))
    }.getOrElse(Array.empty)
  }
  /** The head's recorded CHECK constraints, surfaced through the DSv2
    * constraint API (r14) — DESCRIBE and catalog consumers see them;
    * enforcement itself lives in the write verbs (one gate, every
    * route), so these are reported VALID (addConstraint scanned) and
    * enforced. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    commitOpt.map(_.constraints.map { case (n, e) =>
      Constraint.check(n).predicateSql(e)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }.toArray).getOrElse(Array.empty)
  }
  // AUTOMATIC_SCHEMA_EVOLUTION (r15; single-commit since r16 — VERDICT
  // r15 #4): consumed ONLY by MERGE INTO … WITH SCHEMA EVOLUTION
  // (DataSourceV2Relation.autoSchemaEvolution is its single reader in
  // Spark 4.1) — the analyzer computes the source-vs-target ADDs and
  // routes them through GraftCatalog.alterTable, which STAGES the
  // widening (GraftCatalog.pendingEvolve — no commit) and overlays it
  // on the rule's own re-resolution; the merge EXECUTION
  // (RowLevelSqlStrategy → CommitLog.mergeOn(evolveTo)) folds it into
  // its ONE row-visible commit, recording the widened schema there —
  // the Delta single-transaction shape. An EXPLAINed or failing
  // statement leaves NO commit (spec-pinned); non-additive changes
  // refuse loudly in alterTable.
  // OVERWRITE_BY_FILTER (r15): gates `INSERT INTO … REPLACE WHERE` —
  // the statement face of CommitLog.replaceWhere (SupportsOverwrite in
  // newWriteBuilder; untranslatable predicates refuse via canOverwrite).
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    commitOpt.filter(CommitLog.needsMergeOnRead) match {
      case Some(c) =>
        // DELETION-VECTOR / defaulted commits (r16) cannot plan as a
        // bare parquet table — visible rows are dirs MINUS vectors,
        // defaulted columns coalesce per dir generation. The V1Scan
        // fallback hands Spark the library's one DV-aware read as a
        // relation (the JDBC-source pattern), so the catalog route and
        // the library route read IDENTICAL rows by construction; Spark
        // applies filters/pruning above it.
        new org.apache.spark.sql.connector.read.ScanBuilder {
          override def build(): org.apache.spark.sql.connector.read.Scan =
            new org.apache.spark.sql.connector.read.V1Scan
                with org.apache.spark.sql.connector.read
                  .SupportsReportStatistics {
              override def readSchema(): StructType =
                CommitLogCatalogTable.this.schema()
              override def toV1TableScan[T <: BaseRelation with TableScan](
                  context: org.apache.spark.sql.SQLContext): T =
                new CommitLogDvRelation(context,
                  CommitLog.readCommit(spark, root, c),
                  CommitLogCatalogTable.exactVisibleRows(c))
                  .asInstanceOf[T]
              // exact visible-count statistics (r19): rows − vectored
              // deletes when every dir recorded them — without this the
              // V1 fallback reports defaultSizeInBytes and a tiny
              // merge-on-read dim can never broadcast
              override def estimateStatistics()
                  : org.apache.spark.sql.connector.read.Statistics =
                new org.apache.spark.sql.connector.read.Statistics {
                  private val n = CommitLogCatalogTable.exactVisibleRows(c)
                  override def sizeInBytes(): java.util.OptionalLong =
                    n.map(v => java.util.OptionalLong.of(
                      CommitLogCatalogTable.rowWidthBytes(v, readSchema())))
                      .getOrElse(java.util.OptionalLong.empty())
                  override def numRows(): java.util.OptionalLong =
                    n.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                }
            }
        }
      case None => commitOpt match {
        // commit-record planning for the catalog route (r19): dir-level
        // pruning through the shared evidence decision + exact row-count
        // statistics, both from the pinned commit
        case Some(c) if c.dataDirs.nonEmpty =>
          new CommitLogScanBuilder(spark, root, c, inner.fileIndex,
            schema(), inner.dataSchema, options)
        case _ => inner.newScanBuilder(options)
      }
    }

  /** SQL `DELETE FROM` (r13): a copy-on-write rewrite commit through the
    * protocol (action "delete", audited like any verb) keeping the rows
    * that do NOT match the conjunction of `filters`. Only filters this
    * translator can express as Columns are accepted — `canDeleteWhere`
    * refuses anything else, so Spark falls back to an error instead of a
    * silent partial delete. At 100 TB this is the purge/restore
    * copy-on-write price; production narrows it to affected partitions
    * under the same protocol. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => CommitLogSource.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseIfPinned("DELETE")
    val conds = filters.map(f => CommitLogSource.filterToColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft.commitlog: cannot push delete filter $f")))
    // SQL DELETE semantics live in CommitLog.delete (r13): rows are
    // deleted only where the conjunction is TRUE (NULL evaluations keep),
    // the rewrite is dir-pruned by the shared evidence decision (carried
    // dirs byte-identical, stats preserved), and a provably-no-match
    // predicate leaves the head untouched.
    val cond = conds.foldLeft(lit(true))(_ && _)
    CommitLog.delete(spark, root, "catalog", cond)
    ()
  }

  /** Batch write faces, all through the commit protocol: append (INSERT
    * INTO / writeTo.append), full overwrite (INSERT OVERWRITE /
    * mode("overwrite")), and — r15 — PARTIAL overwrite by expression:
    * `INSERT INTO t REPLACE WHERE cond SELECT …` routes Spark's
    * OverwriteByExpression through [[SupportsOverwrite]] onto
    * [[CommitLog.replaceWhere]], the SAME dir-pruned restatement verb
    * the `replaceWhere` writer option uses (one verb, three faces).
    * Delta's constraint holds on the statement too: every incoming row
    * must satisfy the predicate, enforced by the verb at runtime. A
    * predicate the filter translator cannot express refuses at planning
    * (Spark's canOverwrite gate — never a silently-wider overwrite). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseIfPinned("a write")
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def canOverwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
        // filterToColumn maps AlwaysTrue to lit(true), so one check
        // covers the truncate shape too (code review r15)
        filters.forall(f => CommitLogSource.filterToColumn(f).isDefined)
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        val eff = filters.filterNot(_ == org.apache.spark.sql.sources.AlwaysTrue)
        if (eff.isEmpty) overwrite = true
        else replaceFilters = Some(eff)
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              // the analyzer has already coerced `data` to the table
              // schema by position; the rename pins the names so the
              // protocol's exact-schema check compares like for like
              val renamed = data.toDF(schema().fieldNames.toSeq: _*)
              // first commit on an empty table records action "create"
              // (ADVICE r13): the audit surface must show ONE creating
              // verb whichever write face landed it — decided PER CLAIM
              // ATTEMPT inside the verb (code review r14: a pre-loop
              // exists read mislabels a racing loser's v2 as "create")
              replaceFilters match {
                case Some(fs) =>
                  val cond = fs.map(f =>
                    CommitLogSource.filterToColumn(f).getOrElse(
                      throw new UnsupportedOperationException(
                        s"graft.commitlog: cannot express REPLACE WHERE " +
                          s"filter $f")))
                    .reduce(_ && _)
                  CommitLog.replaceWhere(data.sparkSession, root, "catalog",
                    cond, renamed)
                case None =>
                  // the table's stats columns, so the new dirs record
                  // ranges and a rewrite keeps the set
                  val statsCols = CommitLog.latest(data.sparkSession, root)
                    .toSeq.flatMap(_.statsCols)
                  if (overwrite || overwriteFlag)
                    CommitLog.commit(data.sparkSession, root, "catalog",
                      "overwrite", statsCols = statsCols,
                      createOnEmpty = true)(_ => renamed)
                  else
                    CommitLog.commitAppend(data.sparkSession, root, "catalog",
                      "append", statsCols = statsCols,
                      createOnEmpty = true)(renamed)
              }
              ()
            }
          }
      }
    }
  }
}

/** The change feed as a V1 [[TableScan]]: the rows come from
  * [[CommitLog.changesSince]]'s plan (vectorized parquet scans + literal
  * stamps under the hood); the relation boundary converts rows once, a
  * cost proportional to the DELTA being consumed — the feed is delta-sized
  * by construction, so the boundary never sees table-sized data. */
private[sources] final class CommitLogChangesRelation(
    override val sqlContext: SQLContext, df: DataFrame)
    extends BaseRelation with TableScan {
  override val schema: StructType = df.schema
  override def buildScan(): RDD[Row] = df.rdd
}

/** Snapshot relation for a DELETION-VECTOR-bearing commit (r16): the
  * rows come from [[CommitLog.readCommit]]'s DV-aware plan (vectorized
  * parquet scans anti-joined against the tiny vector dataset — Catalyst
  * broadcasts it at the threshold-bounded sizes the delete verb
  * commits). [[PrunedFilteredScan]]: required columns and every
  * translatable pushed filter are applied to the DataFrame, so column
  * pruning and parquet row-group skipping reach the inner scans;
  * untranslatable filters are simply re-applied by Spark above (the
  * default `unhandledFilters` contract — pushing here is an
  * optimization, never a correctness gate). Also the [[TableScan]] face
  * for the DSv2 V1Scan fallback ([[CommitLogCatalogTable]]). */
private[sources] final class CommitLogDvRelation(
    override val sqlContext: SQLContext, df: DataFrame,
    exactRows: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan with TableScan {
  /** Exact visible size when the commit recorded every dir's count
    * (r19): rows − vectored deletes, in-memory row width — so even the
    * merge-on-read route sizes broadcasts by truth. */
  override def sizeInBytes: Long = exactRows match {
    case Some(n) => CommitLogCatalogTable.rowWidthBytes(n, schema)
    case None => super.sizeInBytes
  }
  // reported NULLABLE throughout: the MoR plan can TIGHTEN nullability
  // (a default's coalesce makes its column provably non-null), and the
  // DSv2 V1Scan fallback requires the relation schema to match the
  // table's — which reads parquet-nullable. Claiming nullable for a
  // non-null column is always safe; the reverse would be the bug.
  override val schema: StructType =
    CommitLogDvRelation.nullify(df.schema).asInstanceOf[StructType]
  override def buildScan(): RDD[Row] = df.rdd
  override def buildScan(requiredColumns: Array[String],
      filters: Array[org.apache.spark.sql.sources.Filter]): RDD[Row] = {
    val filtered = filters.flatMap(CommitLogSource.filterToColumn)
      .foldLeft(df)(_.filter(_))
    filtered.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

private[sources] object CommitLogDvRelation {
  private def nullify(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullify(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullify(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullify(m.valueType), valueContainsNull = true)
    case other => other
  }
}

/** Micro-batch tail of a commit-log table — the FileStreamSource shape
  * over the log's own ingest unit: offsets are COMMIT VERSIONS. Default
  * (BOOTSTRAP) mode delivers the head SNAPSHOT as the first batch and
  * appends incrementally after — the [[graft.streaming.StreamOps
  * .runCommitLogTail]] contract, and the only mode that works on tables
  * whose retained history holds merges/rewrites or vacuumed early
  * versions; `startingVersion` opts into append REPLAY, where each batch
  * is the schema-pinned parquet read of the directories row-visible
  * commits in `(start, end]` added. Admission control
  * (`maxCommitsPerTrigger`) bounds catch-up batches exactly like the file
  * source's `maxFilesPerTrigger` (the bootstrap snapshot is ONE
  * indivisible batch — it is a state, not a commit range);
  * Trigger.AvailableNow captures the head at query start and drains to
  * it. Compactions (rowInvisible) deliver nothing and advance silently;
  * a rewrite/merge in an INCREMENTAL window throws — a tail delivers
  * appends, retractions require a downstream resync, the
  * [[CommitLog.appendedSince]] contract. Delivery is exactly-once from
  * the engine's offset checkpoint: `getBatch` is a pure function of the
  * immutable log range. */
private[sources] final class CommitLogStreamSource(spark: SparkSession,
    root: String, tableSchema: StructType, startingVersion: Option[Long],
    maxCommitsPerTrigger: Option[Int], cdf: Boolean = false) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // replay floor (explicit startingVersion) or the bootstrap sentinel 0 —
  // in bootstrap mode offset 0 always means "nothing delivered yet", and
  // the first real batch is the snapshot at its end offset's version
  private val floor: Long = startingVersion.getOrElse(0L)
  private val bootstrap: Boolean = startingVersion.isEmpty

  // newest version already offered as an end offset — latestOffset must be
  // monotone even if the head pointer briefly reads stale across calls
  @volatile private var lastOffered: Long = floor
  @volatile private var availableNowEnd: Option[Long] = None

  override def schema: StructType = tableSchema

  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead " +
        "(admission-control source)")

  override def initialOffset(): OffsetV2 = LongOffset(floor)
  override def deserializeOffset(json: String): OffsetV2 =
    LongOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(CommitLog.latest(spark, root)
      .map(_.version).getOrElse(floor))

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = math.max(lastOffered,
      Option(startOffset).map(versionOf).getOrElse(floor))
    val head = CommitLog.latest(spark, root).map(_.version).getOrElse(start)
    val capped = availableNowEnd.fold(head)(math.min(head, _))
    // unwrap composites (ADVICE r12): some Trigger.AvailableNow paths hand
    // a CompositeReadLimit — the ReadMaxFiles component inside it must
    // still bound the batch, or catch-up admission silently unbounds
    def maxFilesOf(l: ReadLimit): Option[Int] = l match {
      case m: ReadMaxFiles => Some(m.maxFiles())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(maxFilesOf).reduceOption(math.min)
      case _ => None
    }
    val end = maxFilesOf(limit) match {
      // version numbers are dense in retained history, so admitting n
      // commits is exactly advancing the offset by n. The bootstrap
      // snapshot ignores the cap: it is one indivisible state, not a
      // backlog of commits to drain.
      case Some(n) if !(bootstrap && start == 0L) =>
        math.min(capped, start + n)
      case _ => capped
    }
    lastOffered = math.max(lastOffered, end)
    LongOffset(math.max(start, end))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val s = start.map(versionOf).getOrElse(floor)
    val e = versionOf(end)
    if (cdf) return getChangesBatch(s, e)
    val bootCommit: Option[CommitLog.Commit] =
      if (e > s && bootstrap && s == 0L)
        Some(CommitLog.commitAt(spark, root, e).getOrElse(
          throw new IllegalStateException(
            s"commit-log stream: bootstrap version $e at $root was " +
              "vacuumed between offset resolution and the batch read — " +
              "raise retention")))
      else None
    // MERGE-ON-READ batches (r16 code review): a bootstrap snapshot
    // carrying deletion vectors / existence defaults / a column mapping,
    // or an incremental window on a column-MAPPED table (physical file
    // names ≠ the logical tableSchema), must NOT plan as a bare file
    // scan — deliver the library's visible-rows read across the
    // streaming boundary instead (the CDF route's idiom; the conversion
    // cost is the batch's size, and the fast HadoopFsRelation path below
    // stays the unmapped/unvectored common case).
    val endCommit =
      if (e > s) CommitLog.commitAt(spark, root, e) else None
    val mapped = endCommit.exists(_.colMap.nonEmpty)
    // incremental window's added dirs, resolved ONCE: both the route
    // decision below and whichever route wins read this list
    val incrDirs: Seq[String] =
      if (e <= s || bootCommit.isDefined) Nil
      else CommitLog.addedDirsBetween(spark, root, s, e)
    // existence defaults CAN apply inside a valid window (ADVICE r16):
    // an ADD COLUMNS … DEFAULT commit is rowInvisible — the chain walk
    // skips it without breaking — so a dir appended earlier in the SAME
    // window predates the default and must read defaults-aware, or this
    // batch delivers NULL where every snapshot route delivers the
    // recorded constant. Defaults recorded BEFORE the window never
    // apply to dirs added inside it (they postdate the default).
    val defaulted = endCommit.exists(c =>
      CommitLog.dirsNeedDefaults(c, incrDirs))
    if (bootCommit.exists(CommitLog.needsMergeOnRead) || mapped ||
        defaulted) {
      val batch: DataFrame = bootCommit match {
        case Some(c) => CommitLog.readCommit(spark, root, c)
        case None =>
          if (incrDirs.isEmpty) emptyBatch()
          // the defaults-aware read (dv part is a proven no-op here:
          // the chain walk throws on any dv change in the window)
          else CommitLog.readCommitDirs(spark, root, endCommit.get,
            incrDirs)
      }
      val pinned = batch.select(tableSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
      return org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark,
        pinned.queryExecution.toRdd.map(_.copy()), tableSchema,
        isStreaming = true)
    }
    val dirs =
      if (e <= s) Nil
      else bootCommit match {
        // first delivery: the version-e SNAPSHOT (whatever shapes built
        // it — merges, rewrites, compactions all fine: a snapshot is read
        // as a state, not replayed as changes)
        case Some(c) => c.dataDirs
        case None => incrDirs // resolved once above
      }
    // the FileStreamSource shape: a parquet HadoopFsRelation over exactly
    // the batch's files, wrapped isStreaming=true (the engine asserts it).
    // Schema pinned at query start: an additive evolution mid-stream keeps
    // delivering (new columns are clipped until restart; missing columns
    // in pre-evolution dirs read as typed NULLs). Empty range (only
    // compactions landed): same relation over zero dirs — an empty batch.
    val batchCommit = CommitLog.Commit(e, dirs, "stream", "batch")
    val rel = HadoopFsRelation(
      new CommitLogFileIndex(spark, root, batchCommit),
      partitionSchema = StructType(Nil), dataSchema = tableSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty[String, String])(spark)
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        rel, isStreaming = true))
  }

  /** The CDF micro-batch (r13): typed change rows for the commits in
    * (s, e] — the engine-checkpointed twin of
    * [[graft.streaming.StreamOps.runCommitLogChangesTail]]. The bootstrap
    * batch is the head snapshot as `insert` rows stamped with its version
    * (a state, not a replay); incremental batches come from
    * [[CommitLog.changesSince]] — appends synthesize inserts from their
    * own dirs, MERGES DELIVER THEIR PERSISTED CHANGESETS (the append-only
    * tail's one failure mode, ridden through here), compactions deliver
    * nothing, and a plain rewrite/purge still throws: the feed must not
    * resurrect retracted history, so the consumer resyncs. Rows are
    * pinned to the query-start schema and wrapped isStreaming via the
    * internalCreateDataFrame boundary (the Kafka-source idiom) — the
    * conversion cost is the DELTA's size, never the table's. */
  private def getChangesBatch(s: Long, e: Long): DataFrame = {
    val batch: DataFrame =
      if (e <= s)
        emptyBatch()
      else if (bootstrap && s == 0L) {
        val c = CommitLog.commitAt(spark, root, e).getOrElse(
          throw new IllegalStateException(
            s"commit-log CDF stream: bootstrap version $e at $root was " +
              "vacuumed between offset resolution and the batch read — " +
              "raise retention"))
        CommitLog.readCommit(spark, root, c)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(e))
      } else {
        val headC = CommitLog.commitAt(spark, root, e).getOrElse(
          throw new IllegalStateException(
            s"commit-log CDF stream: version $e at $root is missing or " +
              "unparseable — vacuumed past the checkpoint; resync and " +
              "restart with a fresh one"))
        def incremental(from: Long): Option[DataFrame] =
          if (from >= e) Some(emptyBatch())
          else CommitLog.changesSince(spark, root, from, headC)
        // replay-from-0 (explicit startingVersion=0): version 0 is "before
        // the first commit", so the window opens with v1's full content as
        // inserts — v1 must still be retained for a replay to be exact
        val changes =
          if (s == 0L) {
            val c1 = CommitLog.commitAt(spark, root, 1L).getOrElse(
              throw new IllegalStateException(
                s"commit-log CDF stream: replay from version 0 at $root " +
                  "is impossible — version 1 was vacuumed; bootstrap from " +
                  "the snapshot instead (drop startingVersion)"))
            val first = CommitLog.readCommit(spark, root, c1)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(1L))
            incremental(1L).map(rest =>
              first.unionByName(rest, allowMissingColumns = true))
          } else incremental(s)
        changes.getOrElse(
          throw new IllegalStateException(
            s"commit-log CDF stream: changes ($s, $e] at $root are not " +
              "incrementally readable (a plain rewrite or purge " +
              s"intervened, or version $s was vacuumed) — the feed must " +
              "not resurrect retracted history; resync downstream and " +
              "restart with a fresh checkpoint"))
      }
    // pin the query-start schema (evolution mid-stream clips new columns
    // until restart, same contract as the append tail), then cross the
    // streaming boundary on the batch plan's own rows
    val pinned = batch.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType)): _*)
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark,
      pinned.queryExecution.toRdd.map(_.copy()), schema, isStreaming = true)
  }

  /** An empty CDF batch carrying the stream schema. */
  private def emptyBatch(): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(List.empty[Row].asJava, schema)
  }

  private def versionOf(o: Any): Long = o match {
    case l: LongOffset => l.offset
    case other: OffsetV2 => other.json().trim.toLong
  }

  override def commit(end: OffsetV1): Unit = () // progress is the checkpoint
  override def stop(): Unit = ()
}

/** The exactly-once streaming sink behind `writeStream
  * .format("graft.commitlog")`: each micro-batch appends through
  * [[CommitLog.commitAppendOnce]] keyed by (appId, batchId) — the engine
  * orders and re-delivers batches, the table's txn watermark dedups them
  * (the Delta idempotent-sink pattern; neither alone suffices). The V1
  * sink boundary pins the engine's incremental-execution rows
  * (toRdd + copy) before the commit path re-plans them through batch
  * writes — re-planning the handed frame directly is outside the V1
  * contract. Empty batches commit nothing (replaying an empty batch
  * appends nothing by definition, so the unadvanced watermark is
  * harmless). Scale: each batch costs O(batch) rows + one log file; the
  * table's compact/vacuum cadence bounds directory count. */
private[sources] final class CommitLogSink(root: String, appId: String,
    statsCols: Seq[String]) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val rows = data.queryExecution.toRdd.map(_.copy())
    val batch = org.apache.spark.sql.GraftBridge
      .internalCreateDataFrame(spark, rows, data.schema, isStreaming = false)
    // materialize the batch ONCE (code review r13): the emptiness probe
    // and the commit's parquet write are two actions — unpinned, each
    // would recompute the whole upstream micro-batch (the classic
    // multiple-actions-in-foreachBatch footgun, here inside the sink)
    val pinned = batch.localCheckpoint(true)
    try {
      if (!pinned.isEmpty)
        CommitLog.commitAppendOnce(spark, root, writer = appId,
          action = "stream-append", appId = appId, batchId = batchId,
          statsCols = statsCols)(pinned)
    } finally pinned.unpersist()
  }
  override def toString: String = s"CommitLogSink($root, $appId)"
}
