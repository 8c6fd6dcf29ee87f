package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** SURVEY.md §2.9 — the Structured Streaming surface. The same window
  * aggregations as EventWindows, executed incrementally with watermarks,
  * plus a custom-state operator (mapGroupsWithState).
  *
  * The reference is batch-only [U, SURVEY.md §3.1]; this is the engine's
  * incremental path: file-source micro-batches + checkpointed state replace
  * the reference's "re-run the job with a time-window filter" idiom.
  *
  * Scale: state is keyed by (window, event_type) or user_id — bounded by key
  * cardinality, evicted by watermark; sinks are append-mode once the
  * watermark passes, so state never grows unboundedly at 100 TB/day rates.
  */
object StreamOps {

  /** Schema for reading the events parquet as a stream (ts read as ns long —
    * same nanosAsLong path as the batch reader — then rebuilt to µs). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source micro-batch stream over a directory of events parquet.
    * Default maxFilesPerTrigger=1 so multiple input files genuinely exercise
    * cross-micro-batch state merging (one big batch would degenerate the
    * streaming path to batch execution); pass None for throughput mode. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    val reader = spark.readStream.schema(eventsRawSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
      .withColumn("ts", graft.Tables.nsLongToMicrosTs("ts"))
  }

  def tumbling(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    EventWindows.tumblingAgg(events.withWatermark("ts", watermark))

  def sliding(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    EventWindows.slidingAgg(events.withWatermark("ts", watermark))

  def session(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    EventWindows.sessionAgg(events.withWatermark("ts", watermark))

  final case class UserEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: per-user running totals
    * (the reference's per-shard progress counters, reimagined as streaming
    * state [U]). Update output mode; state persists across micro-batches. */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          // single O(1)-memory pass; 2-decimal inputs accumulate in cents
          val (n, cents) = rows.foldLeft((prev.n_events, math.rint(prev.total_value * 100))) {
            case ((cnt, sum), e) => (cnt + 1, sum + math.rint(e.value * 100))
          }
          val next = UserTotals(user, n, cents / 100)
          state.update(next)
          next
      }
  }

  /** Streaming deduplication with BOUNDED state: an event_id's dedup state
    * lives only until the watermark passes its event time, so at
    * 100 TB/day the state is a sliding window over the redelivery horizon
    * (at-least-once sources redeliver within minutes, not days), never the
    * full history. Plain dropDuplicates would grow state forever. */
  def dedupedEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: each purchase joined to this user's clicks from
    * the preceding hour. Both sides are watermarked so Spark can bound the
    * join state (clicks older than watermark + range are evicted) — the
    * stateful-join scale story at 100 TB/day. */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"), col("c_ts"))
  }

  final case class AsOfEvent(event_id: Long, user_id: Long, ts: Timestamp,
      event_type: String)
  final case class AsOfMatch(event_id: Long, user_id: Long, ts: Timestamp,
      last_click_ts: Option[Timestamp])
  /** Per-user as-of state: the newest matured click, plus the not-yet-matured
    * event buffer. The buffer holds ONLY rows above the watermark — matured
    * rows are swept out (emitted/folded) on every invocation — so state per
    * key is O(events inside the watermark horizon), not O(history). */
  final case class AsOfBuffer(lastClick: Option[Timestamp], pending: Seq[AsOfEvent])

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Stream-stream AS-OF join under a watermark: each purchase is matched to
    * this user's latest STRICTLY-PRIOR click (ties on equal ts broken by
    * event_id, exactly the batch `q_join_asof` window order) — the semantics
    * Spark's stream-stream interval join cannot express, because "latest
    * prior" needs a per-key running maximum, not a range predicate.
    *
    * Implementation: flatMapGroupsWithState keyed by user with EVENT-TIME
    * timeout. Rows buffer per user until the watermark passes their event
    * time; on every invocation (data or timeout) the matured prefix is swept
    * in (ts, event_id) order — clicks fold into `lastClick`, purchases emit
    * with the click state as of their position. Correctness does not depend
    * on micro-batch boundaries: a purchase emits only once its entire prior
    * history is sealed by the watermark, so out-of-order arrival WITHIN the
    * horizon cannot change any emitted row (batch-equivalence asserted in
    * StreamingSpec).
    *
    * Scale: state per user = one timestamp + the events inside the watermark
    * horizon (swept every batch; watermark-late rows are dropped upstream by
    * `withWatermark`). At 100 TB/day this is the same bound the built-in
    * stream-stream join holds, with one long per key extra. */
  def asOfPurchaseClick(events: DataFrame, watermark: String = "10 minutes"): Dataset[AsOfMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[AsOfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfBuffer, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfBuffer]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(AsOfBuffer(None, Nil))
          val all = prev.pending ++ rows
          // strictly-below-watermark rows are sealed: nothing that could sort
          // before them can still arrive (rows AT the watermark may — they
          // stay pending until the watermark moves past them)
          val (mature, pending) = all.partition(_.ts.getTime < wm)
          var lastClick = prev.lastClick
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfMatch]
          mature.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (e.event_type == "click") lastClick = Some(e.ts)
            else if (e.event_type == "purchase")
              out += AsOfMatch(e.event_id, user, e.ts, lastClick)
          }
          state.update(AsOfBuffer(lastClick, pending))
          if (pending.nonEmpty)
            // wake when the watermark can have passed the oldest pending row
            state.setTimeoutTimestamp(math.max(
              pending.map(_.ts.getTime).min, wm + 1))
          out.iterator
      }
  }

  final case class EwmaEvent(event_id: Long, user_id: Long, ts: Timestamp,
      value: Double)
  final case class EwmaSnap(user_id: Long, n_events: Long, ewma: Double)
  /** `seeded` disambiguates "no events yet" from a fold whose value is 0.0. */
  final case class EwmaState(seeded: Boolean, n: Long, s: Double,
      pending: Seq[EwmaEvent])

  /** STREAMING per-user EWMA (α = 0.5) — the incremental twin of the batch
    * `q_events_ewma` fold (operators/Behavior.ewmaByUser): same seed (first
    * value in (ts, event_id) order), same IEEE op sequence
    * s' = 0.5·v + 0.5·s, so a user's sealed snapshot is BIT-EQUAL to the
    * batch fold over the same prefix (StreamingSpec asserts equality, not
    * closeness). EWMA is order-sensitive, so the fold may only consume rows
    * whose entire prior history is sealed: rows buffer per user until the
    * watermark passes their event time (the asOfPurchaseClick maturity
    * pattern), then the matured prefix folds in (ts, event_id) order and
    * one snapshot row (user, n_events, ewma) emits per sweep that matured
    * anything.
    *
    * Scale: durable state per user is the (seeded, n, s) fold — three
    * scalars — plus only the events inside the watermark horizon (swept
    * every invocation, via data or event-time timeout). The full history is
    * never buffered, matching the batch twin's O(1)-per-user contract. */
  def runningEwma(events: DataFrame, watermark: String = "10 minutes"): Dataset[EwmaSnap] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[EwmaEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaSnap](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(EwmaState(seeded = false, 0L, 0.0, Nil))
          val all = prev.pending ++ rows
          // strictly-below-watermark rows are sealed (same boundary rule as
          // asOfPurchaseClick: rows AT the watermark may still gain earlier
          // peers, so they stay pending until it moves past them)
          val (mature, pending) = all.partition(_.ts.getTime < wm)
          var seeded = prev.seeded
          var n = prev.n
          var s = prev.s
          mature.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            s = if (seeded) 0.5 * e.value + 0.5 * s else e.value
            seeded = true
            n += 1
          }
          state.update(EwmaState(seeded, n, s, pending))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              pending.map(_.ts.getTime).min, wm + 1))
          if (mature.nonEmpty) Iterator.single(EwmaSnap(user, n, s))
          else Iterator.empty
      }
  }

  /** Streaming upsert sink via foreachBatch: each micro-batch is merged
    * into a keyed parquet snapshot — latest (ts, event_id) wins per
    * (user_id, event_type) entity, the streaming twin of the batch
    * `q_upsert_latest` compaction. foreachBatch is THE escape hatch for
    * sinks Spark has no native connector for (JDBC upsert, Delta MERGE,
    * entity stores): the batch is a plain DataFrame, so the merge is
    * ordinary batch code, executed once per micro-batch with the sink's own
    * atomicity (here: write-new-then-swap directories).
    *
    * Scale: the snapshot re-write is proportional to the SNAPSHOT size, not
    * history; a production deployment partitions the snapshot by key range
    * and rewrites only partitions a batch touches. */
  def runUpsertSnapshot(events: DataFrame, snapshotDir: String): Unit = {
    val q = events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val merged = {
          val prev = readSnapshot(spark, snapshotDir).getOrElse(batch.limit(0))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "event_type")
            .orderBy(col("ts").desc, col("event_id").desc)
          prev.unionByName(batch)
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
        }
        swapSnapshot(spark, snapshotDir, batchId, merged)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** The current generation of a write-new-then-swap snapshot, if one has
    * been committed yet — with CRASH RECOVERY (ADVICE r13: swapSnapshot's
    * doc promised the prior generation was recoverable, but nothing read
    * it): when `current` is absent, fall back to the newest `old-<batch>`
    * generation (the pre-batch state left by a crash in the
    * retire-to-promote window — the engine re-delivers that batch, which
    * folds in again), else the newest COMPLETE `next-<batch>` (a
    * first-batch crash before promote: the staged fold is on disk, and
    * both snapshot folds — dedup-by-latest and seq-wins — are idempotent
    * under the batch's re-delivery). "Complete" means the write
    * committed its `_SUCCESS` marker (ADVICE r14): a crash MID-write of
    * the first batch's staging leaves a torn parquet directory that
    * would otherwise crash-loop recovery; without the marker the torn
    * generation is ignored and the re-delivered batch rebuilds from
    * empty via overwrite, the pre-r14 behavior for exactly this window.
    * Only a never-started snapshot reads None. */
  private def readSnapshot(spark: SparkSession, dir: String): Option[DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val cur = new org.apache.hadoop.fs.Path(dir, "current")
    val f = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(cur)) return Some(spark.read.parquet(cur.toString))
    def newest(prefix: String): Option[String] =
      if (!f.exists(base)) None
      else Option(f.listStatus(base)).toSeq.flatten
        .map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(n => scala.util.Try(
          n.stripPrefix(prefix).toLong -> n).toOption)
        .sortBy(_._1).lastOption.map(_._2)
    newest("old-")
      .orElse(newest("next-").filter(gen => f.exists(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(dir, gen), "_SUCCESS"))))
      .map(gen => spark.read.parquet(
        new org.apache.hadoop.fs.Path(dir, gen).toString))
  }

  /** Write-new-then-swap generation replacement for the foreachBatch
    * snapshot sinks, through the Hadoop FS API (VERDICT r12 #7 — the
    * `java.io.File.renameTo` sibling of the fixed tail checkpoint, so a
    * snapshot beside an object-store table no longer silently requires a
    * local path): stage `next-<batch>`, retire `current` to
    * `old-<batch>`, promote, sweep. The swap window is the same
    * directory-rename contract as before — atomic on HDFS-likes; a crash
    * between retire and promote leaves `old-<batch>` as the recoverable
    * prior generation and `next-<batch>` complete on disk. */
  private def swapSnapshot(spark: SparkSession, dir: String, batchId: Long,
      merged: DataFrame): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(dir, "current")
    val next = new org.apache.hadoop.fs.Path(dir, s"next-$batchId")
    val old = new org.apache.hadoop.fs.Path(dir, s"old-$batchId")
    merged.write.mode("overwrite").parquet(next.toString)
    if (f.exists(cur) && !f.rename(cur, old))
      throw new java.io.IOException(s"snapshot swap: retiring $cur failed")
    if (!f.rename(next, cur))
      throw new java.io.IOException(s"snapshot swap: promoting $next failed")
    f.delete(old, true)
  }

  /** Streaming CDC snapshot maintenance: each micro-batch of a keyed
    * changelog (payload, seq, op∈{U,D}) folds into a VERSIONED parquet
    * snapshot via [[graft.operators.DataModel.cdcMerge]] — the snapshot
    * retains each key's winning (seq, op) including tombstones, so the
    * fold is correct under ANY batch split of the log, even cross-batch
    * per-key disorder (a late lower-seq row loses to the stored version;
    * see cdcMerge's Scaladoc for why the plain cdcApply fold can't offer
    * that). The queryable state is `DataModel.cdcLiveView(read(current))`.
    * Same foreachBatch + write-new-then-swap atomicity as
    * [[runUpsertSnapshot]]; same scale note (snapshot-proportional
    * rewrite; partition by key range at size and rewrite only touched
    * partitions — or point this merge at a MERGE-capable table format). */
  def runCdcSnapshot(log: DataFrame, key: String, snapshotDir: String): Unit = {
    val q = log.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prev = readSnapshot(spark, snapshotDir).getOrElse(batch.limit(0))
        val merged = graft.operators.DataModel.cdcMerge(prev, batch, key)
        swapSnapshot(spark, snapshotDir, batchId, merged)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Streaming DRIFT MONITOR — the online twin of q_profile_drift: each
    * micro-batch's feature distribution is PSI-compared against a STATIC
    * baseline count frame and the per-bucket report (stamped with the
    * batch id) appends to a parquet audit log. This is how a production
    * ingest watches itself: the baseline is the blessed snapshot's bucket
    * counts (kilobytes, computed once), each arriving batch costs one
    * grouped count plus output-sized PSI math, and an alert is a filter
    * on the audit log (psi_term above threshold). Shares
    * Pipeline.psiReport with the batch query, so the streaming and batch
    * reports are definitionally identical on identical slices
    * (spec-asserted per batch in StreamingSpec). */
  def runDriftMonitor(stream: DataFrame, baselineCounts: DataFrame,
      bucketize: DataFrame => DataFrame, outDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cur = bucketize(batch).groupBy("feature", "bucket")
          .agg(count(lit(1)).as("n_new"))
        graft.operators.Pipeline.psiReport(baselineCounts, cur)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** One CHANGEFEED run over a [[graft.sources.CommitLog]] table: process
    * whatever was committed since this consumer's checkpointed version,
    * then advance the checkpoint — the commit-log sibling of
    * [[runIncremental]]'s file-source idiom (the log's data dirs are
    * scattered per commit, so a file-source can't tail them; the VERSION
    * is the offset). First run processes the full head snapshot
    * (bootstrap); later runs process exactly the appended rows
    * (`CommitLog.appendedSince` — cost = the delta's scan). Returns the
    * new checkpoint version (unchanged when nothing is new).
    *
    * Delivery is the foreachBatch contract: `process` runs, THEN the
    * checkpoint advances via write-new-then-rename — a crash between the
    * two re-delivers the batch, so exactly-once needs an idempotent or
    * version-keyed sink (process receives the head version to key on).
    * A REWRITE commit (or a checkpoint older than vacuum retention)
    * breaks append-only incrementality; the run fails with a clear
    * resync instruction rather than silently re-reading the world.
    * Compaction does NOT: compact commits are rowInvisible and
    * `appendedSince` skips them (empty delta, checkpoint advances), so
    * the scheduled-OPTIMIZE cadence never forces a tail resync. */
  def runCommitLogTail(spark: SparkSession, root: String, checkpointDir: String)
      (process: (DataFrame, Long) => Unit): Long = {
    import graft.sources.CommitLog
    // ONE log listing anchors the whole run (inside tailImpl): the head
    // Commit both names the dirs read AND stamps the version handed to
    // `process` — reading head/delta from separate listings would let a
    // concurrent commit land rows in the delta that get stamped with the
    // older version (duplicate delivery a version-keyed sink cannot dedup)
    tailImpl(spark, root, checkpointDir) { (last, headC) =>
      val delta =
        if (last == 0L) Some(CommitLog.readCommit(spark, root, headC))
        else CommitLog.appendedSince(spark, root, last, headC)
      delta.getOrElse(throw new IllegalStateException(
        s"commit-log tail at version $last cannot read incrementally to " +
          s"${headC.version} (a rewrite commit intervened, or the " +
          "checkpointed version was vacuumed) — resync: clear the " +
          "checkpoint and reprocess the head"))
    }(process)
  }

  /** Shared tail machinery: read the version checkpoint, gate on the
    * head, hand `mkBatch(lastVersion, headCommit)` to `process`, then
    * advance the checkpoint via write-new-then-rename. The one log
    * listing that produces the head Commit anchors BOTH the rows read
    * and the version stamped (see [[runCommitLogTail]]'s scaladoc for
    * why separate listings would double-deliver). */
  private def tailImpl(spark: SparkSession, root: String,
      checkpointDir: String)(
      mkBatch: (Long, graft.sources.CommitLog.Commit) => DataFrame)(
      process: (DataFrame, Long) => Unit): Long = {
    import graft.sources.CommitLog
    import org.apache.hadoop.fs.{Path => HPath}
    // Hadoop FileSystem API throughout (ADVICE r11): the table root already
    // rides it, so the consumer checkpoint must too — a tail whose table
    // lives on an object store keeps its checkpoint beside it instead of
    // silently requiring a local path.
    val dir = new HPath(checkpointDir)
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(dir)
    val ckpt = new HPath(dir, "version")
    // a missing, empty or non-numeric file reads as no record; an I/O
    // error fails the tail (reading it as "no checkpoint" would re-deliver
    // the full head)
    def readLong(p: HPath): Option[Long] =
      graft.sources.Json.readFile(f, p).flatMap(_.trim.toLongOption)
    // the checkpoint is the MAX of the main file and any surviving
    // `.version-<v>` staging (code review r12): the advance below stages
    // the new version BEFORE delete-then-rename (Hadoop rename refuses an
    // existing destination), so a crash inside the replace window leaves
    // the staging as the record — without this, a crash after the delete
    // lost the checkpoint entirely and a restart re-delivered the FULL
    // head under a fresh version key, which a version-keyed sink cannot
    // dedup. A staging is only ever written after its batch's process()
    // returned, so trusting it never skips undelivered data.
    val stagings = Option(f.listStatus(dir)).toSeq.flatten
      .map(_.getPath).filter(_.getName.startsWith(".version-"))
    val last = (readLong(ckpt).toSeq ++ stagings.flatMap(readLong))
      .foldLeft(0L)(math.max)
    val headOpt = CommitLog.latest(spark, root)
    if (headOpt.isEmpty) return last
    val headC = headOpt.get
    val head = headC.version
    if (head <= last) return last
    process(mkBatch(last, headC), head)
    // advance: stage the new version, then replace the main file
    // (delete-then-rename); every crash point leaves at least one file
    // carrying `head`, and the startup max() above reads through it
    val tmp = new HPath(dir, s".version-$head")
    val out = f.create(tmp, true)
    try out.write(head.toString.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, ckpt)) {
      f.delete(ckpt, false)
      if (!f.rename(tmp, ckpt)) throw new java.io.IOException(
        s"commit-log tail: checkpoint rename failed at $ckpt")
    }
    // sweep stagings from PAST crashes now that the main file is ahead of
    // them (the just-renamed tmp is already gone; anything left is older)
    stagings.foreach(p => scala.util.Try(f.delete(p, false)))
    head
  }

  /** CHANGE-FEED tail (r11): like [[runCommitLogTail]] but delivering
    * row-level changes — payload columns plus `_change_type`
    * (`insert` | `update_preimage` | `update_postimage` | `delete`,
    * where pre-images and deletes carry the stored row; keyed-state
    * consumers treat pre-images as informational, aggregate maintainers
    * use them as the negative side of the signed fold) and
    * `_commit_version` — so the consumer can maintain downstream state
    * THROUGH merge commits instead of failing to a resync (the
    * append-only tail's contract). First run bootstraps with the full
    * head as `insert` rows stamped with the head version. A plain
    * rewrite or purge still demands a resync — for purge that is the
    * point: the feed must not retain purged rows. Delivery is the same
    * at-least-once-then-checkpoint contract as the append tail; sinks
    * key on the version. */
  def runCommitLogChangesTail(spark: SparkSession, root: String,
      checkpointDir: String)(process: (DataFrame, Long) => Unit): Long = {
    import graft.sources.CommitLog
    tailImpl(spark, root, checkpointDir) { (last, headC) =>
      if (last == 0L)
        CommitLog.readCommit(spark, root, headC)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(headC.version))
      else CommitLog.changesSince(spark, root, last, headC)
        .getOrElse(throw new IllegalStateException(
          s"commit-log changes tail at version $last cannot read a change " +
            s"feed to ${headC.version} (a rewrite or purge intervened, or " +
            "the checkpointed version was vacuumed) — resync: clear the " +
            "checkpoint and reprocess the head"))
    }(process)
  }

  /** Stream → COMMIT LOG, exactly-once end-to-end (r11): drain whatever
    * is new in `stream` (Trigger.AvailableNow) and append each
    * micro-batch to the commit-log table through
    * [[graft.sources.CommitLog.commitAppendOnce]], keyed by
    * (appId, batchId). foreachBatch is at-least-once — a crash between
    * the sink write and Spark's checkpoint advance RE-DELIVERS the batch
    * on restart — but the commit log's txn watermark makes the re-run a
    * no-op, so the table sees every batch exactly once. This is the
    * Delta idempotent-sink pattern: Spark's checkpoint orders the
    * batches, the sink's own log dedups them; neither alone suffices.
    * Scale: each batch commits O(batch) rows + one log file; the table's
    * compact/vacuum cadence bounds the dir count as batches accumulate. */
  def runStreamToCommitLog(stream: DataFrame, root: String,
      checkpointDir: String, appId: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // an empty micro-batch would commit an empty dir — skip it; the
        // unadvanced watermark is harmless (replaying an empty batch
        // appends nothing by definition)
        if (!df.isEmpty)
          graft.sources.CommitLog.commitAppendOnce(df.sparkSession, root,
            writer = appId, action = "stream-append", appId = appId,
            batchId = batchId)(df)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
    q.awaitTermination()
  }

  /** One incremental run: process whatever input files are NEW since the
    * checkpoint, append to the parquet sink, stop (Trigger.AvailableNow).
    * This is the reference's "re-run the mapper over new data" idiom as a
    * first-class pattern — a cron-driven job that is exactly-once across
    * runs because the file-source offsets and sink commit log live in the
    * checkpoint. Returns when the run has drained. */
  def runIncremental(events: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = events.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the final result table (test/dev harness; complete mode). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable()
    finally q.stop() // never leak an active query into the shared session
    df.sparkSession.table(name)
  }
}
