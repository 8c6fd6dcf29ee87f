package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventWindows, StreamOps}

/** SURVEY.md §6 — streaming equivalence: the incremental execution of the
  * window aggregations must converge to the batch result, and watermarking
  * must drop late rows in append mode. */
class StreamingSpec extends SparkSpec {

  private def splitEventsIntoChunks(k: Int): String = {
    // Micro-batch fixture: events parquet re-written as k files ordered by ts
    // (FIXTURES.md "Streaming-test fixture derivation"). The file stream
    // source orders by MODIFICATION TIME, and parallel write tasks finish in
    // arbitrary order — stamp mod times in ts order or whole files arrive
    // "late" (below the watermark) and get dropped.
    val dir = Files.createTempDirectory("graft-stream").toString
    Tables.events(spark, sf).orderBy("ts")
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000)
      .repartitionByRange(k, col("event_id"))
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L)
    }
    dir
  }

  // Watermarks require TIMESTAMP (LTZ), so streams run in LTZ; wstart is
  // compared as a wall-clock string against the batch NTZ result (UTC
  // session => identical wall time).
  private def wallClock(df: org.apache.spark.sql.DataFrame, tsCol: String) = {
    val others = df.columns.filterNot(_ == tsCol).map(col)
    df.select(date_format(col(tsCol), "yyyy-MM-dd HH:mm:ss").as(tsCol) +: others.toSeq: _*)
  }

  test("streaming tumbling counts converge to the batch result") {
    val dir = splitEventsIntoChunks(8)
    val streamed = StreamOps.runToMemory(
      StreamOps.tumbling(StreamOps.eventsStream(spark, dir)),
      "tumbling_complete", OutputMode.Complete())
    val batch = EventWindows.tumblingAgg(Tables.events(spark, sf))
    assert(rows(wallClock(streamed, "wstart").orderBy("wstart", "event_type")) ==
      rows(wallClock(batch, "wstart").orderBy("wstart", "event_type")))
  }

  test("streaming sliding windows converge to the batch result") {
    val dir = splitEventsIntoChunks(7)
    val streamed = StreamOps.runToMemory(
      StreamOps.sliding(StreamOps.eventsStream(spark, dir)),
      "sliding_complete", OutputMode.Complete())
    val batch = EventWindows.slidingAgg(Tables.events(spark, sf))
    val norm = (df: org.apache.spark.sql.DataFrame) =>
      rows(wallClock(wallClock(df, "wstart"), "wend")
        .orderBy("wstart", "event_type"))
    assert(norm(streamed) == norm(batch))
  }

  test("streaming session windows converge to the batch result") {
    val dir = splitEventsIntoChunks(6)
    val streamed = StreamOps.runToMemory(
      StreamOps.session(StreamOps.eventsStream(spark, dir)),
      "session_complete", OutputMode.Complete())
    val batch = EventWindows.sessionAgg(Tables.events(spark, sf))
    assert(rows(wallClock(streamed, "sess_start").orderBy("user_id", "sess_start")) ==
      rows(wallClock(batch, "sess_start").orderBy("user_id", "sess_start")))
  }

  test("streaming dedup: duplicate input files collapse to exactly-once output") {
    val dir = splitEventsIntoChunks(5)
    // duplicate every chunk right after itself — the redelivery shape of an
    // at-least-once source; mod time +1s makes each copy the immediately
    // following micro-batch, inside the dedup watermark
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.foreach { f =>
      val dup = new java.io.File(dir, s"zz-dup-${f.getName}")
      Files.copy(f.toPath, dup.toPath)
      dup.setLastModified(f.lastModified() + 1000)
    }
    val n = Tables.events(spark, sf).count()
    // contrast: the raw passthrough stream sees every duplicate row
    val raw = StreamOps.runToMemory(
      StreamOps.eventsStream(spark, dir), "raw_pass", OutputMode.Append())
    assert(raw.count() == 2 * n, "fixture must actually duplicate the input")
    // watermark wide enough that nothing in the fixture is late: output is
    // then EXACTLY the distinct event set, each id once
    val dd = StreamOps.runToMemory(
      StreamOps.dedupedEvents(StreamOps.eventsStream(spark, dir), "30 days"),
      "dedup_pass", OutputMode.Append())
    val ids = dd.select("event_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "no event_id may appear twice")
    assert(ids.length == n, s"expected $n unique events, got ${ids.length}")
  }

  test("AvailableNow runs process only new files, exactly-once across runs") {
    // The periodic-incremental idiom: each run drains what arrived since
    // the checkpoint and stops. Run 1 sees chunks 1-3; chunks 4-6 arrive;
    // run 2 must process ONLY those; a third run with nothing new adds 0.
    val src = Files.createTempDirectory("graft-incr-src").toString
    val out = Files.createTempDirectory("graft-incr-out").toString
    val ckpt = Files.createTempDirectory("graft-incr-ckpt").toString
    val all = splitEventsIntoChunks(6)
    val parts = new java.io.File(all).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      Files.copy(f.toPath, java.nio.file.Paths.get(src, f.getName))
    }
    def outCount() = spark.read.schema(
      StreamOps.eventsStream(spark, all).schema).parquet(out).count()

    arrive(parts.take(3))
    StreamOps.runIncremental(StreamOps.eventsStream(spark, src), out, ckpt)
    val afterFirst = outCount()
    assert(afterFirst > 0)

    arrive(parts.drop(3))
    StreamOps.runIncremental(StreamOps.eventsStream(spark, src), out, ckpt)
    val n = Tables.events(spark, sf).count()
    assert(outCount() == n, s"two runs must cover all $n events exactly once")

    StreamOps.runIncremental(StreamOps.eventsStream(spark, src), out, ckpt)
    assert(outCount() == n, "a run with no new input must append nothing")
  }

  test("stream to commit log is exactly-once: re-delivered batches and empty runs append nothing") {
    import graft.sources.CommitLog
    val src = Files.createTempDirectory("graft-cl-src").toString
    val ckpt = Files.createTempDirectory("graft-cl-ckpt").toString
    val root = Files.createTempDirectory("graft-cl-root").toString
    val all = splitEventsIntoChunks(6)
    val parts = new java.io.File(all).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      Files.copy(f.toPath, java.nio.file.Paths.get(src, f.getName))
    }
    def tableCount() = CommitLog.readLatest(spark, root).map(_.count()).getOrElse(0L)

    arrive(parts.take(3))
    StreamOps.runStreamToCommitLog(StreamOps.eventsStream(spark, src), root, ckpt, "ingest")
    val afterFirst = tableCount()
    assert(afterFirst > 0)
    val v1 = CommitLog.latest(spark, root).get.version

    // foreachBatch re-delivery (a crash between the sink write and the
    // checkpoint advance re-runs the batch): replay the newest applied
    // batch directly — the txn watermark must make it a no-op
    val lastB = CommitLog.lastTxn(spark, root, "ingest").get
    CommitLog.commitAppendOnce(spark, root, "ingest", "stream-append",
      appId = "ingest", batchId = lastB)(Tables.events(spark, sf))
    assert(tableCount() == afterFirst && CommitLog.latest(spark, root).get.version == v1,
      "a re-delivered batch appends nothing")

    arrive(parts.drop(3))
    StreamOps.runStreamToCommitLog(StreamOps.eventsStream(spark, src), root, ckpt, "ingest")
    val n = Tables.events(spark, sf).count()
    assert(tableCount() == n, s"two runs must land all $n events exactly once")

    // nothing new: the run must not commit (no version motion at all)
    val v2 = CommitLog.latest(spark, root).get.version
    StreamOps.runStreamToCommitLog(StreamOps.eventsStream(spark, src), root, ckpt, "ingest")
    assert(CommitLog.latest(spark, root).get.version == v2)

    // and the ingested table IS the batch table, row for row
    val a = CommitLog.readLatest(spark, root).get
    val b = Tables.events(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "commit-log ingest equals the batch read")
  }

  test("streaming EWMA sealed snapshots are bit-equal to the batch fold; state stays bounded") {
    val dir = splitEventsIntoChunks(8)
    val q = StreamOps.runningEwma(StreamOps.eventsStream(spark, dir), "10 minutes")
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode(OutputMode.Append()).start()
    val progress = try { q.processAllAvailable(); q.lastProgress } finally q.stop()

    // batch truth replayed in Scala: per user, the prefix folds of the
    // (ts, event_id)-ordered values — prefix(n) is what a sealed snapshot
    // with n_events = n must report, as the SAME double (same op order)
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val prefixes: Map[Long, Array[Double]] = evs.groupBy(_._1).map { case (u, rs) =>
      val vals = rs.sortBy(r => (r._2, r._3)).map(_._4)
      u -> vals.tail.scanLeft(vals.head)((s, v) => 0.5 * v + 0.5 * s)
    }
    val got = spark.table("ewma_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1) SOUNDNESS: every emitted snapshot is exactly the batch prefix fold
    // — micro-batch boundaries choose WHEN snapshots emit, never their value
    assert(got.nonEmpty, "fixture must mature at least some events")
    got.foreach { case (u, n, e) =>
      assert(prefixes(u)(n.toInt - 1) == e,
        s"user $u snapshot at n=$n diverges: $e vs ${prefixes(u)(n.toInt - 1)}")
    }
    // 2) COMPLETENESS: a user whose whole history the final watermark sealed
    // must have emitted the full-history snapshot = the batch q_events_ewma
    // fold (1 s slack against ms truncation of the watermark)
    val maxTsU = evs.map(_._2).max
    val sealedBefore = maxTsU - 600000000L - 1000000L
    val lastByUser = got.groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
    evs.groupBy(_._1).foreach { case (u, rs) =>
      if (rs.map(_._2).max < sealedBefore) {
        assert(lastByUser.get(u).contains((u, rs.length.toLong, prefixes(u).last)),
          s"sealed user $u never emitted its full-history snapshot")
      }
    }
    // 3) BOUNDED STATE: one state row per user (fold scalars + horizon
    // buffer), never per event
    val nUsers = prefixes.size
    val stateRows = progress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= nUsers,
      s"state must be per-user, got $stateRows rows for $nUsers users")
  }

  test("stream-stream as-of under a watermark equals the batch as-of; state stays bounded") {
    import org.apache.spark.sql.expressions.Window
    val dir = splitEventsIntoChunks(8)
    val q = StreamOps.asOfPurchaseClick(StreamOps.eventsStream(spark, dir), "10 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    val progress = try { q.processAllAvailable(); q.lastProgress } finally q.stop()
    // compare as epoch micros computed IN Spark: the streaming side is LTZ
    // (watermarks require it), the batch side NTZ — with a UTC session the
    // epoch values coincide, while JVM-side accessors would see two
    // different classes (Timestamp vs LocalDateTime)
    def epochRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Option[Long])] =
      df.select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tsu"),
        unix_micros(col("last_click_ts").cast("timestamp")).as("cu"))
        .collect().map { r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
        }.toMap
    val got = epochRows(spark.table("asof_stream"))

    // batch truth: latest strictly-prior click per purchase, same tie order
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val batch = epochRows(Tables.events(spark, sf)
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase"))

    // 1) SOUNDNESS: every emitted row is exactly the batch row — micro-batch
    // boundaries may defer rows but can never change one
    got.foreach { case (id, row) =>
      assert(batch.get(id).contains(row),
        s"streamed as-of row for purchase $id diverges: $row vs ${batch.get(id)}")
    }
    // 2) COMPLETENESS: everything the final watermark sealed was emitted
    // (1 s slack on the boundary against ms truncation of the watermark)
    val maxTsU = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0)
    val sealedBefore = maxTsU - 600000000L - 1000000L
    val missing = batch.filter { case (id, (_, ts, _)) =>
      ts < sealedBefore && !got.contains(id)
    }
    assert(missing.isEmpty, s"${missing.size} sealed purchases never emitted")
    assert(got.nonEmpty, "fixture must mature at least some purchases")
    // 3) BOUNDED STATE: one state row per user (buffer + one click ts), never
    // per event — the watermark sweeps matured rows out every batch
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    val stateRows = progress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows <= nUsers,
      s"as-of state must be one row per user: $stateRows > $nUsers")
  }

  test("foreachBatch upsert snapshot converges to the batch compaction") {
    val dir = splitEventsIntoChunks(6)
    val snap = Files.createTempDirectory("graft-upsert").toString
    StreamOps.runUpsertSnapshot(StreamOps.eventsStream(spark, dir), snap)
    val got = spark.read.parquet(s"$snap/current")
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type")
    // batch twin: q_upsert_latest on the same events (first 3 cols)
    val batch = graft.operators.Pipeline.queries("q_upsert_latest")(spark, sf)
      .select("user_id", "event_type", "event_id")
      .orderBy("user_id", "event_type")
    assert(rows(got) == rows(batch),
      "incremental per-batch merges must equal the one-shot compaction")
  }

  test("streaming CDC fold equals one-shot apply under cross-batch disorder; tombstones retained") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Changelog over keys 1..6 with per-key-UNIQUE seqs split so the SECOND
    // batch delivers LOWER seqs than the first for keys 1 and 3 (cross-batch
    // disorder — the case the versioned snapshot exists for: the stored seq
    // must beat the late row) plus a fresh key 6 and a delete of key 4.
    val batch1 = Seq((1L, 10.0, 5L, "U"), (2L, 20.0, 4L, "U"),
      (3L, 30.0, 7L, "D"), (4L, 40.0, 2L, "U"), (5L, 50.0, 1L, "U"))
    val batch2 = Seq((1L, 11.0, 3L, "U"), // stale: must NOT overwrite seq 5
      (3L, 33.0, 6L, "U"), // stale: must NOT resurrect the seq-7 tombstone
      (4L, 0.0, 9L, "D"), (6L, 60.0, 1L, "U"))
    def asLog(rows: Seq[(Long, Double, Long, String)]) = {
      val ms = MemoryStream[(Long, Double, Long, String)]
      ms.addData(rows: _*)
      ms.toDF().toDF("k", "v", "seq", "op")
    }
    val snap = Files.createTempDirectory("graft-cdc").toString
    StreamOps.runCdcSnapshot(asLog(batch1), "k", snap)
    StreamOps.runCdcSnapshot(asLog(batch2), "k", snap)
    val snapshot = spark.read.parquet(s"$snap/current")
    val live = graft.operators.DataModel.cdcLiveView(snapshot)
      .orderBy("k")
    val full = (batch1 ++ batch2).toDF("k", "v", "seq", "op")
    val oneShot = graft.operators.DataModel.cdcApply(
      full.filter(lit(false)).select("k", "v"), full, "k").orderBy("k")
    assert(rows(live) == rows(oneShot),
      "per-batch versioned folds must equal applying the whole log at once")
    assert(rows(live) == Seq(Seq(1L, 10.0), Seq(2L, 20.0), Seq(5L, 50.0), Seq(6L, 60.0)),
      "stale updates must lose to stored versions; deletes must stick")
    // tombstone markers survive in the snapshot (the guard against future
    // late rows), invisible in the live view
    assert(rows(snapshot.filter(col("op") === "D").select("k", "seq")
        .orderBy("k")) == Seq(Seq(3L, 7L), Seq(4L, 9L)),
      "deleted keys must persist as versioned tombstones, not vanish")
    // and the UNVERSIONED fold is provably wrong under the same disorder —
    // the documented reason cdcMerge retains versions: folding batch2 via
    // cdcApply (base seqs reset to 0) resurrects key 3 and revives key 1's
    // stale value
    val naive = graft.operators.DataModel.cdcApply(
      graft.operators.DataModel.cdcApply(
        full.filter(lit(false)).select("k", "v"),
        batch1.toDF("k", "v", "seq", "op"), "k"),
      batch2.toDF("k", "v", "seq", "op"), "k")
    assert(rows(naive.orderBy("k")) != rows(oneShot),
      "fixture must exercise the disorder the versioned fold fixes")
  }

  test("snapshot swap crash recovery: a retired-but-unpromoted generation is found, not silently dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ADVICE r13: a crash between swapSnapshot's retire and promote leaves
    // old-<batch> on disk and `current` absent — the next batch must fold
    // into that recoverable generation, not into an empty prior state.
    val batch1 = Seq((1L, 10.0, 5L, "U"), (2L, 20.0, 4L, "U"))
    val batch2 = Seq((3L, 30.0, 1L, "U"))
    def asLog(rows: Seq[(Long, Double, Long, String)]) = {
      val ms = MemoryStream[(Long, Double, Long, String)]
      ms.addData(rows: _*)
      ms.toDF().toDF("k", "v", "seq", "op")
    }
    val snap = Files.createTempDirectory("graft-cdc-crash").toString
    StreamOps.runCdcSnapshot(asLog(batch1), "k", snap)
    // simulate the retire-to-promote crash window: current was renamed to
    // old-<next batch>, the promote never happened
    val f = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.rename(new org.apache.hadoop.fs.Path(snap, "current"),
      new org.apache.hadoop.fs.Path(snap, "old-0")))
    StreamOps.runCdcSnapshot(asLog(batch2), "k", snap)
    val live = graft.operators.DataModel.cdcLiveView(
      spark.read.parquet(s"$snap/current")).orderBy("k")
    assert(rows(live) == Seq(Seq(1L, 10.0), Seq(2L, 20.0), Seq(3L, 30.0)),
      "recovery must fold into the retired generation — keys 1 and 2 " +
        "exist only in the pre-crash snapshot")
  }

  test("snapshot recovery trusts next-<batch> only with its _SUCCESS marker: a torn first-batch staging is ignored, a complete one adopted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def asLog(rows: Seq[(Long, Double, Long, String)]) = {
      val ms = MemoryStream[(Long, Double, Long, String)]
      ms.addData(rows: _*)
      ms.toDF().toDF("k", "v", "seq", "op")
    }
    // ADVICE r14: a crash MID-write of the first batch's next-0 leaves a
    // torn parquet directory with no _SUCCESS; recovery adopting it as
    // the authoritative snapshot would crash-loop the query on the torn
    // footer. It must be ignored — the re-delivered batch rebuilds from
    // empty via overwrite.
    val snap = Files.createTempDirectory("graft-cdc-torn").toString
    val tornDir = java.nio.file.Paths.get(snap, "next-0")
    java.nio.file.Files.createDirectories(tornDir)
    java.nio.file.Files.write(tornDir.resolve("part-00000.parquet"),
      Array[Byte](80, 65, 82, 49, 1, 2, 3)) // "PAR1" + garbage, no footer
    StreamOps.runCdcSnapshot(asLog(Seq((5L, 50.0, 1L, "U"))), "k", snap)
    val live1 = graft.operators.DataModel.cdcLiveView(
      spark.read.parquet(s"$snap/current"))
    assert(rows(live1) == Seq(Seq(5L, 50.0)),
      "a torn (markerless) staging must be ignored, not adopted")
    // a COMPLETE pre-promote staging (crash AFTER the parquet job
    // committed — _SUCCESS present — but before the rename) IS adopted
    val f = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$snap/current/_SUCCESS")),
      "fixture expects the parquet committer's _SUCCESS marker")
    assert(f.rename(new org.apache.hadoop.fs.Path(snap, "current"),
      new org.apache.hadoop.fs.Path(snap, "next-9")))
    StreamOps.runCdcSnapshot(asLog(Seq((6L, 60.0, 1L, "U"))), "k", snap)
    val live2 = graft.operators.DataModel.cdcLiveView(
      spark.read.parquet(s"$snap/current")).orderBy("k")
    assert(rows(live2) == Seq(Seq(5L, 50.0), Seq(6L, 60.0)),
      "a complete (marker-bearing) staging must be adopted on recovery")
  }

  test("streaming ingestion maintains the inverted index via per-batch appends") {
    // The index-as-maintained-artifact story end-to-end: a document stream
    // builds the index on its first micro-batch and APPENDS segments on
    // every later one (InvertedIndex.append) — lookups afterwards equal a
    // from-scratch batch build. This is the foreachBatch shape a 100 TB
    // ingest pipeline runs continuously.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (evens, odds) = docs.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft-invidx-stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId == 0L) graft.sources.InvertedIndex.build(batch.toDF(), dir)
        else graft.sources.InvertedIndex.append(batch.toDF(), dir, seg = batchId)
      }.start()
    mem.addData(evens.toSeq: _*); q.processAllAvailable()
    mem.addData(odds.toSeq: _*); q.processAllAvailable()
    q.stop()
    val fullDir = Files.createTempDirectory("graft-invidx-stream-full").toString
    graft.sources.InvertedIndex.build(Tables.documents(spark, sf), fullDir)
    for (term <- Seq("vector", "join", "no-such-term-anywhere")) {
      val inc = rows(graft.sources.InvertedIndex.lookup(spark, dir, term))
      val full = rows(graft.sources.InvertedIndex.lookup(spark, fullDir, term))
      assert(inc == full, s"stream-maintained lookup must equal batch build for '$term'")
    }
  }

  test("streaming ingestion through the DSv2 connector equals a batch build") {
    // Same maintained-artifact story, but every micro-batch goes through
    // format("graft.index"): batch 0 overwrite-rebuilds, later batches
    // append under seg=batchId — the WRITE half of the connector driven by
    // foreachBatch, with the batch id doubling as the retry-idempotent
    // segment id (exactly the at-least-once contract foreachBatch gives).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (evens, odds) = docs.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft-dsv2-stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val pairs = batch.toDF().select(col("doc_id"),
          explode(expr(graft.functions.TextTokens.ToksSql)).as("term"))
          .select("term", "doc_id")
        val w = pairs.write.format("graft.index").option("dir", dir)
        if (batchId == 0L) w.mode("overwrite").save()
        else w.option("seg", batchId.toString).mode("append").save()
      }.start()
    mem.addData(evens.toSeq: _*); q.processAllAvailable()
    mem.addData(odds.toSeq: _*); q.processAllAvailable()
    q.stop()
    val fullDir = Files.createTempDirectory("graft-dsv2-stream-full").toString
    graft.sources.InvertedIndex.build(Tables.documents(spark, sf), fullDir)
    for (term <- Seq("vector", "join", "no-such-term-anywhere")) {
      val inc = rows(graft.sources.InvertedIndex.lookup(spark, dir, term))
      val full = rows(graft.sources.InvertedIndex.lookup(spark, fullDir, term))
      assert(inc == full,
        s"connector-streamed lookup must equal batch build for '$term'")
    }
  }

  test("streaming ingestion into the minhash index reproduces the from-scratch dedup") {
    // The dedup-maintenance twin of the connector-ingestion test above:
    // each micro-batch shingles ONLY itself and lands as seg=batchId
    // (batch 0 builds the index, later batches append) — the batch id is
    // the retry-idempotent segment id, so foreachBatch's at-least-once
    // redelivery collapses to exactly-once on disk. The stored components
    // then reproduce the from-scratch near-dup pipeline over everything
    // the stream delivered — continuous dedup maintenance without ever
    // re-shingling the corpus.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val collected = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val (evens, odds) = collected.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft-mh-stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId == 0L) graft.operators.MinHashIndex.build(batch.toDF(), dir)
        else graft.operators.MinHashIndex.append(batch.toDF(), dir, seg = batchId)
      }.start()
    mem.addData(evens.toSeq: _*); q.processAllAvailable()
    mem.addData(odds.toSeq: _*); q.processAllAvailable()
    q.stop()
    val scratch = rows(graft.operators.Dedup.minhashNearDupPairs(docs)
      .orderBy("da", "db"))
    assert(scratch.nonEmpty)
    assert(rows(graft.operators.MinHashIndex.pairs(spark, dir)
        .orderBy("da", "db")) == scratch,
      "stream-maintained minhash index must equal the from-scratch pipeline")
  }

  test("graft.index streaming read: appended segments arrive as micro-batches") {
    // The READ twin of the connector ingest tests above (VERDICT r6 #5):
    // readStream.format("graft.index") tails the index's seg partitions —
    // segments existing at start arrive as the first batch, appends made
    // WHILE the stream runs arrive as later batches, and the accumulated
    // sink equals the batch read of the same segments.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      explode(expr(graft.functions.TextTokens.ToksSql)).as("term"))
      .select("term", "doc_id")
    val third = (r: Long) => docs.filter(col("doc_id") % 3 === r)
    val dir = Files.createTempDirectory("graft-idx-tail").toString
    third(0L).write.format("graft.index").option("dir", dir)
      .mode("overwrite").save() // seg=0, present before the stream starts
    val q = spark.readStream.format("graft.index").option("dir", dir).load()
      .writeStream.format("memory").queryName("idx_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def sunk() = rows(spark.table("idx_tail").orderBy("term", "doc_id"))
      def batchRead() = rows(
        spark.read.format("graft.index").option("dir", dir).load()
          .orderBy("term", "doc_id"))
      assert(sunk() == batchRead(), "initial segments must arrive as batch 0")
      val before = spark.table("idx_tail").count()
      // appends DURING the stream, then a retry of the already-DELIVERED
      // seg=1 (the crash-after-commit replay shape: dynamic partition
      // overwrite re-lands identical rows; the checkpointed offset keeps
      // the sink from double-counting). The retry is sequenced AFTER
      // delivery on purpose — replacing a seg while a batch may be
      // mid-read races the overwrite's delete window (the same
      // single-maintainer caveat the connector documents for compact),
      // and an earlier version of this test did exactly that and flaked.
      third(1L).write.format("graft.index").option("dir", dir)
        .option("seg", "1").mode("append").save()
      q.processAllAvailable()
      third(1L).write.format("graft.index").option("dir", dir)
        .option("seg", "1").mode("append").save()
      third(2L).write.format("graft.index").option("dir", dir)
        .option("seg", "2").mode("append").save()
      q.processAllAvailable()
      assert(sunk() == batchRead(),
        "tailed segments must equal the batch read of the same layout")
      assert(spark.table("idx_tail").count() > before,
        "the appended segments must actually arrive through the stream")
    } finally q.stop()
  }

  test("graft.index streaming read: a seg dir that fails to list while it is replaced arrives on a later trigger") {
    // a dynamic partition overwrite re-landing a seg removes its dir for a
    // moment; the stream's listing of that dir then fails. The
    // `failseglist` scheme fails the first listing of a seg dir that way.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      explode(expr(graft.functions.TextTokens.ToksSql)).as("term"))
      .select("term", "doc_id")
    val dir = Files.createTempDirectory("graft-idx-relist").toString
    docs.write.format("graft.index").option("dir", dir)
      .mode("overwrite").save()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failseglist.impl", classOf[FailSegListFileSystem].getName)
    conf.setBoolean("fs.failseglist.impl.disable.cache", true)
    FailSegListFileSystem.armed.set(true)
    try {
      val q = spark.readStream.format("graft.index")
        .option("dir", s"failseglist://$dir").load()
        .writeStream.format("memory").queryName("idx_relist")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        q.processAllAvailable()
        assert(!FailSegListFileSystem.armed.get,
          "the stream must have met the failing seg listing")
        assert(rows(spark.table("idx_relist").orderBy("term", "doc_id")) ==
          rows(spark.read.format("graft.index").option("dir", dir).load()
            .orderBy("term", "doc_id")))
      } finally q.stop()
    } finally {
      FailSegListFileSystem.armed.set(false)
      conf.unset("fs.failseglist.impl")
      conf.unset("fs.failseglist.impl.disable.cache")
    }
  }

  test("maxSegsPerTrigger drains a segment backlog in bounded micro-batches") {
    // Admission control (SupportsAdmissionControl, the Kafka
    // maxOffsetsPerTrigger / file-source maxFilesPerTrigger shape): a tail
    // starting against an index with a 3-segment backlog must deliver it in
    // >= 3 one-segment batches when maxSegsPerTrigger=1 — not one giant
    // batch 0 — and the accumulated sink still equals the batch read.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      explode(expr(graft.functions.TextTokens.ToksSql)).as("term"))
      .select("term", "doc_id")
    val third = (r: Long) => docs.filter(col("doc_id") % 3 === r)
    val dir = Files.createTempDirectory("graft-idx-throttle").toString
    third(0L).write.format("graft.index").option("dir", dir)
      .mode("overwrite").save() // seg=0
    third(1L).write.format("graft.index").option("dir", dir)
      .option("seg", "1").mode("append").save()
    third(2L).write.format("graft.index").option("dir", dir)
      .option("seg", "2").mode("append").save()
    val q = spark.readStream.format("graft.index").option("dir", dir)
      .option("maxSegsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("idx_throttle")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"a 3-segment backlog at maxSegsPerTrigger=1 must take >= 3 batches, got $nonEmpty")
      assert(rows(spark.table("idx_throttle").orderBy("term", "doc_id")) ==
        rows(spark.read.format("graft.index").option("dir", dir).load()
          .orderBy("term", "doc_id")),
        "throttled tail must still deliver exactly the batch read")
    } finally q.stop()
  }

  test("Trigger.AvailableNow catches up a throttled tail and stops on its own") {
    // The production backfill pattern: process everything that exists,
    // in admission-bounded batches, then terminate — no always-on cluster
    // for a catch-up job. The engine wraps a SupportsAdmissionControl
    // source in its available-now wrapper; the segment cap must still
    // bound each batch and the query must stop by itself at the end
    // offset captured at start.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      explode(expr(graft.functions.TextTokens.ToksSql)).as("term"))
      .select("term", "doc_id")
    val third = (r: Long) => docs.filter(col("doc_id") % 3 === r)
    val dir = Files.createTempDirectory("graft-idx-avnow").toString
    third(0L).write.format("graft.index").option("dir", dir)
      .mode("overwrite").save()
    third(1L).write.format("graft.index").option("dir", dir)
      .option("seg", "1").mode("append").save()
    third(2L).write.format("graft.index").option("dir", dir)
      .option("seg", "2").mode("append").save()
    val q = spark.readStream.format("graft.index").option("dir", dir)
      .option("maxSegsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("idx_avnow")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000),
        "an AvailableNow query must terminate once the backlog is drained")
      assert(rows(spark.table("idx_avnow").orderBy("term", "doc_id")) ==
        rows(spark.read.format("graft.index").option("dir", dir).load()
          .orderBy("term", "doc_id")),
        "the terminated backfill must have delivered exactly the batch read")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"the segment cap must bound available-now batches too, got $nonEmpty")
    } finally q.stop()
  }

  test("graft.ivf streaming read: appended vector segments arrive as micro-batches") {
    // vector twin of the graft.index tail: build on disk, tail the corpus,
    // append two batches mid-stream, sink equals the batch read
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), graft.functions.ColumnOps.toDoubleArray(col("embedding")).as("v"))
    val third = (r: Long) => e.filter(col("vec_id") % 3 === r)
    val dir = Files.createTempDirectory("graft-ivf-tail").toString
    val idx = Similarity.IvfIndex.build(third(0L), 8, 3)
    Similarity.IvfIndex.write(idx, dir)
    idx.drop()
    val q = spark.readStream.format("graft.ivf").option("dir", dir)
      .option("maxSegsPerTrigger", "1") // admission control on the vector tail
      .load()
      .select("vec_id", "cid") // id projection: no vector decode on the tail
      .writeStream.format("memory").queryName("ivf_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def sunk() = rows(spark.table("ivf_tail").orderBy("vec_id"))
      def batchRead() = rows(
        spark.read.format("graft.ivf").option("dir", dir).load()
          .select("vec_id", "cid").orderBy("vec_id"))
      assert(sunk() == batchRead(), "initial segments must arrive as batch 0")
      Similarity.IvfIndex.appendTo(spark, dir, third(1L), seg = 1L)
      Similarity.IvfIndex.appendTo(spark, dir, third(2L), seg = 2L)
      q.processAllAvailable()
      assert(sunk() == batchRead(),
        "tailed vector segments must equal the batch read")
      assert(spark.table("ivf_tail").count() == e.count(),
        "all three thirds must have arrived")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"3 segments at maxSegsPerTrigger=1 must arrive as >= 3 batches, got $nonEmpty")
    } finally q.stop()
  }

  test("streaming ingestion maintains the on-disk IVF index via per-batch appends") {
    // Vector twin of the inverted-index ingest: batch 0 builds + writes the
    // index, later batches appendTo into the per-cell partitions; the final
    // on-disk index searches exactly like a same-centroid assignment of the
    // full corpus.
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), graft.functions.ColumnOps.toDoubleArray(col("embedding")).as("v"))
    val vecs = e.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (evens, odds) = vecs.partition(_._1 % 2 == 0)
    val dir = Files.createTempDirectory("graft-ivf-stream").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId == 0L)
          Similarity.IvfIndex.write(Similarity.IvfIndex.build(batch.toDF(), 8, 3), dir)
        else Similarity.IvfIndex.appendTo(spark, dir, batch.toDF(), seg = batchId)
      }.start()
    mem.addData(evens.toSeq: _*); q.processAllAvailable()
    mem.addData(odds.toSeq: _*); q.processAllAvailable()
    q.stop()
    val idx = Similarity.IvfIndex.read(spark, dir)
    val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v"))
    val expected = rows(Similarity.ivfSearch(
      Similarity.assignToCentroid(e, idx.centroids)
        .select(col("vec_id"), col("v"), col("cid")),
      idx.centroids, queries, 2, 3))
    assert(rows(idx.search(queries, 2, 3)) == expected,
      "stream-maintained IVF index must equal the same-centroid batch assignment")
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val agg = EventWindows.tumblingAgg(df.withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: two events in hour 10
    mem.addData((1L, t("2024-01-01 10:05:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 10:55:00"), 1L, "view", 1.0, "{}"))
    q.processAllAvailable()
    // batch 2: advance watermark far past hour 10 (12:30 - 10min >> 11:00)
    mem.addData((3L, t("2024-01-01 12:30:00"), 1L, "view", 1.0, "{}"))
    q.processAllAvailable()
    // batch 3: a LATE event for hour 10 — must be dropped...
    mem.addData((4L, t("2024-01-01 10:30:00"), 1L, "view", 1.0, "{}"))
    // ...and a watermark-advancing row so hour 12 can close later
    mem.addData((5L, t("2024-01-01 14:00:00"), 1L, "view", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test").collect()
      .map(r => (r.getAs[Any]("wstart").toString, r.getAs[Long]("cnt"))).toMap
    // hour-10 window emitted with 2 events only; late event 4 NOT counted
    val hour10 = out.find(_._1.startsWith("2024-01-01 10:00")).get
    assert(hour10._2 == 2L, s"late row leaked into closed window: $out")
  }

  test("checkpointed file-sink stream stops, resumes, and emits each window exactly once") {
    // The reference's cursor-checkpoint/resume capability (SURVEY.md §3.2):
    // kill the query mid-stream, restart from the checkpoint, verify no
    // window is emitted twice and emitted values equal the batch result.
    val base = Files.createTempDirectory("graft-ckpt").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val staging = splitEventsIntoChunks(6)
    val files = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def copyIn(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(in, f.getName))
      // preserve the staged file's ts-ordered mod time (source ordering)
      java.nio.file.Paths.get(in, f.getName).toFile.setLastModified(f.lastModified)
    }
    def runOnce(): Unit = {
      val q = StreamOps.tumbling(StreamOps.eventsStream(spark, in))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable(); q.stop()
    }
    copyIn(files.take(3)); runOnce()   // phase 1: partial input, then "crash"
    copyIn(files.drop(3)); runOnce()   // phase 2: resume from checkpoint
    val emitted = spark.read.parquet(out)
    assert(emitted.count() > 0)
    val dups = emitted.groupBy("wstart", "event_type").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, "a window emitted by phase 1 must not re-emit after resume")
    // every emitted window matches the batch aggregation over the full input
    val batch = wallClock(EventWindows.tumblingAgg(Tables.events(spark, sf)), "wstart")
      .withColumnsRenamed(Map("cnt" -> "b_cnt", "sum_value" -> "b_sum"))
    val mismatches = wallClock(emitted, "wstart")
      .join(batch, Seq("wstart", "event_type"), "left")
      .filter(col("cnt") =!= col("b_cnt") || col("sum_value") =!= col("b_sum") ||
        col("b_cnt").isNull)
      .count()
    assert(mismatches == 0)
  }

  test("stream-stream interval join matches the batch join") {
    val dir = splitEventsIntoChunks(5)
    val streamed = StreamOps.runToMemory(
      StreamOps.purchaseClickJoin(StreamOps.eventsStream(spark, dir)),
      "ss_join", OutputMode.Append())
    val batch = StreamOps.purchaseClickJoin(
      Tables.events(spark, sf)
        .withColumn("ts", col("ts").cast("timestamp"))) // LTZ like the stream
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("p_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = key(streamed)
    val b = key(batch)
    assert(s.nonEmpty)
    assert(s == b, s"streamed ${s.size} pairs vs batch ${b.size}")
  }

  test("mapGroupsWithState keeps exact running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.UserEvent]
    val totals = StreamOps.runningTotals(mem.toDS())
    val q = totals.writeStream.format("memory").queryName("totals")
      .outputMode(OutputMode.Update()).start()
    def t(s: String) = Timestamp.valueOf(s)
    mem.addData(StreamOps.UserEvent(1L, t("2024-01-01 00:00:00"), 1.10),
      StreamOps.UserEvent(1L, t("2024-01-01 00:01:00"), 2.20))
    q.processAllAvailable()
    mem.addData(StreamOps.UserEvent(1L, t("2024-01-01 00:02:00"), 3.30),
      StreamOps.UserEvent(2L, t("2024-01-01 00:02:00"), 5.00))
    q.processAllAvailable()
    q.stop()
    val finalRows = spark.table("totals").groupBy("user_id")
      .agg(max("n_events").as("n"), max("total_value").as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(finalRows(1L) == ((3L, 6.60)))
    assert(finalRows(2L) == ((1L, 5.00)))
  }

  test("streaming drift monitor: per-batch PSI equals the batch report on the same slice") {
    val dir = splitEventsIntoChunks(4)
    val out = Files.createTempDirectory("graft-drift-out").toString
    def bucketize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(array(
        struct(lit("etype").as("feature"), col("event_type").as("bucket")),
        struct(lit("val_bucket").as("feature"),
          concat(lit("v"), least(floor(col("value") / 20).cast("int"), lit(9))
            .cast("string")).as("bucket")))).as("f"))
        .select(col("f.feature").as("feature"), col("f.bucket").as("bucket"))
    val baseline = bucketize(Tables.events(spark, sf))
      .groupBy("feature", "bucket").agg(count(lit(1)).as("n_old"))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    StreamOps.runDriftMonitor(stream, baseline, bucketize, out)
    val audit = spark.read.parquet(out)
    val batchIds = audit.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(batchIds.length == 4, s"one report per micro-batch: $batchIds")
    // file-source batches arrive in mod-time order == name order, so
    // batch i is exactly file i — recompute its report batch-side
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    batchIds.zip(parts).foreach { case (bid, f) =>
      val got = rows(audit.filter(col("batch_id") === bid)
        .drop("batch_id").orderBy("feature", "bucket"))
      val want = rows(graft.operators.Pipeline.psiReport(baseline,
        bucketize(spark.read.parquet(f.getPath))
          .groupBy("feature", "bucket").agg(count(lit(1)).as("n_new")))
        .orderBy("feature", "bucket"))
      assert(got == want, s"batch $bid drift report diverges from the batch engine")
    }
    // the monitor detects real movement: event_id-range slices shift the
    // value distribution, so at least one bucket carries a nonzero term
    assert(audit.filter(col("psi_term").isNotNull &&
      col("psi_term") =!= 0.0).count() > 0)
  }

  // ---- graft.commitlog streaming source (r12: VERDICT r11 #3) ----

  /** Run one AvailableNow pass of the commit-log tail into a collected
    * buffer; returns (rows-by-batch, total batches). */
  private def drainCommitLogTail(root: String, ckpt: String,
      maxCommitsPerTrigger: Option[Int] = None,
      startingVersion: Option[Long] = None): Seq[Seq[Seq[Any]]] = {
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[Seq[Any]]]()
    var r = spark.readStream.format("graft.commitlog")
    maxCommitsPerTrigger.foreach(n =>
      r = r.option("maxCommitsPerTrigger", n.toString))
    startingVersion.foreach(v =>
      r = r.option("startingVersion", v.toString))
    val q = r.load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = rows(df.orderBy("id"))
        if (got.nonEmpty) batches.add(got)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq
  }

  test("graft.commitlog stream bootstraps merge-on-read state: deletion vectors and column mapping apply to the snapshot batch") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clstream-mor").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      (0L until 200L).toDF("id").withColumn("v", col("id") % 7) }
    // a scattered DV delete + a rename: the bootstrap batch must deliver
    // VISIBLE rows under LOGICAL names, never the raw parquet (r16 code
    // review: the pre-fix path read dirs bare, resurrecting deleted rows
    // and nulling renamed columns)
    val dv = CommitLog.delete(spark, root, "w", col("id") % 50 === 3).get
    assert(dv.dv.nonEmpty, "fixture must land as a vector")
    CommitLog.renameColumn(spark, root, "w", Seq("v"), "w")
    val batches = drainCommitLogTail(root,
      Files.createTempDirectory("graft-clstream-mor-ck").toString)
    assert(batches.size == 1, s"one bootstrap state batch: ${batches.size}")
    val got = batches.head
    assert(got.size == 196, s"vectored rows must not resurrect: ${got.size}")
    assert(!got.exists(r => r.head.asInstanceOf[Long] % 50 == 3))
    assert(got.head.size == 2 &&
      got.find(_.head == 10L).get(1) == 3L,
      "the renamed column streams its stored values under the mapping")
    // appends AFTER the bootstrap on the mapped table keep streaming,
    // translated (the chain guard allows an unchanged nonEmpty map)
    CommitLog.commitAppend(spark, root, "w", "append")(
      (1000L until 1010L).toDF("id").withColumn("w", col("id") % 7))
    val batches2 = drainCommitLogTail(root,
      Files.createTempDirectory("graft-clstream-mor-ck2").toString)
    // fresh checkpoint: bootstrap again over head (196 + 10 rows)
    assert(batches2.head.size == 206)
    val inc = CommitLog.commitAppend(spark, root, "w", "append")(
      (2000L until 2005L).toDF("id").withColumn("w", col("id") % 7))
    // incremental batch on the mapped table (same checkpoint dir) —
    // must deliver the 5 new rows with real values, not NULLs
    val ck3 = Files.createTempDirectory("graft-clstream-mor-ck3").toString
    val all3 = drainCommitLogTail(root, ck3)
    assert(all3.head.size == 211)
    CommitLog.commitAppend(spark, root, "w", "append")(
      (3000L until 3003L).toDF("id").withColumn("w", col("id") % 7))
    val incBatches = drainCommitLogTail(root, ck3)
    assert(incBatches.size == 1 && incBatches.head.size == 3 &&
      incBatches.head.forall(r => r(1) != null),
      s"mapped incremental batches translate physical names: $incBatches")
  }

  test("graft.commitlog stream: an incremental window spanning append then ADD COLUMNS DEFAULT delivers the constant (ADVICE r16)") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clstream-def").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10L)).toDF("id", "v") }
    // bootstrap pins the checkpoint's offset at v1
    val ckpt = Files.createTempDirectory("graft-clstream-def-ck").toString
    val boot = drainCommitLogTail(root, ckpt)
    assert(boot.size == 1 && boot.head.size == 1)
    // while the stream is DOWN: an append (v2), then ADD COLUMNS with an
    // existence DEFAULT (v3). The restart's one window (1, 3] spans both
    // — the v2 dir PREDATES the default, so the batch must deliver the
    // recorded constant exactly like every snapshot route (pre-fix: the
    // defaults commit is rowInvisible, the chain walk skips it, and the
    // bare file scan delivered NULL)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((2L, 20L)).toDF("id", "v"))
    CommitLog.evolveColumns(spark, root, "w",
      Seq(Nil -> org.apache.spark.sql.types.StructField("bonus",
        org.apache.spark.sql.types.DoubleType)),
      defaults = Map("bonus" -> "1.5"))
    val inc = drainCommitLogTail(root, ckpt)
    assert(inc.size == 1 && inc.head.size == 1, inc.toString)
    val row = inc.head.head
    assert(row.head == 2L && row(2) == 1.5,
      s"the existence default must ride the incremental batch: $row")
    // a dir appended AFTER the default stores explicit values and stays
    // on the fast bare-scan path (no applicable default)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, 30L, 9.0)).toDF("id", "v", "bonus"))
    val inc2 = drainCommitLogTail(root, ckpt)
    assert(inc2.size == 1 && inc2.head == Seq(Seq(3L, 30L, 9.0)),
      inc2.toString)
  }

  test("graft.commitlog stream: a NESTED existence default rides the incremental batch (r19)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clstream-ndef").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "st")
        .select(col("id"), struct(col("st")).as("m")) }
    val ckpt = Files.createTempDirectory("graft-clstream-ndef-ck").toString
    assert(drainCommitLogTail(root, ckpt).size == 1)
    // while the stream is DOWN: an append (v2), then a NESTED defaulted
    // add (v3) — the restart's window spans both, and the v2 dir
    // predates the field, so the batch must deliver the constant
    // through the same withField rebuild every snapshot route uses
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((2L, "b")).toDF("id", "st")
        .select(col("id"), struct(col("st")).as("m")))
    CommitLog.evolveColumns(spark, root, "w",
      Seq(Seq("m") -> org.apache.spark.sql.types.StructField("tier",
        org.apache.spark.sql.types.StringType)),
      defaults = Map("m.tier" -> "'std'"))
    val inc = drainCommitLogTail(root, ckpt)
    assert(inc.size == 1 && inc.head.size == 1, inc.toString)
    val m = inc.head.head(1).asInstanceOf[org.apache.spark.sql.Row]
    assert(inc.head.head.head == 2L && m.getString(1) == "std",
      s"the nested default must ride the incremental batch: ${inc.head}")
  }

  test("graft.commitlog streaming read: appends arrive as bounded micro-batches equal to the snapshot") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-cls").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, "d")).toDF("id", "v"))
    // REPLAY mode (explicit startingVersion=0) with admission control:
    // one commit per micro-batch — the backlog drains in 3 bounded
    // batches, together equal to the head snapshot
    val ckpt = Files.createTempDirectory("graft-cls-ck").toString
    val batches = drainCommitLogTail(root, ckpt, Some(1), Some(0L))
    assert(batches.length == 3,
      s"maxCommitsPerTrigger=1 over 3 commits must yield 3 batches, got ${batches.length}")
    assert(batches.map(_.length) == Seq(2, 1, 1),
      "each batch carries exactly its commit's rows")
    assert(batches.flatten.sortBy(_.head.asInstanceOf[Long]) ==
      rows(CommitLog.readLatest(spark, root).get.orderBy("id")))
    // default BOOTSTRAP mode: ONE snapshot batch even under admission
    // control (the snapshot is a state, not a commit backlog)
    val ckpt2 = Files.createTempDirectory("graft-cls-ck2").toString
    val one = drainCommitLogTail(root, ckpt2, Some(1))
    assert(one.length == 1 && one.head ==
      rows(CommitLog.readLatest(spark, root).get.orderBy("id")))
  }

  test("graft.commitlog stream: a fresh tail bootstraps from the snapshot even over merged/vacuumed history") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clb").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    CommitLog.merge(spark, root, "m", "id", Seq((1L, "A")).toDF("id", "v"))
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    // retained history = ONE merge-shaped commit with v1 vacuumed: append
    // replay from v0 is impossible, but a fresh tail must still work — it
    // reads the head STATE first, then appends incrementally
    val ckpt = Files.createTempDirectory("graft-clb-ck").toString
    val boot = drainCommitLogTail(root, ckpt)
    assert(boot.length == 1 && boot.head ==
      rows(CommitLog.readLatest(spark, root).get.orderBy("id")),
      s"bootstrap must deliver the head snapshot: $boot")
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    assert(drainCommitLogTail(root, ckpt).flatten.map(_.head) == Seq(3L),
      "after the bootstrap the tail is incremental")
  }

  test("graft.commitlog stream: kill/resume is exactly-once; compaction rides through silently") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clr").toString
    val ckpt = Files.createTempDirectory("graft-clr-ck").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((2L, "b")).toDF("id", "v"))
    // run 1 (then "killed": the query object is gone, only the checkpoint
    // survives — the restart path IS the resume path)
    val run1 = drainCommitLogTail(root, ckpt)
    assert(run1.flatten.map(_.head) == Seq(1L, 2L))
    // nothing new: a resumed run delivers NOTHING (exactly-once, not
    // at-least-once re-delivery of the head)
    assert(drainCommitLogTail(root, ckpt).isEmpty)
    // OPTIMIZE between runs: rowInvisible — the resumed tail advances
    // through it without re-delivering the table
    CommitLog.compact(spark, root, "opt")
    assert(drainCommitLogTail(root, ckpt).isEmpty,
      "a compact must not re-deliver rows downstream")
    // appends after the compact arrive exactly once
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    val run4 = drainCommitLogTail(root, ckpt)
    assert(run4.flatten.map(_.head) == Seq(3L),
      s"resume after compact delivers only the new append: $run4")
    // the streamed union equals the manual tail's bootstrap over the same
    // history (runCommitLogTail equivalence)
    val manualCkpt = Files.createTempDirectory("graft-clr-man").toString
    var manual = Seq.empty[Seq[Any]]
    graft.streaming.StreamOps.runCommitLogTail(spark, root, manualCkpt) {
      (df, _) => manual = rows(df.orderBy("id")) }
    assert((run1 ++ run4).flatten.sortBy(_.head.asInstanceOf[Long]) == manual)
    // manual-tail crash window (code review r12): the main checkpoint
    // file is lost mid-replace but the pre-written staging survives — a
    // resumed tail reads the max of both and must NOT re-deliver the head
    val ckptFile = new java.io.File(manualCkpt, "version")
    val v = new String(Files.readAllBytes(ckptFile.toPath), "UTF-8").trim
    Files.write(new java.io.File(manualCkpt, s".version-$v").toPath,
      v.getBytes("UTF-8"))
    Files.delete(ckptFile.toPath)
    var redelivered = false
    graft.streaming.StreamOps.runCommitLogTail(spark, root, manualCkpt) {
      (_, _) => redelivered = true }
    assert(!redelivered,
      "a surviving staging checkpoint must prevent full re-delivery")
  }

  test("graft.commitlog stream: a merge in the window fails the query with the resync contract") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clm").toString
    val ckpt = Files.createTempDirectory("graft-clm-ck").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    assert(drainCommitLogTail(root, ckpt).flatten.length == 2)
    // a merge retracts/replaces rows: the checkpointed tail must FAIL
    // loudly (resync contract), never skip or silently re-deliver
    CommitLog.merge(spark, root, "m", "id", Seq((1L, "A")).toDF("id", "v"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.commitlog").load(root)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).map(t => Option(t.getMessage).getOrElse(""))
        .exists(m => m.contains("rewrote rows") && m.contains("resync")),
      s"failure must carry the resync instruction: ${ex.getMessage}")
  }

  // ---- r13: CDF stream (readChangeFeed) + the exactly-once sink ----

  /** One AvailableNow pass of the CDF stream; returns the change rows of
    * every non-empty batch, each as (id, v, change_type, version). */
  private def drainCommitLogChanges(root: String,
      ckpt: String): Seq[(Long, String, String, Long)] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, String, Long)]()
    val q = spark.readStream.format("graft.commitlog")
      .option("readChangeFeed", "true").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.add((r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3))))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  test("graft.commitlog CDF stream: a keyed materialization rides through append+merge+compact and equals the head") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-cdfs").toString
    val ckpt = Files.createTempDirectory("graft-cdfs-ck").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    // the engine-checkpointed keyed consumer: fold change rows in commit
    // order — insert/update_postimage put, delete drops, preimages are
    // informational (the runCommitLogChangesTail contract, but through
    // readStream + the engine's own offset checkpoint)
    val state = scala.collection.mutable.Map.empty[Long, String]
    def fold(changes: Seq[(Long, String, String, Long)]): Unit =
      changes.sortBy(c => (c._4, c._1)).foreach {
        case (id, v, "insert", _) => state(id) = v
        case (id, v, "update_postimage", _) => state(id) = v
        case (id, _, "delete", _) => state.remove(id)
        case (_, _, "update_preimage", _) => ()
        case other => fail(s"unknown change type: $other")
      }
    fold(drainCommitLogChanges(root, ckpt)) // bootstrap = snapshot inserts
    assert(state == Map(1L -> "a", 2L -> "b"))
    // append + MERGE (update 1, delete 2) + compact + append — the
    // append-only tail would fail at the merge; the CDF stream must
    // deliver its persisted changeset and ride through
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    CommitLog.merge(spark, root, "m", "id",
      Seq((1L, "A", false), (2L, "b", true)).toDF("id", "v", "del"),
      deleteCol = Some("del"))
    CommitLog.compact(spark, root, "opt")
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, "d")).toDF("id", "v"))
    val incr = drainCommitLogChanges(root, ckpt)
    assert(incr.exists(_._3 == "update_postimage") &&
      incr.exists(_._3 == "delete"),
      s"the merge's changeset must arrive typed, got $incr")
    assert(!incr.exists(c => c._3 == "insert" && c._1 == 1L),
      "a compact must not re-deliver the table as inserts")
    fold(incr)
    val head = rows(CommitLog.readLatest(spark, root).get.orderBy("id"))
      .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[String]).toMap
    assert(state.toMap == head,
      s"CDF-maintained state must equal the head: $state vs $head")
    // a resumed drain with nothing new delivers nothing (exactly-once)
    assert(drainCommitLogChanges(root, ckpt).isEmpty)
    // r14: DELETE and UPDATE persist changesets too — the CDF stream
    // rides through them instead of failing with the resync error
    CommitLog.delete(spark, root, "w", col("id") === 3L)
    CommitLog.update(spark, root, "w", col("id") === 4L,
      Seq("v" -> org.apache.spark.sql.functions.upper(col("v"))))
    val incr2 = drainCommitLogChanges(root, ckpt)
    assert(incr2.exists(_._3 == "delete") &&
      incr2.exists(_._3 == "update_postimage"),
      s"delete/update changesets must arrive typed, got $incr2")
    fold(incr2)
    val head2 = rows(CommitLog.readLatest(spark, root).get.orderBy("id"))
      .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[String]).toMap
    assert(state.toMap == head2,
      s"CDF state must ride through delete+update: $state vs $head2")
    // admission control still applies: replay three appends one commit
    // per trigger through the CDF route
    val root2 = Files.createTempDirectory("graft-cdfs2").toString
    (1 to 3).foreach(k => CommitLog.commitAppend(spark, root2, "w", "append")(
      Seq((k.toLong, s"v$k")).toDF("id", "v")))
    val ck2 = Files.createTempDirectory("graft-cdfs2-ck").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q2 = spark.readStream.format("graft.commitlog")
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("maxCommitsPerTrigger", "1").load(root2)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count().toInt
        if (n > 0) batches.add(n)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination(120000) finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq == Seq(1, 1, 1),
      "maxCommitsPerTrigger bounds CDF catch-up batches")
  }

  test("graft.commitlog named-table routes: the CDF ride-through-merge proof runs against a catalog NAME end to end") {
    import spark.implicits._
    import graft.sources.CommitLog
    val catRoot = Files.createTempDirectory("graft-cdfn-cat").toString
    val root = Files.createTempDirectory("graft-cdfn").toString
    val ckpt = Files.createTempDirectory("graft-cdfn-ck").toString
    // suite-unique catalog name (r16): suites share one SparkSession and
    // run in PARALLEL; Spark's CatalogManager caches a catalog instance
    // (and its `dir`) by NAME on first use, so a name another suite also
    // registers would race — the same stale-instance hazard ADVICE r14
    // fixed for the fixture catalogs with dataset-hashed names
    spark.conf.set("spark.sql.catalog.gclns", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclns.dir", catRoot)
    try {
      CommitLog.commit(spark, root, "w", "create") { _ =>
        Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      spark.sql(s"CREATE TABLE gclns.t USING `graft.commitlog` LOCATION '$root'")
      val state = scala.collection.mutable.Map.empty[Long, String]
      def fold(changes: Seq[(Long, String, String, Long)]): Unit =
        changes.sortBy(c => (c._4, c._1)).foreach {
          case (id, v, "insert", _) => state(id) = v
          case (id, v, "update_postimage", _) => state(id) = v
          case (id, _, "delete", _) => state.remove(id)
          case (_, _, "update_preimage", _) => ()
          case other => fail(s"unknown change type: $other")
        }
      // every drain targets the NAME — no raw path crosses the API
      fold(drainCommitLogChanges("gclns.t", ckpt))
      assert(state == Map(1L -> "a", 2L -> "b"))
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((3L, "c")).toDF("id", "v"))
      CommitLog.merge(spark, root, "m", "id",
        Seq((1L, "A", false), (2L, "b", true)).toDF("id", "v", "del"),
        deleteCol = Some("del"))
      CommitLog.compact(spark, root, "opt")
      val incr = drainCommitLogChanges("gclns.t", ckpt)
      assert(incr.exists(_._3 == "update_postimage") &&
        incr.exists(_._3 == "delete"),
        s"the merge's changeset must ride through by name, got $incr")
      fold(incr)
      val head = rows(spark.table("gclns.t").orderBy("id"))
        .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[String]).toMap
      assert(state.toMap == head,
        s"named-CDF-maintained state must equal the head: $state vs $head")
      // exactly-once on the same checkpoint, still by name
      assert(drainCommitLogChanges("gclns.t", ckpt).isEmpty)
      // the exactly-once SINK also takes the name: stream one batch in
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      mem.addData((9L, "z"))
      val sq = mem.toDF().toDF("id", "v").writeStream
        .format("graft.commitlog").option("txnAppId", "namedsink")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-cdfn-sk").toString)
        .start("gclns.t")
      try sq.processAllAvailable() finally sq.stop()
      assert(rows(spark.table("gclns.t").orderBy("id")).map(_.head) ==
        Seq(1L, 3L, 9L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gclns.t")
      spark.conf.unset("spark.sql.catalog.gclns")
      spark.conf.unset("spark.sql.catalog.gclns.dir")
    }
  }

  test("graft.commitlog CDF stream: a plain rewrite still fails loudly — the feed must not resurrect retracted history") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-cdfr").toString
    val ckpt = Files.createTempDirectory("graft-cdfr-ck").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    assert(drainCommitLogChanges(root, ckpt).length == 2)
    CommitLog.commit(spark, root, "w", "rewrite") { cur =>
      cur.get.filter(col("id") =!= 1L) }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.commitlog")
        .option("readChangeFeed", "true").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).map(t => Option(t.getMessage).getOrElse(""))
      .exists(m => m.contains("not") && m.contains("incrementally readable")
        || m.contains("resync")),
      s"CDF failure must carry the resync instruction: ${ex.getMessage}")
  }

  test("graft.commitlog stream: startingTimestamp resolves to a version floor — replay delivers exactly the at-or-after commits") {
    import spark.implicits._
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-clts").toString
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    Thread.sleep(20L)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((2L, "b")).toDF("id", "v"))
    Thread.sleep(20L)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    val ts = CommitLog.history(spark, root).orderBy("version").collect()
      .map(_.getAs[Long]("ts_ms"))
    // floor resolution: strictly-before semantics, boundary included
    assert(CommitLog.versionBeforeTimestamp(spark, root, ts(1)) == 1L)
    assert(CommitLog.versionBeforeTimestamp(spark, root, ts(0)) == 0L)
    assert(CommitLog.versionBeforeTimestamp(spark, root, ts(2) + 1000L) == 3L)
    // the stream from v2's wall-clock delivers v2 and v3 only
    val ckpt = Files.createTempDirectory("graft-clts-ck").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft.commitlog")
      .option("startingTimestamp", ts(1).toString).load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got.add(r.getLong(0)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == Seq(2L, 3L),
      s"startingTimestamp must replay exactly the at-or-after commits: $got")
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft.commitlog")
        .option("startingTimestamp", ts(1).toString)
        .option("startingVersion", "1").load(root)
    }
  }

  test("graft.commitlog sink: writeStream appends exactly-once, and a zombie replay with the same txnAppId no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.CommitLog
    val root = Files.createTempDirectory("graft-sink").toString
    val ck1 = Files.createTempDirectory("graft-sink-ck1").toString
    def runOnce(ck: String): Unit = {
      val in = MemoryStream[(Long, String)]
      in.addData((1L, "a"), (2L, "b"))
      in.addData((3L, "c"))
      val q = in.toDF().toDF("id", "v")
        .writeStream.format("graft.commitlog")
        .option("path", root)
        .option("txnAppId", "sinkapp")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    runOnce(ck1)
    val afterFirst = rows(
      CommitLog.readLatest(spark, root).get.orderBy("id"))
    assert(afterFirst == Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    val head1 = CommitLog.latest(spark, root).get
    assert(head1.action == "stream-append" &&
      head1.txn.exists(_._1 == "sinkapp"),
      "sink commits carry the txn watermark and the audit verb")
    // ZOMBIE REPLAY: a second query instance with a FRESH checkpoint
    // re-delivers the same batch ids under the same txnAppId — every
    // batch must no-op against the table's watermark (the Delta
    // idempotent-sink proof, end to end through writeStream)
    val ck2 = Files.createTempDirectory("graft-sink-ck2").toString
    runOnce(ck2)
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      afterFirst, "replayed batches must not re-append")
    assert(CommitLog.latest(spark, root).get.version == head1.version)
    // new data through the original checkpoint arrives exactly once
    val in2 = MemoryStream[(Long, String)]
    // (fresh stream, same checkpoint dir is not valid engine usage — use
    // a new checkpoint for the new source; exactly-once here is the
    // TABLE's txn dedup, proven above)
    val ck3 = Files.createTempDirectory("graft-sink-ck3").toString
    in2.addData((4L, "d"))
    val q2 = in2.toDF().toDF("id", "v")
      .writeStream.format("graft.commitlog")
      .option("path", root)
      .option("txnAppId", "sinkapp2")
      .option("checkpointLocation", ck3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q2.awaitTermination(120000) finally q2.stop()
    assert(CommitLog.readLatest(spark, root).get.count() == 4L)
    // append output mode is the contract; no txnAppId and no
    // checkpointLocation-derived identity fails loudly at start
    intercept[Exception] {
      val in3 = MemoryStream[(Long, String)]
      in3.addData((9L, "z"))
      in3.toDF().toDF("id", "v").writeStream.format("graft.commitlog")
        .option("path", root)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sink-ck4").toString)
        .start()
    }
  }
}

/** The local filesystem under the `failseglist` scheme, where the first
  * listing of a `seg=` dir after [[FailSegListFileSystem.armed]] is set
  * fails the way Hadoop's local listing does when the dir vanishes
  * mid-listing. */
class FailSegListFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failseglist:///")
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    if (f.getName.startsWith("seg=") &&
        FailSegListFileSystem.armed.getAndSet(false))
      throw new java.io.IOException(
        s"Invalid directory or I/O error occurred for dir: $f")
    else super.listStatus(f)
}

object FailSegListFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
