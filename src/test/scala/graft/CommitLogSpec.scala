package graft

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import org.apache.spark.sql.functions._
import graft.sources.{CommitLog, LockLease}

/** Optimistic commit log (SURVEY.md §3.2, VERDICT r10 missing #4): claim
  * atomicity, read-modify-write serializability under concurrent writers,
  * torn-tail repair, snapshot-consistent reads, vacuum retention. */
class CommitLogSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-commitlog").toString

  test("sequential commits version linearly; time travel reads history") {
    import spark.implicits._
    val root = freshRoot()
    val c1 = CommitLog.commit(spark, root, "w1", "create") { cur =>
      assert(cur.isEmpty, "first commit sees an empty table")
      Seq((1L, "a")).toDF("id", "v")
    }
    assert(c1.version == 1L)
    // a quote in a tag would render a COMMITTED claim unparseable (read
    // as torn and repaired away) — rejected at the API edge instead
    intercept[IllegalArgumentException] {
      CommitLog.commit(spark, root, "w\"evil", "x") { _ => Seq(1L).toDF("id") }
    }
    val c2 = CommitLog.commit(spark, root, "w1", "append") { cur =>
      cur.get.unionByName(Seq((2L, "b")).toDF("id", "v"))
    }
    assert(c2.version == 2L)
    val got = rows(CommitLog.readLatest(spark, root).get.orderBy("id"))
    assert(got == Seq(Seq(1L, "a"), Seq(2L, "b")))
    // version 1 stays readable until vacuumed (immutable snapshot dirs)
    assert(rows(CommitLog.readVersion(spark, root, 1L).get) == Seq(Seq(1L, "a")))
    assert(CommitLog.readVersion(spark, root, 99L).isEmpty)
  }

  test("8 concurrent read-modify-write writers serialize: every update applied exactly once") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "seed", "create") { _ =>
      Seq((0L, 0L)).toDF("slot", "hits")
    }
    // each writer appends its own slot row AND increments the shared
    // counter — the read-modify-write a lost-update bug would corrupt
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { w =>
        Future {
          CommitLog.commit(spark, root, s"w$w", "incr") { cur =>
            val prev = cur.get
            prev.withColumn("hits",
                when(col("slot") === 0L, col("hits") + 1L).otherwise(col("hits")))
              .unionByName(Seq((w.toLong, 1L)).toDF("slot", "hits"))
          }
        }
      }
      val commits = Await.result(Future.sequence(futures), Duration.Inf)
      // versions 2..9, each claimed exactly once
      assert(commits.map(_.version).sorted == (2L to 9L))
    } finally pool.shutdown()
    val fin = CommitLog.readLatest(spark, root).get
    val counter = fin.filter(col("slot") === 0L).head().getLong(1)
    assert(counter == 8L, s"lost update: counter $counter != 8")
    assert(fin.count() == 9L, "every writer's slot row appended exactly once")
    assert(CommitLog.latest(spark, root).get.version == 9L)
  }

  test("readers always see a complete committed snapshot while writers run") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "seed", "create") { _ =>
      spark.range(100).select(col("id"), lit(1L).as("gen"))
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // invariant per snapshot: exactly 100 rows, single gen value — a
      // torn read (half old / half new files) would break either
      val writers = (2 to 5).map { g =>
        Future {
          CommitLog.commit(spark, root, s"w$g", "rewrite") { _ =>
            spark.range(100).select(col("id"), lit(g.toLong).as("gen"))
          }
        }
      }
      val reader = Future {
        var checks = 0
        while (checks < 12) {
          val df = CommitLog.readLatest(spark, root).get
          val gens = df.select("gen").distinct().collect().map(_.getLong(0))
          assert(gens.length == 1, s"torn snapshot: gens ${gens.toSeq}")
          assert(df.count() == 100L)
          checks += 1
        }
        checks
      }
      Await.result(Future.sequence(writers), Duration.Inf)
      assert(Await.result(reader, Duration.Inf) == 12)
    } finally pool.shutdown()
  }

  test("torn tail commit: readers skip it, the next writer repairs and re-claims it") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w1", "create") { _ => Seq(1L).toDF("id") }
    // simulate a crashed claimant: a garbage v2 claim file, aged past the
    // repair grace period
    val torn = new java.io.File(
      s"$root/_commits/v${"%020d".format(2L)}.json")
    Files.write(torn.toPath, "{\"version\":2,\"dataDi".getBytes)
    torn.setLastModified(System.currentTimeMillis() - 60000L)
    // readers treat the torn commit as never-happened
    assert(CommitLog.latest(spark, root).get.version == 1L)
    assert(rows(CommitLog.readLatest(spark, root).get) == Seq(Seq(1L)))
    // the next writer deletes the torn claim and takes version 2 itself
    val c = CommitLog.commit(spark, root, "w2", "append") { cur =>
      cur.get.unionByName(Seq(2L).toDF("id"))
    }
    assert(c.version == 2L)
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      Seq(Seq(1L), Seq(2L)))
  }

  test("vacuum keeps newest K versions and sweeps only provably-lost stagings") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 5).foreach { i =>
      CommitLog.commit(spark, root, "w", s"rewrite$i") { _ =>
        Seq(i.toLong).toDF("id")
      }
    }
    // a lost-claim leftover for an already-committed version (sweepable)
    // and an in-flight staging for a future version (must survive)
    new java.io.File(s"$root/data-deadbeef-v3").mkdirs()
    new java.io.File(s"$root/data-future00-v9").mkdirs()
    // graceMs = 0 disables the concurrent-appender age guard (no
    // concurrent writers in this test; the guard is covered below)
    val dropped = CommitLog.vacuum(spark, root, keep = 2, graceMs = 0L)
    assert(dropped == 3)
    assert(CommitLog.readVersion(spark, root, 3L).isEmpty, "vacuumed version gone")
    assert(rows(CommitLog.readVersion(spark, root, 4L).get) == Seq(Seq(4L)))
    assert(rows(CommitLog.readLatest(spark, root).get) == Seq(Seq(5L)))
    assert(!new java.io.File(s"$root/data-deadbeef-v3").exists(),
      "lost-claim staging must be swept")
    assert(new java.io.File(s"$root/data-future00-v9").exists(),
      "possible in-flight staging must survive vacuum")
    // the age guard: a fresh unreferenced staging for a passed version
    // survives a default-grace vacuum (it may belong to a LIVE appender
    // whose tentative version was overtaken while it retries)
    new java.io.File(s"$root/data-retrying-v4").mkdirs()
    CommitLog.vacuum(spark, root, keep = 2)
    assert(new java.io.File(s"$root/data-retrying-v4").exists(),
      "grace period must protect a possibly-live appender's staging")
  }

  test("append commits are O(delta): shared prior dirs untouched; vacuum respects sharing") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq(1L, 2L, 3L).toDF("id")
    }
    val dirA = CommitLog.latest(spark, root).get.dataDirs.head
    def filesOf(dir: String) = new java.io.File(s"$root/$dir").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).sortBy(_._1).toSeq
    val before = filesOf(dirA)
    val c2 = CommitLog.commitAppend(spark, root, "w", "append")(Seq(4L).toDF("id"))
    // the append referenced the existing dir and added ONE delta dir —
    // nothing of the prior snapshot was rewritten
    assert(c2.dataDirs.size == 2 && c2.dataDirs.head == dirA)
    assert(filesOf(dirA) == before, "append must not touch prior data files")
    val c3 = CommitLog.commitAppend(spark, root, "w", "append")(Seq(5L).toDF("id"))
    assert(c3.dataDirs.size == 3)
    assert(CommitLog.readLatest(spark, root).get.orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // vacuum keep=2 drops v1's commit file, but dirA is SHARED by the
    // kept append commits and must survive; v2 stays time-travelable
    val dropped = CommitLog.vacuum(spark, root, keep = 2, graceMs = 0L)
    assert(dropped == 1)
    assert(new java.io.File(s"$root/$dirA").exists(),
      "a dir referenced by kept commits must survive vacuum")
    assert(CommitLog.readVersion(spark, root, 2L).get.orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (1L to 4L))
    assert(CommitLog.readVersion(spark, root, 1L).isEmpty)
  }

  test("append schema enforcement and the history audit surface") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "loader", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v")
    }
    // a drifted delta (renamed column) is rejected — it would silently
    // merge into a franken-schema on the next multi-dir read
    val e = intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "loader", "append")(
        Seq((2L, "b")).toDF("id", "val"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    CommitLog.commitAppend(spark, root, "loader", "append")(
      Seq((2L, "b")).toDF("id", "v"))
    // history: one row per commit, in version order, log-only read
    val h = CommitLog.history(spark, root).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getInt(4)))
    assert(h.toSeq == Seq((1L, "loader", "create", 1), (2L, "loader", "append", 2)))
    // every commit carries its wall-clock (r13) — the audit's WHEN column
    val ts = CommitLog.history(spark, root).orderBy("version").collect()
      .map(r => r.getAs[java.lang.Long]("ts_ms"))
    assert(ts.forall(_ != null) && ts(0) <= ts(1),
      "commit timestamps recorded and ordered with versions")
  }

  test("appendedSince reads only the delta; a rewrite voids directory identity") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ => Seq(1L, 2L).toDF("id") }
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(3L).toDF("id"))
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(4L, 5L).toDF("id"))
    // consumer last saw v1: the increment is exactly the two appends
    val delta = CommitLog.appendedSince(spark, root, 1L).get
    assert(delta.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    // consumer at v2 gets only the second append
    assert(CommitLog.appendedSince(spark, root, 2L).get.orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))
    // consumer already at head: nothing new
    assert(CommitLog.appendedSince(spark, root, 3L).isEmpty)
    // a REWRITE breaks dir-identity incrementality: consumers must fall
    // back to a full read / row diff, signalled by None
    CommitLog.commit(spark, root, "w", "rewrite") { cur =>
      cur.get.filter(col("id") =!= 2L)
    }
    assert(CommitLog.appendedSince(spark, root, 1L).isEmpty)
    // a VACUUMED base version also yields None (the resync signal), not a
    // FileNotFoundException from reading the deleted claim file
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    assert(CommitLog.appendedSince(spark, root, 2L).isEmpty)
  }

  test("commit-log tail: bootstrap, delta-only runs, no-op at head, rewrite demands resync") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-cl-tail").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    def run(): Long = StreamOps.runCommitLogTail(spark, root, ckpt) { (df, v) =>
      seen += ((v, df.orderBy("id").collect().map(_.getLong(0)).toSeq))
    }
    CommitLog.commit(spark, root, "w", "create") { _ => Seq(1L, 2L).toDF("id") }
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(3L).toDF("id"))
    // bootstrap: the full head snapshot at version 2
    assert(run() == 2L && seen.toSeq == Seq((2L, Seq(1L, 2L, 3L))))
    // two more appends: one tail run processes EXACTLY the new rows
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(4L).toDF("id"))
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(5L).toDF("id"))
    assert(run() == 4L && seen.last == ((4L, Seq(4L, 5L))))
    // nothing new: no process call, checkpoint unchanged
    assert(run() == 4L && seen.size == 2)
    // a rewrite breaks append-only incrementality: loud resync, not a
    // silent re-read
    CommitLog.commit(spark, root, "w", "rewrite") { cur => cur.get.limit(2) }
    val e = intercept[IllegalStateException](run())
    assert(e.getMessage.contains("resync"))
  }

  test("concurrent appends all land exactly once with sequential versions") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "seed", "create") { _ => Seq(0L).toDF("id") }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val commits = Await.result(Future.sequence((1 to 4).map(w => Future {
        CommitLog.commitAppend(spark, root, s"w$w", "append")(
          Seq(w.toLong).toDF("id"))
      })), Duration.Inf)
      assert(commits.map(_.version).sorted == (2L to 5L))
    } finally pool.shutdown()
    assert(CommitLog.readLatest(spark, root).get.orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (0L to 4L))
  }

  test("compact consolidates the head, preserves rows, travels until vacuumed, no-ops when compact") {
    import spark.implicits._
    val root = freshRoot()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(dirs: Seq[String]): Int = dirs.map { d =>
      f.listStatus(new org.apache.hadoop.fs.Path(root, d))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }.sum
    // empty table: nothing to compact
    assert(CommitLog.compact(spark, root, "opt").isEmpty)
    CommitLog.commit(spark, root, "seed", "create") { _ =>
      (0L until 8L).toDF("id").repartition(8)
    }
    (1 to 3).foreach { k =>
      CommitLog.commitAppend(spark, root, "w", "append")(
        (k * 100L until k * 100L + 4L).toDF("id").repartition(4))
    }
    val before = CommitLog.latest(spark, root).get
    assert(before.dataDirs.size == 4)
    val preFiles = parquetFiles(before.dataDirs)
    // empty repartition slices write no file, so the count is ≤ 8+3·4;
    // what matters is it's far above the post-compact bound of 2
    assert(preFiles >= 10, s"fixture should be small-file-heavy, got $preFiles")
    val expect = (0L until 8L) ++ (1 to 3).flatMap(k => k * 100L until k * 100L + 4L)

    val compacted = CommitLog.compact(spark, root, "opt", targetFiles = 2).get
    assert(compacted.version == 5L && compacted.action == "compact")
    assert(compacted.dataDirs.size == 1, "head collapses to one directory")
    assert(parquetFiles(compacted.dataDirs) <= 2, "file count bounded by targetFiles")
    assert(CommitLog.readLatest(spark, root).get.orderBy("id")
      .collect().map(_.getLong(0)).toSeq == expect.sorted,
      "compaction is row-invisible")
    // pre-compact versions stay travel-readable until vacuum sweeps them
    assert(CommitLog.readVersion(spark, root, before.version).get.count() == expect.size)
    val swept = CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    assert(swept == 4, s"vacuum drops the 4 pre-compact commits, got $swept")
    assert(CommitLog.readVersion(spark, root, before.version).isEmpty)
    val dirsOnDisk = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("data-"))
    assert(dirsOnDisk.length == 1, "all pre-compact directories swept")
    // an already-compact head is returned untouched (schedulable cadence)
    val again = CommitLog.compact(spark, root, "opt", targetFiles = 2).get
    assert(again.version == compacted.version, "no-op compaction writes no commit")
  }

  test("incremental compact bin-packs the fragmented tail; well-packed dirs carry byte-identical (VERDICT r17 #1)") {
    import spark.implicits._
    val root = freshRoot()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileIdentity(d: String): Seq[(String, Long, Long)] =
      f.listStatus(new org.apache.hadoop.fs.Path(root, d))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .sortBy(_._1).toSeq
    val packBytes = 64L << 10
    // a WELL-PACKED base (one dir, > packBytes) plus a fragmented tail
    CommitLog.commit(spark, root, "seed", "create", statsCol = Some("id")) {
      _ => (0L until 50000L).toDF("id").coalesce(1) }
    val base = CommitLog.latest(spark, root).get.dataDirs.head
    assert(f.getContentSummary(new org.apache.hadoop.fs.Path(root, base))
      .getLength > packBytes, "fixture base must exceed the pack threshold")
    (1 to 3).foreach(k =>
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCol = Some("id"))(
        (100000L + k * 10L until 100000L + k * 10L + 10L).toDF("id")))
    val before = CommitLog.latest(spark, root).get
    val baseFiles = fileIdentity(base)
    val packed = CommitLog.compact(spark, root, "opt", targetFiles = 2,
      packBytes = packBytes).get
    assert(packed.action == "compact" && packed.rowInvisible)
    assert(packed.dataDirs.size == 2 && packed.dataDirs.contains(base),
      s"the tail packs into ONE new dir; the base carries: ${packed.dataDirs}")
    assert(fileIdentity(base) == baseFiles,
      "the carried dir is BYTE-identical — same files, sizes, mtimes")
    assert(packed.stats.get(base) == before.stats.get(base),
      "carried dirs keep their recorded stats through a pack")
    assert(CommitLog.readLatest(spark, root).get.count() == 50030L,
      "packing is row-invisible")
    // the packed head no-ops the next cadence hit (schedulable)
    val again = CommitLog.compact(spark, root, "opt", targetFiles = 2,
      packBytes = packBytes).get
    assert(again.version == packed.version, "packed head must no-op")
    // incremental consumers ride through the pack: appends after the
    // pre-pack checkpoint deliver, the packed snapshot never re-delivers
    val delta = CommitLog.changesSince(spark, root, before.version).get
    assert(delta.count() == 0L, "a pack-only window is an EMPTY delta")
    // a deletion vector makes even a well-packed dir under-packed: the
    // next pack materializes the vector away (the OPTIMIZE contract)
    CommitLog.delete(spark, root, "d", col("id") === 7L)
    val dvHead = CommitLog.latest(spark, root).get
    assert(dvHead.dv.contains(base), "fixture: the base must carry a vector")
    val packed2 = CommitLog.compact(spark, root, "opt", targetFiles = 2,
      packBytes = packBytes).get
    assert(packed2.dv.isEmpty && !packed2.dataDirs.contains(base),
      "a dv-bearing dir rewrites on the next pack, vector materialized away")
    assert(CommitLog.readLatest(spark, root).get.count() == 50029L)
    // stats survive end-to-end: the appended range reads intact (the
    // deleted id=7 lived in the base) after both packs
    val q = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") >= 100000L)
    assert(q.count() == 30L)
  }

  test("lock-lease claim backend: 8 writers serialize through a store WITHOUT atomic create; stale fences bounce (VERDICT r17 #5)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // deterministic fencing check first: a holder stalling past its
    // lease (the classic GC-pause double-holder) can never overwrite
    // the successor's claim
    val locks = new LockLease.InMemoryLockService
    val store = new LockLease.BlindPutStore(fsys)
    val key = s"$root/fence-probe"
    val p = new org.apache.hadoop.fs.Path(key)
    val a = locks.acquire(key, "A", leaseMs = 15L).get
    assert(locks.acquire(key, "B", leaseMs = 15L).isEmpty,
      "a valid lease excludes other owners")
    Thread.sleep(40L) // A's lease expires mid-"write"
    val b = locks.acquire(key, "B", leaseMs = 60000L).get
    assert(b > a, "fences are monotonic per key")
    assert(store.putIfFenceCurrent(p, "B".getBytes("UTF-8"), b))
    assert(!store.putIfFenceCurrent(p, "A".getBytes("UTF-8"), a),
      "the stale holder's late PUT must bounce off the fence")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(key)), "UTF-8") == "B")
    // the full protocol: 8 writers race appends with atomic create
    // REMOVED from the store — serializability must come from the
    // backend (lease + fence), not from file:// create-exclusive
    CommitLog.setClaimBackend(LockLease.backend(fsys, "sim"))
    try {
      val table = root + "/t"
      CommitLog.commit(spark, table, "seed", "create") { _ =>
        Seq((0L, "seed")).toDF("id", "v") }
      val writers = (1 to 8).map { w =>
        Future {
          (1 to 3).foreach { i =>
            CommitLog.commitAppend(spark, table, s"w$w", "append")(
              Seq((w * 100L + i, s"w$w-$i")).toDF("id", "v"))
          }
        }
      }
      writers.foreach(Await.result(_, 5.minutes))
      val h = CommitLog.latest(spark, table).get
      assert(h.version == 25L,
        s"24 racing appends + create must serialize to v25, got ${h.version}")
      assert(CommitLog.readLatest(spark, table).get.count() == 25L,
        "no committed row lost under the lock-lease backend")
      assert((1L to 25L).forall(v =>
        CommitLog.commitAt(spark, table, v).isDefined),
        "every version in the serial chain parses")
    } finally CommitLog.resetClaimBackend()
  }

  test("conditional-put claim backend: claim = one If-None-Match create, 8 writers serialize with NO lock service (VERDICT r18 #6)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the primitive first: of N concurrent conditional creates on one
    // key, exactly ONE wins and its full bytes are what lands (the 412
    // losers see false, never a torn object)
    val store = new LockLease.ConditionalPutStore(fsys)
    val key = new org.apache.hadoop.fs.Path(s"$root/probe")
    val attempts = (1 to 8).map { i =>
      Future(store.putIfAbsent(key, s"writer-$i".getBytes("UTF-8")))
    }
    val wins = attempts.map(Await.result(_, 1.minute)).count(identity)
    assert(wins == 1, s"exactly one conditional create may win, got $wins")
    val landed = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/probe")), "UTF-8")
    assert(landed.startsWith("writer-"),
      s"the winner's complete bytes must be visible, got '$landed'")
    assert(!store.putIfAbsent(key, "late".getBytes("UTF-8")),
      "a later create on a taken key answers false (412), never clobbers")
    // the full protocol: the same 8-writer race the other two backends
    // pass, with claims routed through conditional create alone
    CommitLog.setClaimBackend(LockLease.conditionalPutBackend(fsys))
    try {
      val table = root + "/t"
      CommitLog.commit(spark, table, "seed", "create") { _ =>
        Seq((0L, "seed")).toDF("id", "v") }
      val writers = (1 to 8).map { w =>
        Future {
          (1 to 3).foreach { i =>
            CommitLog.commitAppend(spark, table, s"w$w", "append")(
              Seq((w * 100L + i, s"w$w-$i")).toDF("id", "v"))
          }
        }
      }
      writers.foreach(Await.result(_, 5.minutes))
      val h = CommitLog.latest(spark, table).get
      assert(h.version == 25L,
        s"24 racing appends + create must serialize to v25, got ${h.version}")
      assert(CommitLog.readLatest(spark, table).get.count() == 25L,
        "no committed row lost under the conditional-put backend")
      assert((1L to 25L).forall(v =>
        CommitLog.commitAt(spark, table, v).isDefined),
        "every version in the serial chain parses")
    } finally CommitLog.resetClaimBackend()
  }

  test("nested column mapping: struct-field RENAME/DROP are metadata-only, re-adds never resurrect, hazards refuse path-wise (VERDICT r17 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    val v1 = CommitLog.latest(spark, root).get
    def metaFields(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq
    // RENAME meta.x -> score: ONE metadata commit, zero dirs moved, the
    // field's physical name frozen path-keyed, the nested gate recorded
    val c = CommitLog.renameStructField(spark, root, "w",
      Seq("meta", "x"), "score")
    assert(c.dataDirs == v1.dataDirs && c.colMap("meta.score") == "x",
      s"nested rename must be metadata-only over a frozen path: ${c.colMap}")
    assert(CommitLog.gatedFeatures(c).contains("colmap-nested"),
      "a nested mapping must gate top-level-only binaries out")
    val lib = CommitLog.readLatest(spark, root).get
    assert(metaFields(lib) == Seq("st", "score"))
    assert(rows(lib.select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, 1.5), Seq(2L, 2.5)), "old dirs translate at depth")
    assert(rows(spark.read.format("graft.commitlog").load(root)
      .select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, 1.5), Seq(2L, 2.5)), "connector route translates too")
    // time travel shows the OLD nested name (its commit records it)
    assert(metaFields(CommitLog.readVersion(spark, root, v1.version).get) ==
      Seq("st", "x"))
    // post-rename writes stage under the frozen physical; merge rides
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c", 3.5)).toDF("id", "st", "score")
        .select(col("id"), struct(col("st"), col("score")).as("meta")))
    CommitLog.merge(spark, root, "m", "id",
      Seq((2L, "B", 9.5)).toDF("id", "st", "score")
        .select(col("id"), struct(col("st"), col("score")).as("meta")))
    def scores = CommitLog.readLatest(spark, root).get.orderBy("id")
      .select("meta.score").collect().map(_.getDouble(0)).toSeq
    assert(scores == Seq(1.5, 9.5, 3.5),
      s"append+merge must translate through the nested mapping: $scores")
    // DROP meta.st, then re-ADD the same nested name: the fresh
    // `col-<uuid>` physical reads typed NULL — never the dropped bytes
    CommitLog.dropStructField(spark, root, "w", Seq("meta", "st"))
    assert(metaFields(CommitLog.readLatest(spark, root).get) == Seq("score"))
    val re = CommitLog.evolveStructFields(spark, root, "w", Seq("meta"),
      Seq(StructField("st", StringType)))
    assert(re.colMap.get("meta.st").exists(_.startsWith("col-")),
      s"a re-added nested name must take a fresh physical: ${re.colMap}")
    assert(CommitLog.readLatest(spark, root).get.select("meta.st")
      .collect().forall(_.isNullAt(0)),
      "re-added nested field must NOT resurrect dropped bytes")
    // a FULL rewrite materializes logical names and clears the map
    // (fragment the head first — a quiescent single small dir would
    // no-op, the schedulable-cadence contract)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, 4.5, "d")).toDF("id", "score", "st")
        .select(col("id"), struct(col("score"), col("st")).as("meta")))
    val fc = CommitLog.compact(spark, root, "opt").get
    assert(fc.colMap.isEmpty,
      s"a full compact must materialize and clear the map: ${fc.colMap}")
    assert(scores == Seq(1.5, 9.5, 3.5, 4.5))
    // hazards refuse PATH-WISE: a constraint on meta.x blocks renaming
    // meta.x and meta, but NOT the sibling meta.st
    val root2 = freshRoot() + "/c"
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq((1L, "a", 1.5)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    CommitLog.addConstraint(spark, root2, "w", "pos_x", "meta.x > 0")
    intercept[IllegalArgumentException] {
      CommitLog.renameStructField(spark, root2, "w", Seq("meta", "x"), "y") }
    intercept[IllegalArgumentException] {
      CommitLog.dropStructField(spark, root2, "w", Seq("meta", "x")) }
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root2, "w", "meta", "info") }
    val sib = CommitLog.renameStructField(spark, root2, "w",
      Seq("meta", "st"), "tag")
    assert(sib.colMap("meta.tag") == "st",
      "a constraint on meta.x must not block the sibling meta.st")
    assert(rows(CommitLog.readLatest(spark, root2).get
      .select(col("meta.tag"), col("meta.x"))) == Seq(Seq("a", 1.5)))
    // the statement faces route through the verbs
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gnm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnm.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gnm.t USING `graft.commitlog` LOCATION '$root2'")
      spark.sql("ALTER TABLE gnm.t RENAME COLUMN meta.tag TO label")
      assert(CommitLog.latest(spark, root2).get.writer == "catalog")
      spark.sql("ALTER TABLE gnm.t DROP COLUMN meta.label")
      assert(metaFields(spark.table("gnm.t")) == Seq("x"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gnm.t")
      spark.conf.unset("spark.sql.catalog.gnm")
      spark.conf.unset("spark.sql.catalog.gnm.dir")
    }
  }

  test("ALTER COLUMN TYPE: safe widenings are metadata-only, mixed dirs read promoted on every route, unsafe retypes refuse (VERDICT r17 #4)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType,
      IntegerType, LongType, StringType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("i")) { _ =>
      Seq((1, 1.5f, "1.23"), (2, 2.5f, "4.56")).toDF("i", "f", "d")
        .select(col("i"), col("f"), col("d").cast("decimal(5,2)").as("d")) }
    val before = CommitLog.latest(spark, root).get
    val c1 = CommitLog.widenColumnType(spark, root, "w", "i", LongType)
    assert(c1.dataDirs == before.dataDirs && c1.action == "retype",
      "widening is one metadata commit, zero data moved")
    // old int32 files read as bigint — library, connector, time travel
    val lib = CommitLog.readLatest(spark, root).get
    assert(lib.schema("i").dataType == LongType &&
      lib.orderBy("i").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "parquet read-side promotion must fill the pinned wider schema")
    val conn = spark.read.format("graft.commitlog").load(root)
    assert(conn.schema("i").dataType == LongType && conn.count() == 2L)
    assert(CommitLog.readVersion(spark, root, 1L).get
      .schema("i").dataType == IntegerType,
      "time travel before the retype shows the narrow type")
    // a post-widening append stores values only the wide type can hold;
    // mixed narrow/wide dirs union soundly and stats keep pruning (the
    // integral stats domain is the same long domain on both sides)
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("i"))(
      Seq((3000000000L, 9.5f, "9.99")).toDF("i", "f", "d")
        .select(col("i"), col("f"), col("d").cast("decimal(5,2)").as("d")))
    val all = spark.read.format("graft.commitlog").load(root)
    assert(all.orderBy("i").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3000000000L))
    val probe = spark.read.format("graft.commitlog").load(root)
      .filter(col("i") === 3000000000L)
    assert(probe.count() == 1L && scannedFiles(probe) < scannedFiles(all),
      "stats pruning survives the retype (one shared long domain)")
    // float -> double and decimal precision growth, values exact
    CommitLog.widenColumnType(spark, root, "w", "f", DoubleType)
    CommitLog.widenColumnType(spark, root, "w", "d", DecimalType(9, 2))
    val widened = CommitLog.readLatest(spark, root).get
    assert(widened.schema("f").dataType == DoubleType &&
      widened.schema("d").dataType == DecimalType(9, 2))
    assert(widened.orderBy("i").collect().map(_.getDouble(1)).toSeq ==
      Seq(1.5, 2.5, 9.5), "float widens losslessly to double")
    assert(widened.filter(col("d") === new java.math.BigDecimal("4.56"))
      .count() == 1L, "decimal values survive precision growth")
    // the REFUSAL set: narrowing, cross-family, scale changes, nested,
    // unknown columns — each loud, nothing committed
    val vb = CommitLog.latest(spark, root).get.version
    intercept[IllegalArgumentException] { // narrowing
      CommitLog.widenColumnType(spark, root, "w", "i", IntegerType) }
    intercept[IllegalArgumentException] { // cross-family
      CommitLog.widenColumnType(spark, root, "w", "i", StringType) }
    intercept[IllegalArgumentException] { // double -> float narrows
      CommitLog.widenColumnType(spark, root, "w", "f", FloatType) }
    intercept[IllegalArgumentException] { // scale change is not widening
      CommitLog.widenColumnType(spark, root, "w", "d", DecimalType(10, 3)) }
    intercept[IllegalArgumentException] { // unknown column
      CommitLog.widenColumnType(spark, root, "w", "ghost", LongType) }
    assert(CommitLog.latest(spark, root).get.version == vb,
      "refused retypes are pre-claim")
    // the statement face routes through the verb
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gwt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwt.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gwt.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gwt.t ADD COLUMNS (j INT)")
      spark.sql("ALTER TABLE gwt.t ALTER COLUMN j TYPE BIGINT")
      val head = CommitLog.latest(spark, root).get
      assert(head.action == "retype" && head.writer == "catalog",
        "SQL ALTER COLUMN TYPE is an audited protocol commit")
      assert(spark.table("gwt.t").schema("j").dataType == LongType)
      intercept[Exception] {
        spark.sql("ALTER TABLE gwt.t ALTER COLUMN j TYPE INT") }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gwt.t")
      spark.conf.unset("spark.sql.catalog.gwt")
      spark.conf.unset("spark.sql.catalog.gwt.dir")
    }
  }

  test("ALTER COLUMN TYPE on a NESTED field: metadata-only, mixed dirs promote on every route, refusals loud (VERDICT r18 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType,
      LongType, StringType, StructType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10), (2L, 20)).toDF("id", "q")
        .select(col("id"),
          struct(col("q").as("q2"), (col("q") / 4.0f).cast("float").as("f2"))
            .as("m")) }
    val before = CommitLog.latest(spark, root).get
    val c1 = CommitLog.widenStructFieldType(spark, root, "w",
      Seq("m", "q2"), LongType)
    assert(c1.dataDirs == before.dataDirs && c1.action == "retype",
      "nested widening is one metadata commit, zero data moved")
    def q2Type(df: org.apache.spark.sql.DataFrame) =
      df.schema("m").dataType.asInstanceOf[StructType]("q2").dataType
    // old int32 leaves read as bigint — library, connector, time travel
    val lib = CommitLog.readLatest(spark, root).get
    assert(q2Type(lib) == LongType &&
      lib.orderBy("id").select("m.q2").collect().map(_.getLong(0)).toSeq ==
        Seq(10L, 20L),
      "parquet per-leaf promotion must fill the pinned wider nested type")
    assert(q2Type(spark.read.format("graft.commitlog").load(root)) == LongType)
    assert(q2Type(CommitLog.readVersion(spark, root, 1L).get) == IntegerType,
      "time travel before the retype shows the narrow nested type")
    // a post-widening append holds values only the wide type can carry;
    // mixed narrow/wide dirs union soundly
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, 5000000000L)).toDF("id", "q")
        .select(col("id"),
          struct(col("q").as("q2"), lit(9.5f).as("f2")).as("m")))
    assert(spark.read.format("graft.commitlog").load(root)
      .orderBy("id").select("m.q2").collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 20L, 5000000000L))
    // refusals: narrowing, non-struct intermediate, unknown field,
    // top-level path through the nested verb — each loud, pre-claim
    val vb = CommitLog.latest(spark, root).get.version
    intercept[IllegalArgumentException] { // narrowing
      CommitLog.widenStructFieldType(spark, root, "w", Seq("m", "q2"),
        IntegerType) }
    intercept[IllegalArgumentException] { // cross-family
      CommitLog.widenStructFieldType(spark, root, "w", Seq("m", "f2"),
        StringType) }
    intercept[IllegalArgumentException] { // non-struct intermediate
      CommitLog.widenStructFieldType(spark, root, "w", Seq("id", "x"),
        LongType) }
    intercept[IllegalArgumentException] { // unknown field
      CommitLog.widenStructFieldType(spark, root, "w", Seq("m", "ghost"),
        LongType) }
    intercept[IllegalArgumentException] { // top-level path: wrong verb
      CommitLog.widenStructFieldType(spark, root, "w", Seq("id"), LongType) }
    assert(CommitLog.latest(spark, root).get.version == vb,
      "refused nested retypes are pre-claim")
    // the statement face routes ALTER COLUMN s.f TYPE through the verb
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gwn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwn.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gwn.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gwn.t ALTER COLUMN m.f2 TYPE DOUBLE")
      val head = CommitLog.latest(spark, root).get
      assert(head.action == "retype" && head.writer == "catalog",
        "SQL nested ALTER COLUMN TYPE is an audited protocol commit")
      val t = spark.table("gwn.t")
      assert(t.schema("m").dataType.asInstanceOf[StructType]("f2")
        .dataType == DoubleType)
      assert(t.orderBy("id").select("m.f2").collect()
        .map(_.getDouble(0)).toSeq == Seq(2.5, 5.0, 9.5),
        "float leaves promote to double across mixed dirs")
      intercept[Exception] {
        spark.sql("ALTER TABLE gwn.t ALTER COLUMN m.f2 TYPE FLOAT") }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gwn.t")
      spark.conf.unset("spark.sql.catalog.gwn")
      spark.conf.unset("spark.sql.catalog.gwn.dir")
    }
  }

  test("NESTED existence DEFAULTS: pre-evolution dirs read the constant where the parent exists, gated defaults-nested (VERDICT r18 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField}
    val root = freshRoot() + "/t"
    // dir 1 carries a NULL parent struct — the row genuinely holds no
    // struct, so no field default may apply to it
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, Some("a")), (2L, None)).toDF("id", "st")
        .select(col("id"),
          when(col("st").isNotNull, struct(col("st"))).as("m")) }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "st")
        .select(col("id"), when(lit(true), struct(col("st"))).as("m")))
    val c = CommitLog.evolveStructFields(spark, root, "w", Seq("m"),
      Seq(StructField("tier", StringType), StructField("pr", IntegerType)),
      defaults = Map("tier" -> "'std'", "pr" -> "7"))
    assert(c.dataDirs == CommitLog.commitAt(spark, root, 2L).get.dataDirs &&
      c.defaults.map(d => (d._1, d._3)).toSet ==
        Set(("m.tier", "'std'"), ("m.pr", "7")),
      s"nested defaults record under dot-joined paths: ${c.defaults}")
    assert(CommitLog.gatedFeatures(c).contains("defaults-nested"),
      "a path-keyed default must gate top-level-only defaults binaries " +
        "out — they would silently read NULL where the constant belongs")
    // every pre-evolution row with a parent reads the constants; the
    // NULL-parent row stays NULL — on the library AND connector routes
    def snap(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      rows(df.orderBy("id").select(col("id"), col("m.tier"), col("m.pr"),
        col("m").isNull.as("noparent")))
    val expected = Seq(
      Seq(1L, "std", 7, false), Seq(2L, null, null, true),
      Seq(3L, "std", 7, false))
    assert(snap(CommitLog.readLatest(spark, root).get) == expected,
      "library route must coalesce nested fields where the parent exists")
    assert(snap(spark.read.format("graft.commitlog").load(root)) == expected,
      "connector route must coalesce identically")
    // post-evolution writes store explicit values — incl. explicit NULL
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, "d", "gold", 9), (5L, "e", null, 0))
        .toDF("id", "st", "tier", "pr")
        .select(col("id"),
          struct(col("st"), col("tier"),
            when(col("id") === 4L, col("pr")).as("pr")).as("m")))
    assert(snap(CommitLog.readLatest(spark, root).get) == expected ++ Seq(
      Seq(4L, "gold", 9, false), Seq(5L, null, null, false)),
      "explicit post-evolution values (incl. NULL) must win")
    // WIDENING the defaulted nested leaf re-casts the recorded constant
    CommitLog.widenStructFieldType(spark, root, "w", Seq("m", "pr"), LongType)
    assert(CommitLog.readLatest(spark, root).get.orderBy("id")
      .select("m.pr").collect().map(r =>
        if (r.isNullAt(0)) null else r.getLong(0)).toSeq ==
      Seq(7L, null, 7L, 9L, null),
      "the recorded default must re-cast to the widened nested type")
    // RENAME re-keys the default with the field; DROP removes it
    val rn = CommitLog.renameStructField(spark, root, "w",
      Seq("m", "tier"), "grade")
    assert(rn.defaults.exists(d => d._1 == "m.grade" && d._3 == "'std'") &&
      !rn.defaults.exists(_._1 == "m.tier"),
      s"nested defaults must follow a rename: ${rn.defaults}")
    assert(CommitLog.readLatest(spark, root).get.filter(col("id") === 1L)
      .select("m.grade").head().getString(0) == "std")
    val dr = CommitLog.dropStructField(spark, root, "w", Seq("m", "pr"))
    assert(!dr.defaults.exists(_._1 == "m.pr"),
      s"a dropped field's default goes with it: ${dr.defaults}")
    // a TOP-LEVEL added column whose literal name contains '.' may not
    // carry a default — applyDefaults would misread the key as a nested
    // path and the constant would silently never coalesce (code review
    // r19)
    intercept[IllegalArgumentException] {
      CommitLog.evolveSchema(spark, root, "w",
        Seq(org.apache.spark.sql.types.StructField("odd.name", StringType)),
        defaults = Map("odd.name" -> "'x'"))
    }
    // the SQL statement face: ADD COLUMNS (m.x T DEFAULT c) records the
    // path-keyed default through the catalog in ONE commit
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gnd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnd.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gnd.t USING `graft.commitlog` LOCATION '$root'")
      val preV = CommitLog.latest(spark, root).get.version
      spark.sql("ALTER TABLE gnd.t ADD COLUMNS " +
        "(m.src STRING DEFAULT 'web', origin STRING DEFAULT 'batch')")
      val head = CommitLog.latest(spark, root).get
      assert(head.version == preV + 1,
        "mixed top-level + nested defaulted adds are ONE commit")
      assert(head.defaults.exists(d => d._1 == "m.src" && d._3 == "'web'") &&
        head.defaults.exists(d => d._1 == "origin" && d._3 == "'batch'"),
        s"the statement face records both defaults: ${head.defaults}")
      assert(rows(spark.table("gnd.t").filter(col("id") === 1L)
        .select(col("m.src"), col("origin"))) == Seq(Seq("web", "batch")),
        "catalog-route reads deliver both constants to pre-evolution dirs")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gnd.t")
      spark.conf.unset("spark.sql.catalog.gnd")
      spark.conf.unset("spark.sql.catalog.gnd.dir")
    }
  }

  test("pack compact racing appends stays serializable: the carried base survives, no committed row lost") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    val packBytes = 64L << 10
    CommitLog.commit(spark, root, "seed", "create") { _ =>
      (0L until 50000L).toDF("id").coalesce(1) }
    val base = CommitLog.latest(spark, root).get.dataDirs.head
    (1 to 2).foreach(k =>
      CommitLog.commitAppend(spark, root, "w0", "append")(
        (100000L + k * 10L until 100000L + k * 10L + 10L).toDF("id")))
    // one packer racing three appenders: a lost pack claim must re-plan
    // the under-packed set against the NEW head, so whichever order the
    // claims serialize in, every committed row survives and the
    // well-packed base carries untouched
    val packer = Future(CommitLog.compact(spark, root, "opt",
      targetFiles = 2, packBytes = packBytes))
    val appenders = (1 to 3).map { w =>
      Future {
        (1 to 2).foreach { i =>
          CommitLog.commitAppend(spark, root, s"w$w", "append")(
            Seq(1000000L + w * 100L + i).toDF("id"))
        }
      }
    }
    (packer +: appenders).foreach(Await.result(_, 5.minutes))
    val head = CommitLog.latest(spark, root).get
    assert(head.version == 10L,
      s"create + 8 appends + 1 pack must serialize to v10, got ${head.version}")
    assert(CommitLog.readLatest(spark, root).get.count() == 50026L,
      "no committed row may be lost under a racing pack")
    assert(head.dataDirs.contains(base),
      s"the well-packed base must carry through the racing pack: ${head.dataDirs}")
    val h = CommitLog.history(spark, root).collect()
    assert(h.count(_.getString(3) == "compact") == 1,
      "exactly one pack commit in the serial chain")
  }

  test("per-file stats prune files INSIDE a kept dir at planning (VERDICT r17 #6)") {
    import spark.implicits._
    val root = freshRoot()
    // a sorted compact packs ONE dir of 4 files with disjoint id ranges
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      (0L until 40000L).toDF("id").repartition(8) }
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      (40000L until 80000L).toDF("id").repartition(8))
    CommitLog.compact(spark, root, "opt", targetFiles = 4,
      sortCols = Seq("id"))
    val head = CommitLog.latest(spark, root).get
    assert(head.dataDirs.size == 1 && head.fstats.size == 4 &&
      head.fstats.keys.forall(_.startsWith(head.dataDirs.head + "/")),
      s"fixture: one sorted dir, per-file ranges recorded: ${head.fstats.keys}")
    def conn = spark.read.format("graft.commitlog").load(root)
    assert(scannedFiles(conn) == 4L)
    // a point probe must read ONE file of the one kept dir — file-level
    // pruning from the commit record, zero parquet footer reads at
    // planning (dir-level stats alone cannot narrow inside the dir)
    def probe = conn.filter(col("id") === 12345L)
    assert(rows(probe) == Seq(Seq(12345L)))
    assert(scannedFiles(probe) == 1L,
      s"a point probe inside one sorted dir must plan ONE file")
    // a range probe spanning two file ranges reads exactly those two
    val r2 = conn.filter(col("id") >= 19000L && col("id") <= 21000L)
    assert(r2.count() == 2001L && scannedFiles(r2) <= 2L)
    // per-file stats survive an APPEND (carried) and prune composably
    // with dir pruning: the append's dir is pruned by DIR stats, the
    // sorted dir by FILE stats
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      (100000L until 100100L).toDF("id").coalesce(1))
    def q2 = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") === 12345L)
    assert(rows(q2) == Seq(Seq(12345L)) && scannedFiles(q2) == 1L,
      "dir pruning drops the append dir; file pruning narrows the sorted dir")
    // pre-r18 commits (no fstats) keep every file — advisory, prune-only
    val forged = CommitLog.latest(spark, root).get
    val vf = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(forged.version) + ".json")
    val txt = new String(Files.readAllBytes(vf), "UTF-8")
    val at = txt.indexOf(",\"fstats\":{")
    assert(at > 0, "fixture: the head must carry an fstats block")
    // fstats renders LAST: cut it and close the object — a pre-r18 file
    Files.write(vf, (txt.substring(0, at) + "}").getBytes("UTF-8"))
    val legacy = CommitLog.latest(spark, root).get
    assert(legacy.fstats.isEmpty, "forged legacy head must parse fstats-free")
    def q3 = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") === 12345L)
    assert(rows(q3) == Seq(Seq(12345L)) && scannedFiles(q3) == 4L,
      "without per-file stats every file of the kept dir reads")
  }

  test("protocol feature gates: a head requiring an unknown feature refuses on every route (VERDICT r17 #2)") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v") }
    def fileOf(v: Long) = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(v) + ".json")
    // feature-less tables round-trip with NO features field (back-compat)
    assert(!new String(Files.readAllBytes(fileOf(1L)), "UTF-8")
      .contains("\"features\""), "a gate-free commit must not carry the field")
    // a dv-bearing commit gates "dv"
    CommitLog.delete(spark, root, "d", col("id") === 3L)
    val head = CommitLog.latest(spark, root).get
    assert(head.dv.nonEmpty, "fixture: the delete must take the vector route")
    val headFile = fileOf(head.version)
    val txt = new String(Files.readAllBytes(headFile), "UTF-8")
    assert(txt.contains("\"features\":[\"dv\"]"),
      s"a vectored head must gate 'dv': $txt")
    // forge a FUTURE feature onto the head — a pre-upgrade binary's view
    Files.write(headFile, txt.replace("\"features\":[\"dv\"]",
      "\"features\":[\"dv\",\"time-crystals\"]").getBytes("UTF-8"))
    def refuses(body: => Any): Unit = {
      val e = intercept[Exception](body)
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("time-crystals")),
        s"expected an unknown-feature refusal, got: $e")
    }
    refuses(CommitLog.readLatest(spark, root).map(_.collect()))   // library
    refuses(spark.read.format("graft.commitlog").load(root).collect())
    refuses(CommitLog.commitAppend(spark, root, "w", "append")(   // writers
      Seq((999L, "x")).toDF("id", "v")))
    refuses(CommitLog.readVersion(spark, root, head.version))     // travel
    // the refusal is a THROW, never a parse degrade: a degrade would let
    // repairTornTail DELETE the valid commit (the writer attempt above
    // ran the repair path)
    assert(Files.exists(headFile),
      "the gated commit must never be repaired away")
    // pre-gate versions stay readable
    assert(CommitLog.readVersion(spark, root, 1L).get.count() == 100L)
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gfg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gfg.dir", catRoot)
    try {
      refuses { // catalog route (CREATE may probe the head, or the read)
        spark.sql(s"CREATE TABLE gfg.t USING `graft.commitlog` LOCATION '$root'")
        spark.table("gfg.t").collect()
      }
      refuses { // streaming route
        val sq = spark.readStream.format("graft.commitlog").load(root)
          .writeStream.format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try sq.awaitTermination() finally sq.stop()
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gfg.t")
      spark.conf.unset("spark.sql.catalog.gfg")
      spark.conf.unset("spark.sql.catalog.gfg.dir")
    }
    // un-forge: the gate is the recorded FIELD, no hidden state — the
    // same head reads again, and a compact that materializes the vector
    // away DROPS the dv gate from the new head (lesser binaries read it)
    Files.write(headFile, txt.getBytes("UTF-8"))
    assert(CommitLog.readLatest(spark, root).get.count() == 99L)
    val c = CommitLog.compact(spark, root, "opt").get
    assert(CommitLog.gatedFeatures(c).isEmpty &&
      !new String(Files.readAllBytes(fileOf(c.version)), "UTF-8")
        .contains("\"features\""),
      "materializing the vector away must drop the dv gate")

    // ---- WRITER gates (the Delta reader/writer split): constraints
    // parse damage-TOLERANT (reads without enforcing are correct), so
    // the obligation rides a separate writerFeatures set — an unknown
    // one refuses every WRITE verb while reads keep working ----
    import org.apache.spark.sql.types.{LongType, StructField}
    val rootW = freshRoot() + "/w"
    def wfileOf(v: Long) = java.nio.file.Paths.get(rootW, "_commits",
      "v" + "%020d".format(v) + ".json")
    CommitLog.commit(spark, rootW, "w", "create") { _ =>
      (0L until 10L).map(i => (i, i * 2.0)).toDF("id", "v") }
    assert(!new String(Files.readAllBytes(wfileOf(1L)), "UTF-8")
      .contains("writerFeatures"),
      "an unconstrained table records no writer obligations")
    CommitLog.addConstraint(spark, rootW, "w", "pos_v", "v >= 0")
    val wtxt = new String(Files.readAllBytes(wfileOf(2L)), "UTF-8")
    assert(wtxt.contains("\"writerFeatures\":[\"constraints\"]"),
      s"a constrained head must record the writer obligation: $wtxt")
    Files.write(wfileOf(2L), wtxt.replace("[\"constraints\"]",
      "[\"constraints\",\"time-locks\"]").getBytes("UTF-8"))
    // reads stay available on every route
    assert(CommitLog.readLatest(spark, rootW).get.count() == 10L)
    assert(spark.read.format("graft.commitlog").load(rootW).count() == 10L)
    def wrefuses(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(Option(e.getMessage).exists(m =>
        m.contains("time-locks") && m.contains("WRITER")),
        s"expected a writer-feature refusal, got: $e")
    }
    wrefuses(CommitLog.commitAppend(spark, rootW, "w", "append")(
      Seq((99L, 1.0)).toDF("id", "v")))
    wrefuses(CommitLog.merge(spark, rootW, "m", "id",
      Seq((1L, 5.0)).toDF("id", "v")))
    wrefuses(CommitLog.delete(spark, rootW, "d", col("id") === 1L))
    wrefuses(CommitLog.update(spark, rootW, "u", col("id") === 1L,
      Seq("v" -> lit(9.0))))
    wrefuses(CommitLog.evolveSchema(spark, rootW, "w",
      Seq(StructField("z", LongType))))
    assert(CommitLog.latest(spark, rootW).get.version == 2L,
      "refused writes commit nothing")
    // un-forge: writes work again and the recorded obligation ENFORCES
    Files.write(wfileOf(2L), wtxt.getBytes("UTF-8"))
    CommitLog.commitAppend(spark, rootW, "w", "append")(
      Seq((99L, 1.0)).toDF("id", "v"))
    assert(CommitLog.readLatest(spark, rootW).get.count() == 11L)
    intercept[Exception] {
      CommitLog.commitAppend(spark, rootW, "w", "append")(
        Seq((100L, -1.0)).toDF("id", "v"))
    }
  }

  test("min/max stats skip non-intersecting dirs; stats-less dirs always read") {
    import spark.implicits._
    val root = freshRoot()
    // four disjoint key-range commits, each recording [min, max] of k
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("k")) { _ =>
      (0L until 10L).toDF("k")
    }
    (1 to 3).foreach { b =>
      CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("k"))(
        (b * 10L until b * 10L + 10L).toDF("k"))
    }
    val head = CommitLog.latest(spark, root).get
    assert(head.stats.size == 4, "every dir carries stats after the JSON round-trip")
    head.dataDirs.zipWithIndex.foreach { case (d, i) =>
      assert(head.stats(d) == Map("k" -> (i * 10L, i * 10L + 9L)),
        s"dir $i stats ${head.stats(d)}")
    }
    // a range inside dir 2: only that dir's files are planned
    val pruned = CommitLog.readLatestWhere(spark, root, "k", 23L, 27L).get
    val dir2 = head.dataDirs(2)
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains(dir2)),
      "planning touches only the intersecting directory")
    assert(pruned.orderBy("k").collect().map(_.getLong(0)).toSeq == (23L to 27L),
      "pruned read equals filter-after-full-read")
    // a range spanning two dirs keeps both, drops the other two
    val two = CommitLog.readLatestWhere(spark, root, "k", 5L, 15L).get
    assert(two.inputFiles.forall(f =>
      f.contains(head.dataDirs(0)) || f.contains(head.dataDirs(1))))
    assert(two.count() == 11L)
    // out-of-range: provably empty, planned from a single schema anchor
    val none = CommitLog.readLatestWhere(spark, root, "k", 999L, 1000L).get
    assert(none.count() == 0L)
    // a stats-less append (old-style commit) is ALWAYS read — skipping
    // degrades, correctness doesn't
    CommitLog.commitAppend(spark, root, "w", "append")((100L to 101L).toDF("k"))
    val mixed = CommitLog.latest(spark, root).get
    assert(mixed.stats.size == 4, "stats carry forward; new dir has none")
    val probe = CommitLog.readLatestWhere(spark, root, "k", 23L, 27L).get
    assert(probe.orderBy("k").collect().map(_.getLong(0)).toSeq == (23L to 27L),
      "stats-less dir scanned and row-filtered, not wrongly skipped")
    assert(probe.inputFiles.exists(_.contains(mixed.dataDirs.last)),
      "the stats-less dir must be in the plan")
    // compact with statsCol: one dir, full-range stats, skipping still works
    val c = CommitLog.compact(spark, root, "opt", targetFiles = 1,
      statsCol = Some("k")).get
    assert(c.dataDirs.size == 1 && c.stats(c.dataDirs.head) == Map("k" -> (0L, 101L)))
    assert(CommitLog.readLatestWhere(spark, root, "k", 23L, 27L).get.count() == 5L)
    // a bad statsCol fails BEFORE any write — no orphaned staging
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCol = Some("tpyo"))((0L to 1L).toDF("k"))
    }
  }

  test("compaction is transparent to incremental consumers (rowInvisible skip)") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ => Seq(1L, 2L).toDF("id") }
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(3L).toDF("id"))   // v2
    val v2 = CommitLog.latest(spark, root).get.version
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(4L).toDF("id"))   // v3
    CommitLog.compact(spark, root, "opt", targetFiles = 1)                   // v4
    assert(CommitLog.latest(spark, root).get.rowInvisible,
      "compact commits carry the dataChange=false marker")
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(5L).toDF("id"))   // v5
    // consumer at v2: the delta across the compact is EXACTLY the rows
    // appended after v2 — the pre-compact append (v3, whose dir survives
    // because its commit is retained) plus the post-compact one (v5);
    // the compacted snapshot itself is never re-delivered
    val delta = CommitLog.appendedSince(spark, root, v2).get
    assert(delta.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))
    // consumer at v3, only compact-then-append after it
    assert(CommitLog.appendedSince(spark, root, 3L).get
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // consumer at v4 (the compact itself): just the append
    assert(CommitLog.appendedSince(spark, root, 4L).get
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // compact-only progress: EMPTY delta (not None) — checkpoint advances
    CommitLog.compact(spark, root, "opt", targetFiles = 2)                   // v6
    val empty = CommitLog.appendedSince(spark, root, 5L).get
    assert(empty.count() == 0L, "compact-only progress is an empty delta")
    // a REAL rewrite still demands resync
    CommitLog.commit(spark, root, "w", "rewrite") { cur =>
      cur.get.filter(col("id") =!= 1L)
    }
    assert(CommitLog.appendedSince(spark, root, v2).isEmpty)
    // and the changefeed tail rides through a compact without resync
    val root2 = freshRoot()
    val ckpt = Files.createTempDirectory("graft-tailckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def tail(): Long = graft.streaming.StreamOps.runCommitLogTail(
      spark, root2, ckpt)((df, _) =>
      seen += df.collect().map(_.getLong(0)).toSeq.sorted)
    CommitLog.commit(spark, root2, "w", "create") { _ => Seq(1L, 2L).toDF("id") }
    tail()                                                                   // bootstrap
    CommitLog.commitAppend(spark, root2, "w", "append")(Seq(3L).toDF("id"))
    CommitLog.compact(spark, root2, "opt", targetFiles = 1)
    CommitLog.commitAppend(spark, root2, "w", "append")(Seq(4L).toDF("id"))
    tail()                                                                   // across the compact
    assert(seen.toSeq == Seq(Seq(1L, 2L), Seq(3L, 4L)),
      "tail delivers exactly the appended rows across a compaction")
  }

  test("compact racing appends stays serializable: no committed row lost") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "seed", "create") { _ =>
      (0L until 100L).toDF("id").repartition(8)
    }
    (1 to 4).foreach(k => CommitLog.commitAppend(spark, root, "w", "append")(
      Seq(100L + k).toDF("id")))
    val pool = Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // one compactor vs four appenders, all in flight together; a lost
      // compaction claim must re-consolidate the NEW head, so whichever
      // interleaving wins, every append survives
      val fs = Future.sequence(
        Future(CommitLog.compact(spark, root, "opt", targetFiles = 2)) +:
          (5 to 8).map(k => Future {
            CommitLog.commitAppend(spark, root, "w", "append")(
              Seq(100L + k).toDF("id")): Any
          }))
      Await.result(fs, Duration.Inf)
    } finally pool.shutdown()
    val ids = CommitLog.readLatest(spark, root).get
      .collect().map(_.getLong(0)).toSet
    assert(ids == ((0L until 100L) ++ (101L to 108L)).toSet,
      "all appended rows survive a racing compaction")
    // history is a serial chain: versions 1..10, exactly one compact
    val h = CommitLog.history(spark, root).collect()
    assert(h.map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    assert(h.count(_.getString(3) == "compact") == 1)
  }

  test("bloom sidecars skip definitely-absent dirs; missing/corrupt sidecars degrade to scan") {
    import spark.implicits._
    val root = freshRoot()
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(CommitLog.addBloom(spark, root, "id") == 0, "empty table: nothing to index")
    CommitLog.commit(spark, root, "w", "create") { _ => (0L until 10L).toDF("id") }
    (1 to 2).foreach(b => CommitLog.commitAppend(spark, root, "w", "append")(
      (b * 10L until b * 10L + 10L).toDF("id")))
    assert(CommitLog.addBloom(spark, root, "id", fpp = 0.0001) == 3)
    assert(CommitLog.addBloom(spark, root, "id", fpp = 0.0001) == 0,
      "idempotent: existing sidecars are not rebuilt")
    val head = CommitLog.latest(spark, root).get
    // a key in dir 1 only: bloom prunes dirs 0 and 2 (deterministic —
    // same inserted sets always produce the same bits)
    val hit = CommitLog.readLatestPoint(spark, root, "id", 15L).get
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.forall(_.contains(head.dataDirs(1))),
      "only the might-contain dir is planned")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(15L))
    // an absent key: every dir bloom-pruned, provably-empty result
    assert(CommitLog.readLatestPoint(spark, root, "id", 999L).get.count() == 0L)
    // a new append WITHOUT a sidecar is always scanned
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(100L).toDF("id"))
    val h2 = CommitLog.latest(spark, root).get
    val probe = CommitLog.readLatestPoint(spark, root, "id", 100L).get
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(100L),
      "sidecar-less dir is scanned, not wrongly skipped")
    // corrupt sidecar: degrade to scan, never to a wrong answer
    val bp = new org.apache.hadoop.fs.Path(root, "_bloom/" + h2.dataDirs(1) + ".bin")
    val out = f.create(bp, true)
    try out.write("not a bloom filter".getBytes("UTF-8")) finally out.close()
    assert(CommitLog.readLatestPoint(spark, root, "id", 15L).get
      .collect().map(_.getLong(0)).toSeq == Seq(15L))
    // compact + vacuum strand the old sidecars; vacuum sweeps them
    CommitLog.compact(spark, root, "opt", targetFiles = 1)
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    val sidecars = f.listStatus(new org.apache.hadoop.fs.Path(root, "_bloom"))
    // only the table-lifetime `_column` marker survives the sweep
    assert(sidecars.map(_.getPath.getName).toSeq == Seq("_column"),
      "stranded sidecars are swept with their dirs; the marker is kept")
    // rebuild for the compacted head; point reads work again
    assert(CommitLog.addBloom(spark, root, "id", fpp = 0.0001) == 1)
    assert(CommitLog.readLatestPoint(spark, root, "id", 15L).get.count() == 1L)
  }

  test("sorted compaction clusters files into disjoint key ranges") {
    import spark.implicits._
    val root = freshRoot()
    // 4 appends of INTERLEAVED keys: every dir spans the full range, the
    // worst case for any stats-based pruning
    CommitLog.commit(spark, root, "w", "create") { _ =>
      spark.range(0L, 400L, 4L).toDF("id")
    }
    (1 to 3).foreach(k => CommitLog.commitAppend(spark, root, "w", "append")(
      spark.range(k.toLong, 400L, 4L).toDF("id")))
    val c = CommitLog.compact(spark, root, "opt", targetFiles = 4,
      statsCol = Some("id"), sortCols = Seq("id")).get
    assert(c.rowInvisible && c.dataDirs.size == 1)
    assert(c.stats(c.dataDirs.head) == Map("id" -> (0L, 399L)))
    val head = CommitLog.readLatest(spark, root).get
    assert(head.collect().map(_.getLong(0)).toSet == (0L until 400L).toSet,
      "sorted compaction is row-invisible")
    // per-file key ranges must be DISJOINT — the property that lets
    // parquet footer min/max prune pushed key predicates to ~1 file
    val ranges = head.inputFiles.toSeq.map { fpath =>
      val r = spark.read.parquet(fpath)
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size == 4)
    ranges.sliding(2).foreach { case Seq((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"file ranges overlap: $ranges")
    }
    // the cluster spec is recorded in the commit: a SAME-spec sorted
    // re-compact on the already-clustered head is a no-op (the
    // schedulable-cadence contract), as is a plain compact; clustering
    // DIFFERENTLY re-commits
    assert(c.clusterSpec.contains("sort:id"))
    val v = CommitLog.latest(spark, root).get.version
    assert(CommitLog.compact(spark, root, "opt", targetFiles = 4)
      .get.version == v)
    assert(CommitLog.compact(spark, root, "opt", targetFiles = 4,
      sortCols = Seq("id")).get.version == v,
      "a same-spec clustering compact must no-op on a quiescent head")
    assert(CommitLog.compact(spark, root, "opt", targetFiles = 2,
      sortCols = Seq("id")).get.version == v + 1,
      "a tighter file target re-compacts")
  }

  test("merge applies updates, inserts, and deletes in one commit; rejects bad changesets") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "v")
    }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "tag", "v"))
    val changes = Seq(
      (2L, "B", 99.0, false), // update
      (5L, "e", 50.0, false), // insert
      (3L, "c", 0.0, true),   // delete
      (9L, "x", 0.0, true)    // delete of an absent key: no-op
    ).toDF("id", "tag", "v", "del")
    val c = CommitLog.merge(spark, root, "m", "id", changes,
      deleteCol = Some("del"))
    assert(c.action == "merge")
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) == Seq(
      Seq(1L, "a", 10.0), Seq(2L, "B", 99.0), Seq(4L, "d", 40.0),
      Seq(5L, "e", 50.0)))
    // multi-row keys: by DEFAULT duplicates refuse (the r14 contract —
    // a non-deaggregated upsert must fail loudly, never multiply rows)
    val dupDefault = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, "m", "id",
        Seq((1L, "q", 1.0), (1L, "r", 2.0)).toDF("id", "tag", "v"))
    }
    assert(dupDefault.getMessage.contains("one row per"), dupDefault.getMessage)
    // under the multiInsertKeys opt-in (r15, ADVICE r14 — the SQL MERGE
    // route), all-insert duplicates are the SQL multi-insert shape: the
    // key's stored rows are replaced by ALL its changeset rows
    CommitLog.mergeOn(spark, root, "m", Seq("id"),
      Seq((1L, "q", 1.0), (1L, "r", 2.0)).toDF("id", "tag", "v"),
      multiInsertKeys = true)
    assert(rows(CommitLog.readLatest(spark, root).get
      .filter(col("id") === 1L).orderBy("tag")) ==
      Seq(Seq(1L, "q", 1.0), Seq(1L, "r", 2.0)),
      "an opted-in all-insert multi-row key must replace the stored rows " +
        "with ALL its changeset rows")
    // guards: a multi-row key carrying a delete flag (refused even under
    // the opt-in), null keys, schema drift — each rejected before any
    // staging write
    intercept[IllegalArgumentException] {
      CommitLog.mergeOn(spark, root, "m", Seq("id"),
        Seq((1L, "q", 1.0, true), (1L, "r", 2.0, false))
          .toDF("id", "tag", "v", "del"), deleteCol = Some("del"),
        multiInsertKeys = true)
    }
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, "m", "id",
        Seq((Option.empty[Long], "q", 1.0)).toDF("id", "tag", "v"))
    }
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, "m", "id", Seq((1L, 5)).toDF("id", "other"))
    }
    // a NULL delete flag would silently act as a delete — rejected
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, "m", "id",
        Seq((1L, "q", 1.0, Option.empty[Boolean]))
          .toDF("id", "tag", "v", "del"), deleteCol = Some("del"))
    }
    // an empty changeset is a no-op answered from the log, never a
    // rewrite (on an evidence-less table every dir would count affected)
    val v = CommitLog.latest(spark, root).get.version
    assert(CommitLog.merge(spark, root, "m", "id",
      Seq.empty[(Long, String, Double)].toDF("id", "tag", "v")).version == v)
  }

  test("merge rewrites only dirs that might hold a merge key (stats pruning)") {
    import spark.implicits._
    val root = freshRoot()
    // three dirs with DISJOINT id ranges, o_orderkey-style stats recorded
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      spark.range(0L, 100L).toDF("id")
    }
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      spark.range(100L, 200L).toDF("id"))
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      spark.range(200L, 300L).toDF("id"))
    val before = CommitLog.latest(spark, root).get
    val filesBefore = CommitLog.readLatest(spark, root).get.inputFiles.toSet
    // delete two keys confined to the MIDDLE dir — dvMaxFraction = 0
    // pins the COPY-ON-WRITE engine this test is about (the r17
    // merge-on-read shape has its own spec)
    CommitLog.merge(spark, root, "m", "id",
      Seq((150L, true), (160L, true)).toDF("id", "del"),
      deleteCol = Some("del"), dvMaxFraction = 0)
    val after = CommitLog.latest(spark, root).get
    // outer dirs carried over verbatim — same dir names, same files,
    // stats preserved; only the middle dir was rewritten
    assert(after.dataDirs.toSet.intersect(before.dataDirs.toSet).size == 2)
    val untouchedStats = after.dataDirs.filter(before.dataDirs.contains)
      .flatMap(after.stats.get).flatMap(_.get("id"))
    assert(untouchedStats.toSet == Set((0L, 99L), (200L, 299L)))
    val filesAfter = CommitLog.readLatest(spark, root).get.inputFiles.toSet
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      "untouched dirs share their physical files across the merge")
    assert(CommitLog.readLatest(spark, root).get.count() == 298L)
    assert(after.statsCols == Seq("id"), "stats column survives a merge")
  }

  test("merge bloom pruning, pure-insert append path, and the no-op merge") {
    import spark.implicits._
    val root = freshRoot()
    // two dirs with INTERLEAVED ranges — min/max stats cannot prune; the
    // bloom sidecars can
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      spark.range(0L, 100L, 2L).toDF("id") // evens
    }
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      spark.range(1L, 100L, 2L).toDF("id")) // odds
    CommitLog.addBloom(spark, root, "id")
    val before = CommitLog.latest(spark, root).get
    // dvMaxFraction = 0 pins the COPY-ON-WRITE engine whose bloom
    // pruning + self-maintained evidence this test asserts (the r17
    // merge-on-read shape has its own spec)
    CommitLog.merge(spark, root, "m", "id",
      Seq((11L, true), (13L, true)).toDF("id", "del"),
      deleteCol = Some("del"), dvMaxFraction = 0)
    val after = CommitLog.latest(spark, root).get
    assert(after.dataDirs.contains(before.dataDirs.head),
      "even dir untouched: its bloom proves both odd keys absent")
    assert(!after.dataDirs.contains(before.dataDirs(1)))
    assert(CommitLog.readLatest(spark, root).get.count() == 98L)
    // SELF-MAINTAINING evidence: the merge bloomed its own output dir,
    // so a follow-up merge on another odd key prunes the even dir AND
    // needs no manual addBloom to know the new dir must be rewritten
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newOdd = after.dataDirs.filterNot(before.dataDirs.contains).head
    assert(fsys.exists(
      new org.apache.hadoop.fs.Path(root, "_bloom/" + newOdd + ".bin")),
      "merge builds its output dir's sidecar itself")
    val after2 = CommitLog.merge(spark, root, "m", "id",
      Seq((15L, true)).toDF("id", "del"), deleteCol = Some("del"),
      dvMaxFraction = 0)
    assert(after2.dataDirs.contains(before.dataDirs.head),
      "even dir still untouched across the second merge")
    assert(!after2.dataDirs.contains(newOdd))
    assert(CommitLog.readLatest(spark, root).get.count() == 97L)
    // all-new keys ⇒ PURE-INSERT fast path: append-shaped commit (prior
    // dirs re-referenced), and incremental consumers receive exactly the
    // inserted rows — a merge that is an append flows like one
    val v = after2.version
    val c = CommitLog.merge(spark, root, "m", "id",
      Seq(1000L, 1001L).toDF("id"))
    assert(c.dataDirs.init == after2.dataDirs, "append shape: dirs shared")
    assert(rows(CommitLog.appendedSince(spark, root, v).get.orderBy("id")) ==
      Seq(Seq(1000L), Seq(1001L)))
    // deletes of provably-absent keys only ⇒ full no-op: head unchanged
    val c2 = CommitLog.merge(spark, root, "m", "id",
      Seq((5000L, true)).toDF("id", "del"), deleteCol = Some("del"))
    assert(c2.version == c.version)
  }

  test("merge racing appends stays serializable: updates and appends all land") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      spark.range(0L, 100L).selectExpr("id", "CAST(0 AS LONG) AS v")
    }
    // disjoint effects so the serial result is order-independent: the
    // merge updates existing keys 0..9, the appender lands new keys —
    // a lost-update bug would drop one side's rows or updates
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appender = Future {
        (0 until 5).foreach { k =>
          CommitLog.commitAppend(spark, root, "a", "append")(
            spark.range(100L + k * 10L, 110L + k * 10L)
              .selectExpr("id", "CAST(7 AS LONG) AS v"))
        }
      }
      val merger = Future {
        CommitLog.merge(spark, root, "m", "id",
          spark.range(0L, 10L).selectExpr("id", "CAST(1000 AS LONG) AS v"))
      }
      Await.result(Future.sequence(Seq(appender, merger)), Duration.Inf)
    } finally pool.shutdown()
    val got = CommitLog.readLatest(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 150, s"all rows present, got ${got.size}")
    (0L until 10L).foreach(k => assert(got(k) == 1000L, s"update on $k lost"))
    (10L until 100L).foreach(k => assert(got(k) == 0L))
    (100L until 150L).foreach(k => assert(got(k) == 7L, s"append row $k lost"))
  }

  test("stats and bloom columns are table-level contracts; mismatched reads scan, not prune") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("a")) { _ =>
      Seq((1L, 100L), (2L, 200L)).toDF("a", "b")
    }
    // a second stats column is rejected — carried-forward stats maps must
    // stay homogeneous or every later range prune is poisoned
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("b"))(
        Seq((3L, 300L)).toDF("a", "b"))
    }
    // a range read over column b, with stats recorded for a, must NOT
    // prune with a's ranges (a-range [1,2] is disjoint from [150,250] —
    // a wrong prune would return empty); it scans and answers correctly
    assert(rows(CommitLog.readLatestWhere(spark, root, "b", 150L, 250L).get) ==
      Seq(Seq(2L, 200L)))
    // bloom columns: a point lookup on an UNREGISTERED column ignores
    // the sidecars (scan-all) instead of consulting blooms about the
    // wrong values; a SECOND column is ALLOWED since r17 — it builds its
    // own homogeneous per-column sidecar set (the r11 homogeneity rule,
    // now per column instead of per table) and the lookup then prunes
    CommitLog.addBloom(spark, root, "a")
    assert(rows(CommitLog.readLatestPoint(spark, root, "b", 100L).get) ==
      Seq(Seq(1L, 100L)), "unregistered column: scan, never a wrong prune")
    assert(CommitLog.addBloom(spark, root, "b") == 1,
      "a second bloom column builds its own sidecar set (r17)")
    assert(CommitLog.bloomColumns(spark, root) == Seq("a", "b"))
    assert(rows(CommitLog.readLatestPoint(spark, root, "b", 100L).get) ==
      Seq(Seq(1L, 100L)))
  }

  test("commitAppendOnce: re-delivered batches no-op; watermarks are per-app") {
    import spark.implicits._
    val root = freshRoot()
    def once(b: Long, ids: Seq[Long]) =
      CommitLog.commitAppendOnce(spark, root, "s", "stream-append",
        appId = "appA", batchId = b)(ids.toDF("id"))
    val c0 = once(0L, Seq(1L, 2L))
    assert(c0.txn.contains(("appA", 0L)))
    assert(CommitLog.lastTxn(spark, root, "appA").contains(0L))
    assert(once(0L, Seq(1L, 2L)).version == c0.version, "re-delivery no-ops")
    assert(CommitLog.readLatest(spark, root).get.count() == 2L)
    // an unrelated writer's commit does not disturb the watermark
    CommitLog.commitAppend(spark, root, "other", "append")(Seq(50L).toDF("id"))
    assert(CommitLog.lastTxn(spark, root, "appA").contains(0L))
    once(1L, Seq(3L))
    once(1L, Seq(3L)) // replay after later progress: still a no-op
    assert(CommitLog.readLatest(spark, root).get.count() == 4L)
    // apps are independent watermarks
    assert(CommitLog.lastTxn(spark, root, "appB").isEmpty)
    CommitLog.commitAppendOnce(spark, root, "s", "stream-append",
      appId = "appB", batchId = 0L)(Seq(99L).toDF("id"))
    assert(CommitLog.readLatest(spark, root).get.count() == 5L)
    // the audit surface exposes the watermarks per commit
    val h = CommitLog.history(spark, root)
      .filter(col("txn_app") === "appA").orderBy("version").collect()
    assert(h.map(r => r.getLong(r.fieldIndex("txn_batch"))).toSeq ==
      Seq(0L, 1L))
  }

  test("zombie writers racing one batch: exactly one append lands") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "seed", "create") { _ => Seq(0L).toDF("id") }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { _ =>
        Future {
          CommitLog.commitAppendOnce(spark, root, "s", "stream-append",
            appId = "appZ", batchId = 7L)(Seq(1L, 2L, 3L).toDF("id"))
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
    assert(CommitLog.readLatest(spark, root).get.count() == 4L,
      "the batch appended exactly once despite 4 racing writers")
    assert(CommitLog.lastTxn(spark, root, "appZ").contains(7L))
  }

  test("zorder compaction clusters files tightly in BOTH dims; 1-D sort leaves one dim unbounded") {
    import spark.implicits._
    val root = freshRoot()
    // 64x64 uniform grid delivered as 4 interleaved appends — every dir
    // spans the full range of both dims, so only clustering can help
    def grid(m: Int) = spark.range(m.toLong, 4096L, 4L)
      .selectExpr("id % 64 AS x", "id DIV 64 AS y")
    CommitLog.commit(spark, root, "w", "create") { _ => grid(0) }
    (1 to 3).foreach(k =>
      CommitLog.commitAppend(spark, root, "w", "append")(grid(k)))
    intercept[IllegalArgumentException] {
      CommitLog.compact(spark, root, "opt", sortCols = Seq("x"),
        zorderCols = Seq("x", "y"))
    }
    intercept[IllegalArgumentException] {
      CommitLog.compact(spark, root, "opt", zorderCols = Seq("x"))
    }
    val c = CommitLog.compact(spark, root, "opt", targetFiles = 4,
      zorderCols = Seq("x", "y")).get
    assert(c.rowInvisible && c.dataDirs.size == 1)
    val head = CommitLog.readLatest(spark, root).get
    assert(head.count() == 4096L, "zorder compaction is row-invisible")
    def spans(files: Seq[String]) = files.map { p =>
      val r = spark.read.parquet(p)
        .agg(max("x") - min("x"), max("y") - min("y")).head()
      (r.getLong(0), r.getLong(1))
    }
    val z = spans(head.inputFiles.toSeq)
    assert(z.size == 4)
    // y rides the top interleaved bit, so of 4 z-quarters only the file
    // straddling the middle boundary can mix y-halves. The range
    // partitioner's sampled boundaries overshoot quadrant edges by
    // slivers, so per-file exactness is non-deterministic — the robust
    // claims: at most one y-wide file, and files narrow in BOTH dims
    // exist (the skippable-on-either-predicate property), which the 1-D
    // control provably has zero of.
    assert(z.count { case (_, ys) => ys > 47L } <= 1, s"z spans: $z")
    assert(z.count { case (xs, ys) => xs <= 47L && ys <= 47L } >= 2,
      s"z spans: $z")
    // 1-D control: an x-sorted compact bounds x but leaves EVERY file
    // spanning all of y — a y predicate can skip nothing
    CommitLog.compact(spark, root, "opt", targetFiles = 4,
      sortCols = Seq("x"))
    val s1 = spans(CommitLog.readLatest(spark, root).get.inputFiles.toSeq)
    assert(s1.count { case (_, ys) => ys == 63L } == 4, s"control spans: $s1")
  }

  test("change feed: appends synthesize inserts, merges persist typed changesets; folding reproduces the head") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")          // v1
    }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, 30.0)).toDF("id", "v"))                      // v2
    CommitLog.merge(spark, root, "m", "id",                 // v3
      Seq((2L, 99.0, false), (4L, 40.0, false), (3L, 0.0, true))
        .toDF("id", "v", "del"),
      deleteCol = Some("del"))
    CommitLog.compact(spark, root, "opt")                   // v4, rowInvisible
    val feed = CommitLog.changesSince(spark, root, 1L).get
      .orderBy("_commit_version", "_change_type", "id")
    // Delta vocabulary: the delete and the preimage carry the STORED row
    // (id 3 held 30.0, id 2 held 20.0 — not the changeset's values); the
    // changeset's key-4 row types as insert because the key was absent
    assert(rows(feed) == Seq(
      Seq(3L, 30.0, "insert", 2L),
      Seq(3L, 30.0, "delete", 3L),
      Seq(4L, 40.0, "insert", 3L),
      Seq(2L, 99.0, "update_postimage", 3L),
      Seq(2L, 20.0, "update_preimage", 3L)),
      "append rows synthesized as inserts; merge changeset typed; compact silent")
    // APPLY semantics: fold the feed (preimages informational; last
    // change per key wins; delete drops, insert/postimage puts) onto the
    // base — must reproduce the head
    val changes = feed.filter(col("_change_type") =!= "update_preimage")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
    val lastByKey = changes.groupBy(_._1).view.mapValues(_.maxBy(_._4))
    val baseMap = CommitLog.readVersion(spark, root, 1L).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val folded =
      (baseMap -- lastByKey.collect { case (k, c) if c._3 == "delete" => k }) ++
        lastByKey.collect { case (k, c) if c._3 != "delete" => k -> c._2 }
    val head = CommitLog.readLatest(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(folded == head, "folding the change feed reproduces the head")
    // at head: None, mirroring appendedSince
    assert(CommitLog.changesSince(spark, root, 4L).isEmpty)
    // a plain rewrite has no change record: resync signal
    CommitLog.commit(spark, root, "w", "rewrite") { cur =>
      cur.get.filter(col("id") =!= 1L)                      // v5
    }
    assert(CommitLog.changesSince(spark, root, 1L).isEmpty,
      "a plain rewrite demands resync")
    // purge sweeps retained change files: the feed must not retain
    // purged rows as delete records (feeds are keyed by their merge's
    // data dir; purge's synchronous vacuum drops the dirs, so the
    // feeds go in the same pass)
    val changesBefore = new java.io.File(root, "_changes").list()
    assert(changesBefore != null && changesBefore.nonEmpty,
      "the merge's feed exists before the purge")
    CommitLog.purge(spark, root, "gdpr", graceMs = 0L)(col("id") === 2L)
    val changesAfter = Option(new java.io.File(root, "_changes").list())
      .map(_.toSeq).getOrElse(Nil)
    assert(changesAfter.isEmpty,
      "purge removes persisted changesets from history")
  }

  test("change feed rides through delete, update, and replaceWhere; purge still demands resync") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("id", "v") } // v1
    CommitLog.delete(spark, root, "w", col("id") === 2L)                    // v2
    CommitLog.update(spark, root, "w", col("id") === 3L,
      Seq("v" -> (col("v") + 5.0)))                                         // v3
    CommitLog.replaceWhere(spark, root, "w", col("id") === 4L,
      Seq((4L, 44.0)).toDF("id", "v"))                                      // v4
    val feed = CommitLog.changesSince(spark, root, 1L).get
      .orderBy("_commit_version", "_change_type", "id")
    assert(rows(feed) == Seq(
      Seq(2L, 20.0, "delete", 2L),
      Seq(3L, 35.0, "update_postimage", 3L),
      Seq(3L, 30.0, "update_preimage", 3L),
      Seq(4L, 40.0, "delete", 4L),
      Seq(4L, 44.0, "insert", 4L)),
      "r14: the pruned-rewrite verbs persist typed changesets — " +
        s"got ${rows(feed)}")
    // a window opening mid-chain stitches the remaining feeds
    assert(rows(CommitLog.changesSince(spark, root, 3L).get
      .orderBy("_change_type")) ==
      Seq(Seq(4L, 40.0, "delete", 4L), Seq(4L, 44.0, "insert", 4L)))
    // PURGE persists nothing and (as before) drops history: resync
    CommitLog.purge(spark, root, "gdpr", graceMs = 0L)(col("id") === 1L)
    assert(CommitLog.changesSince(spark, root, 1L).isEmpty,
      "purge must not be consumable as changes")
  }

  test("changes tail rides through appends, merges, and compacts; purge demands resync") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-cl-ctail").toString
    // the consumer maintains a keyed materialization from the feed alone
    val state = scala.collection.mutable.Map.empty[Long, Double]
    var runs = 0
    def run(): Long = StreamOps.runCommitLogChangesTail(spark, root, ckpt) {
      (df, _) =>
        runs += 1
        df.filter(col("_change_type") =!= "update_preimage")
          .orderBy("_commit_version").collect().foreach { r =>
            if (r.getAs[String]("_change_type") == "delete")
              state.remove(r.getLong(0))
            else state(r.getLong(0)) = r.getDouble(1)
          }
    }
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    }
    run() // bootstrap: full head as inserts
    assert(state.toMap == Map(1L -> 10.0, 2L -> 20.0))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, 30.0)).toDF("id", "v"))
    CommitLog.merge(spark, root, "m", "id",
      Seq((1L, 11.0, false), (2L, 0.0, true)).toDF("id", "v", "del"),
      deleteCol = Some("del"))
    CommitLog.compact(spark, root, "opt")
    run() // one run: append + merge + compact, no resync
    assert(state.toMap == Map(1L -> 11.0, 3L -> 30.0),
      "keyed state rides through the merge")
    def headMap() = CommitLog.readLatest(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state.toMap == headMap())
    // nothing new: no process call
    val r0 = runs
    run()
    assert(runs == r0)
    // purge forces the resync the feed must not paper over
    CommitLog.purge(spark, root, "gdpr", graceMs = 0L)(col("id") === 1L)
    val e = intercept[IllegalStateException](run())
    assert(e.getMessage.contains("resync"))
  }

  test("change feed across a long mixed chain: multiple merges' feeds stitch in order") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")             // v1
    }
    CommitLog.merge(spark, root, "m", "id",                  // v2: upd 1
      Seq((1L, 10.0)).toDF("id", "v"))
    CommitLog.commitAppend(spark, root, "w", "append")(      // v3: ins 3
      Seq((3L, 3.0)).toDF("id", "v"))
    CommitLog.merge(spark, root, "m", "id",                  // v4: del 2, ins 4
      Seq((2L, 0.0, true), (4L, 4.0, false)).toDF("id", "v", "del"),
      deleteCol = Some("del"))
    // the compact may no-op here (the v4 merge already left one small
    // dir) — either way it must be silent in the feed
    CommitLog.compact(spark, root, "opt")
    val lastMerge = CommitLog.merge(spark, root, "m", "id",  // upd 1 again
      Seq((1L, 100.0)).toDF("id", "v"))
    val feed = CommitLog.changesSince(spark, root, 1L).get
    // fold (preimages informational, last change per key by version)
    val changes = feed.filter(col("_change_type") =!= "update_preimage")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getLong(3)))
    val lastByKey = changes.groupBy(_._1).view.mapValues(_.maxBy(_._4))
    val baseMap = CommitLog.readVersion(spark, root, 1L).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val folded =
      (baseMap -- lastByKey.collect { case (k, c) if c._3 == "delete" => k }) ++
        lastByKey.collect { case (k, c) if c._3 != "delete" => k -> c._2 }
    val head = CommitLog.readLatest(spark, root).get.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(folded == head && head == Map(1L -> 100.0, 3L -> 3.0, 4L -> 4.0),
      "three merges' feeds + one synthesized append stitch to the head")
    // both updates of key 1 appear, each stamped with its own version
    assert(changes.filter(c => c._1 == 1L && c._3 == "update_postimage")
      .map(_._4).sorted.toSeq == Seq(2L, lastMerge.version))
    // intermediate consumption windows work too
    val mid = CommitLog.changesSince(spark, root, 3L).get
      .filter(col("_change_type") =!= "update_preimage").collect()
    assert(mid.map(_.getLong(mid.head.fieldIndex("_commit_version"))).toSet ==
      Set(4L, lastMerge.version))
  }

  test("changes tail + maintainAggFromChanges: a continuously-maintained materialized view") {
    import spark.implicits._
    import graft.streaming.StreamOps
    import graft.operators.DataModel
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-cl-mv").toString
    def emptyState() = spark.emptyDataFrame
      .select(lit("x").as("g"), lit(0L).as("cnt"), lit(0L).as("total"))
      .limit(0)
    var view = emptyState()
    def refresh(): Unit = StreamOps.runCommitLogChangesTail(spark, root, ckpt) {
      (df, _) =>
        view = DataModel.maintainAggFromChanges(view,
          df.select(col("g"), col("v"), col("_change_type")), "g", "v")
          .localCheckpoint(true) // seal the state between runs
    }
    def direct() = rows(CommitLog.readLatest(spark, root).get
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("total"))
      .orderBy("g"))
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq(("a", 1L, 10L), ("b", 2L, 20L), ("a", 3L, 30L)).toDF("g", "id", "v")
        .select("g", "id", "v")
    }
    refresh() // bootstrap: head as inserts, maintained from empty state
    assert(rows(view.orderBy("g")) == direct())
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq(("c", 4L, 40L)).toDF("g", "id", "v"))
    CommitLog.merge(spark, root, "m", "id",
      Seq(("a", 3L, 99L, false), ("b", 2L, 0L, true)).toDF("g", "id", "v", "del"),
      deleteCol = Some("del")) // update id 3, delete id 2 → group b empties
    refresh() // one run rides the append AND the merge
    assert(rows(view.orderBy("g")) == direct(),
      "the maintained view equals the direct aggregate after a merge; " +
        "group b emptied out of the view")
    assert(!view.collect().exists(_.getString(0) == "b"))
  }

  test("purge removes rows from head AND all retained history") {
    import spark.implicits._
    val root = freshRoot()
    assert(CommitLog.purge(spark, root, "gdpr")(col("id") < 0L).isEmpty,
      "purge of an empty table is None")
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      (0L until 20L).toDF("id")
    }
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      (20L until 30L).toDF("id"))
    val preVersions = CommitLog.history(spark, root).collect().map(_.getLong(0))
    val purged = CommitLog.purge(spark, root, "gdpr", graceMs = 0L)(
      col("id") % 10L === 3L).get
    assert(purged.action == "purge" && !purged.rowInvisible,
      "purge is a row-VISIBLE rewrite — consumers must resync")
    val ids = CommitLog.readLatest(spark, root).get
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 30L).filter(_ % 10L != 3L).toSet)
    // every pre-purge version is unreachable — logical purge is immediate
    preVersions.foreach(v =>
      assert(CommitLog.readVersion(spark, root, v).isEmpty,
        s"version $v must not resolve after purge"))
    assert(CommitLog.appendedSince(spark, root, preVersions.max).isEmpty,
      "a pre-purge checkpoint demands resync, not a silent skip")
    // with grace 0, the retired data dirs are physically gone too
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("data-"))
    assert(dirs.length == 1, "only the purged head's directory remains")
  }

  // ---- graft.commitlog connector (r12: VERDICT r11 #1) ----

  /** Files the executed plan actually scanned — the connector twin of the
    * library route's inputFiles pruning proofs (the FileIndex's static
    * inputFiles is deliberately unpruned, so the proof reads the scan). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.getOrElse(fail("no FileSourceScanExec in the executed plan"))
  }

  test("connector snapshot, time-travel, and CDF routes row-equal the library reads") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "v"))
    CommitLog.merge(spark, root, "m", "id",
      Seq((2L, "B")).toDF("id", "v"))
    // snapshot = readLatest
    assert(rows(spark.read.format("graft.commitlog").load(root).orderBy("id")) ==
      rows(CommitLog.readLatest(spark, root).get.orderBy("id")))
    // time travel = readVersion, for every retained version
    (1L to 3L).foreach { ver =>
      assert(rows(spark.read.format("graft.commitlog")
        .option("versionAsOf", ver.toString).load(root).orderBy("id")) ==
        rows(CommitLog.readVersion(spark, root, ver).get.orderBy("id")),
        s"versionAsOf $ver must equal readVersion")
    }
    // vacuumed/never-committed version: loud error, not silence
    intercept[IllegalArgumentException] {
      spark.read.format("graft.commitlog").option("versionAsOf", "99").load(root)
    }
    // change feed = changesSince (typed rows incl. the merge's images)
    val lib = rows(CommitLog.changesSince(spark, root, 1L).get
      .orderBy("_commit_version", "_change_type", "id"))
    val conn = rows(spark.read.format("graft.commitlog")
      .option("changesSince", "1").load(root)
      .orderBy("_commit_version", "_change_type", "id"))
    assert(conn == lib)
    assert(lib.exists(_.contains("update_postimage")),
      "fixture must exercise the merge feed, not just inserts")
    // caught-up CDF: empty frame with the feed schema, not an error
    val head = CommitLog.latest(spark, root).get.version
    val atHead = spark.read.format("graft.commitlog")
      .option("changesSince", head.toString).load(root)
    assert(atHead.count() == 0L &&
      atHead.columns.contains("_change_type"))
  }

  test("connector prunes directories from pushed filters via the library's stats/bloom planning") {
    import spark.implicits._
    val root = freshRoot()
    // four dirs with disjoint id ranges, stats recorded; blooms on id
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      (0L until 100L).toDF("id") }
    Seq(100L, 200L, 300L).foreach(base =>
      CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
        (base until base + 100L).toDF("id")))
    CommitLog.addBloom(spark, root, "id")
    val snap = spark.read.format("graft.commitlog").load(root)
    val all = scannedFiles(snap)
    // range predicate: only the intersecting dir's files scan
    val ranged = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") >= 210L && col("id") <= 240L)
    assert(rows(ranged.orderBy("id")) == (210L to 240L).map(Seq(_)))
    assert(scannedFiles(ranged) < all,
      s"range filter must prune files (${scannedFiles(ranged)} vs $all)")
    // point predicate: bloom sidecars prune scattered exact keys
    val point = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") === 250L)
    assert(rows(point) == Seq(Seq(250L)))
    assert(scannedFiles(point) < all,
      "bloom-prunable equality must not scan every file")
    // connector pruning = library pruning, decision-for-decision
    val idx = new graft.sources.CommitLogFileIndex(spark, root,
      CommitLog.latest(spark, root).get)
    val expr = ranged.queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get
    val kept = idx.prunedDirs(splitConj(expr))
    val libKept = CommitLog.statsKeepDirs(CommitLog.latest(spark, root).get,
      "id", 210L, 240L)
    assert(kept.toSet == libKept.toSet,
      s"connector dirs $kept must equal library dirs $libKept")
    // unrecognized filter shapes scan everything — conservative, never wrong
    val weird = spark.read.format("graft.commitlog").load(root)
      .filter((col("id") % 97L) === 13L)
    assert(scannedFiles(weird) == all)
  }

  private def splitConj(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  test("typed data-skipping: string and timestamp predicates prune dirs; verbs share the decision (VERDICT r16 #2)") {
    import spark.implicits._
    val root = freshRoot()
    def ts(y: Int, m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"$y%04d-$m%02d-01 00:00:00")
    // three dirs keyed by a STRING status with disjoint TIMESTAMP ranges
    Seq(("alpha", 2020), ("golf", 2021), ("tango", 2022)).foreach {
      case (st, y) =>
        CommitLog.commitAppend(spark, root, "w", "append",
          statsCols = Seq("st", "ts"), createOnEmpty = true)(
          (1 to 12).map(m => (st, ts(y, m), s"$st-$m")).toDF("st", "ts", "v"))
    }
    val head = CommitLog.latest(spark, root).get
    assert(head.dataDirs.size == 3 &&
      head.dataDirs.forall(d => head.stats.get(d).exists(bc =>
        bc.contains("st") && bc.contains("ts"))),
      s"string+timestamp stats must record: ${head.stats}")
    val all = scannedFiles(spark.read.format("graft.commitlog").load(root))
    def conn = spark.read.format("graft.commitlog").load(root)
    // string equality: one dir
    val eq = conn.filter(col("st") === "golf")
    assert(eq.count() == 12L && scannedFiles(eq) < all,
      s"string equality must prune (${scannedFiles(eq)} vs $all)")
    // string range: 'g' < … < 't' keeps only the middle dir
    val rng = conn.filter(col("st") > "b" && col("st") < "t")
    assert(rng.count() == 12L && scannedFiles(rng) < all,
      "string range must prune")
    // prefix LIKE: upper bound = prefix padded 0xFF
    val pre = conn.filter(col("st").startsWith("ta"))
    assert(pre.count() == 12L && scannedFiles(pre) < all,
      "string prefix must prune")
    // timestamp range: one year's dir
    val tsr = conn.filter(col("ts") >= lit(ts(2021, 1)) &&
      col("ts") <= lit(ts(2021, 12)))
    assert(tsr.count() == 12L && scannedFiles(tsr) < all,
      "timestamp range must prune")
    // IN over strings: min/max of the encodings
    val inq = conn.filter(col("st").isin("tango", "golf"))
    assert(inq.count() == 24L)
    // soundness under collision: 7-byte-prefix SHARING values must NOT
    // prune each other (the encoding is non-injective by design)
    val root2 = freshRoot()
    CommitLog.commitAppend(spark, root2, "w", "append",
      statsCols = Seq("k"), createOnEmpty = true)(
      Seq(("prefix-aaaaaaA", 1L)).toDF("k", "n"))
    CommitLog.commitAppend(spark, root2, "w", "append",
      statsCols = Seq("k"))(
      Seq(("prefix-aaaaaaB", 2L)).toDF("k", "n"))
    val coll = spark.read.format("graft.commitlog").load(root2)
      .filter(col("k") === "prefix-aaaaaaB")
    assert(rows(coll) == Seq(Seq("prefix-aaaaaaB", 2L)),
      "colliding 7-byte prefixes widen ranges, never lose rows")
    // the row-level verbs share the evidence: a string-keyed DELETE
    // only touches the dir its predicate can reach (CoW-pinned so the
    // dir shape is observable)
    val before = CommitLog.latest(spark, root).get
    val del = CommitLog.delete(spark, root, "d", col("st") === "alpha",
      dvMaxFraction = 0).get
    assert(before.dataDirs.count(del.dataDirs.contains) == 2,
      s"string-evidence delete must carry the two clean dirs: " +
        s"${before.dataDirs} -> ${del.dataDirs}")
    assert(CommitLog.readLatest(spark, root).get.count() == 24L)
    // and a string-keyed MERGE prunes by the changeset's encoded range
    val m = CommitLog.merge(spark, root, "m", "st",
      Seq(("tango", ts(2022, 6), "replaced")).toDF("st", "ts", "v"),
      dvMaxFraction = 0)
    assert(del.dataDirs.filter(m.dataDirs.contains).size == 1,
      s"string-keyed merge must rewrite only the evidenced dir: " +
        s"${del.dataDirs} -> ${m.dataDirs}")
    assert(CommitLog.readLatest(spark, root).get
      .filter(col("v") === "replaced").count() == 1L)
  }

  test("MERGE pins a non-deterministic source: one evaluation feeds every clause family (ADVICE r17)") {
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      spark.range(500).select(col("id"), lit("t").as("v")) }
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gnd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnd.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gnd.t USING `graft.commitlog` LOCATION '$root'")
      spark.range(1000).select(col("id"), lit("s").as("v"))
        .createOrReplaceTempView("gnd_pool")
      // a 500-row sample whose CONTENT differs between evaluations: were
      // the matched inner join and the insert anti-join to scan the
      // subquery independently, a sampled row could update AND insert,
      // or vanish — with the one pinned evaluation, EXACTLY the 500
      // sampled rows carry the source value afterwards
      spark.sql("MERGE INTO gnd.t t USING " +
        "(SELECT id, v FROM gnd_pool ORDER BY rand() LIMIT 500) s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
      val got = spark.table("gnd.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.map(_._1).distinct.length == got.length,
        "no id may land twice across the clause families")
      assert(got.count(_._2 == "s") == 500,
        s"exactly the 500 sampled rows carry the source value, " +
          s"got ${got.count(_._2 == "s")} of ${got.length}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gnd.t")
      spark.conf.unset("spark.sql.catalog.gnd")
      spark.conf.unset("spark.sql.catalog.gnd.dir")
    }
  }

  test("concurrent addBloom of different columns: the legacy-claim loser registers as an extra column (ADVICE r17)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 6).foreach { _ =>
      val root = freshRoot()
      CommitLog.commit(spark, root, "w", "create") { _ =>
        Seq((1L, "a")).toDF("id", "v") }
      // two writers race the one legacy marker with DIFFERENT columns —
      // whoever loses must fall through to the extra-column layout, not
      // throw "one per table" (r17 supports multiple bloom columns)
      val fa = Future(CommitLog.addBloom(spark, root, "id"))
      val fb = Future(CommitLog.addBloom(spark, root, "v"))
      Await.result(fa, 2.minutes); Await.result(fb, 2.minutes)
      val cols = CommitLog.bloomColumns(spark, root).toSet
      assert(cols == Set("id", "v"),
        s"both racing columns must register: $cols")
    }
  }

  test("catalog route: spark.table equals readLatest; INSERT routes through the protocol") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gcl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcl.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gcl.t USING `graft.commitlog` LOCATION '$root'")
      assert(rows(spark.table("gcl.t").orderBy("id")) ==
        rows(CommitLog.readLatest(spark, root).get.orderBy("id")))
      // resolution is per query: a new commit is visible to the next read
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((3L, "c")).toDF("id", "v"))
      assert(spark.table("gcl.t").count() == 3L)
      // INSERT routes THROUGH the protocol (r13): the catalog write is a
      // real commitAppend — one new version, O(delta) dirs, writer tagged
      Seq((9L, "z")).toDF("id", "v").writeTo("gcl.t").append()
      assert(spark.table("gcl.t").count() == 4L)
      val afterIns = CommitLog.latest(spark, root).get
      assert(afterIns.action == "append" && afterIns.writer == "catalog",
        "catalog INSERT is an audited protocol commit, not a raw write")
      spark.sql("INSERT INTO gcl.t VALUES (10, 'y')")
      assert(CommitLog.readLatest(spark, root).get.count() == 5L)
      // INSERT OVERWRITE is a protocol rewrite commit
      spark.sql("INSERT OVERWRITE gcl.t VALUES (42, 'w')")
      val afterOw = CommitLog.latest(spark, root).get
      assert(afterOw.action == "overwrite" &&
        spark.table("gcl.t").collect().map(_.getLong(0)).toSeq == Seq(42L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcl.t")
      spark.conf.unset("spark.sql.catalog.gcl")
      spark.conf.unset("spark.sql.catalog.gcl.dir")
    }
  }

  // ---- additive schema evolution (r12: VERDICT r11 #2) ----

  test("evolve append widens the schema; readers union with typed NULLs; consumers ride through") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val base = CommitLog.latest(spark, root).get.version
    val evolved = CommitLog.commitAppend(spark, root, "w", "append",
      statsCol = Some("id"), evolve = true)(
      Seq((3L, "c", 0.5)).toDF("id", "v", "score"))
    assert(evolved.schemaDDL.isDefined, "evolve append records the schema")
    // snapshot: old rows carry typed NULLs in the new column, no rewrite
    val head = CommitLog.readLatest(spark, root).get
    assert(head.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(rows(head.orderBy("id")) ==
      Seq(Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", 0.5)))
    // connector route reads the same union
    assert(rows(spark.read.format("graft.commitlog").load(root).orderBy("id")) ==
      rows(head.orderBy("id")))
    // incremental consumers ride through WITHOUT resync
    val delta = CommitLog.appendedSince(spark, root, base)
    assert(delta.isDefined, "evolution must not void incrementality")
    assert(rows(delta.get) == Seq(Seq(3L, "c", 0.5)))
    val feed = CommitLog.changesSince(spark, root, base)
    assert(feed.isDefined &&
      rows(feed.get.select("id", "v", "score", "_change_type")) ==
        Seq(Seq(3L, "c", 0.5, "insert")))
    // a feed window CROSSING the evolution (from zero... base-1 has no
    // commit, so window from the create) unions old and new generations
    // with typed NULLs
    CommitLog.commitAppend(spark, root, "w", "append",
      statsCol = Some("id"))(Seq((4L, "d", 1.5)).toDF("id", "v", "score"))
    val wide = CommitLog.appendedSince(spark, root, base).get
    assert(rows(wide.orderBy("id")) ==
      Seq(Seq(3L, "c", 0.5), Seq(4L, "d", 1.5)))
    // a merge on the evolved table rewrites the PRE-evolution dir with the
    // recorded schema (typed NULL preserved), never a franken-read
    CommitLog.merge(spark, root, "m", "id",
      Seq((1L, "A", 9.9)).toDF("id", "v", "score"))
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      Seq(Seq(1L, "A", 9.9), Seq(2L, "b", null),
        Seq(3L, "c", 0.5), Seq(4L, "d", 1.5)))
    // compact materializes the union physically; the record then travels
    // with the history it still describes
    CommitLog.compact(spark, root, "opt")
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      Seq(Seq(1L, "A", 9.9), Seq(2L, "b", null),
        Seq(3L, "c", 0.5), Seq(4L, "d", 1.5)))
  }

  test("evolution guardrails: silent drift still rejected; evolve demands a superset") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    // plain append with extra column: still the loud schema error
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((2L, "b", 1.0)).toDF("id", "v", "score"))
    }
    // evolve append MISSING a head column: rejected (additive only)
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append", evolve = true)(
        Seq((2L, 1.0)).toDF("id", "score"))
    }
    // evolve append RETYPING a head column: rejected
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append", evolve = true)(
        Seq((2L, 7L, 1.0)).toDF("id", "v", "score"))
    }
    // evolve with an identical schema: legal no-op evolution, the
    // recorded schema stays the head's
    val head = CommitLog.latest(spark, root).get
    val c = CommitLog.commitAppend(spark, root, "w", "append", evolve = true)(
      Seq((2L, "b")).toDF("id", "v"))
    assert(c.schemaDDL.isDefined && c.schemaDDL == head.schemaDDL,
      "no new column: the head's recorded schema carries")
  }

  test("restore rolls the head back as a new commit; history survives; consumers resync") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("id")) { _ =>
      Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("id"))(
      Seq((3L, "bad")).toDF("id", "v"))
    val consumerBase = 1L
    val restored = CommitLog.restore(spark, root, "op", 1L)
    // the head is v1's content, committed as a NEW version
    assert(restored.version == 3L && restored.action == "restore")
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "b")))
    // history intact: the bad append stays auditable and time-travelable
    assert(CommitLog.history(spark, root).collect().map(_.getString(3)).toSeq ==
      Seq("create", "append", "restore"))
    assert(rows(CommitLog.readVersion(spark, root, 2L).get.orderBy("id")) ==
      Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "bad")))
    // row-visible rewrite: an incremental consumer must resync, never
    // silently skip the retraction
    assert(CommitLog.appendedSince(spark, root, consumerBase).isEmpty)
    // stats carried from the target's record: skipping survives
    assert(restored.statsCols == Seq("id") && restored.stats.nonEmpty)
    // restore-to-head is a schedulable no-op; vacuumed target is loud
    assert(CommitLog.restore(spark, root, "op", 3L).version == 3L)
    assert(CommitLog.history(spark, root).count() == 3L)
    intercept[IllegalArgumentException] {
      CommitLog.restore(spark, root, "op", 99L)
    }
  }

  test("concurrent evolutions cannot clip each other: exactly one wins, the loser fails loudly") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    // two writers race evolve-appends adding DIFFERENT columns; whatever
    // the interleaving, create-exclusive claims admit exactly one — and
    // the loser's re-validation against the WINNER's head must reject its
    // now-incomplete delta (additive-only) instead of committing a
    // recorded schema that clips the winner's column (code review r12)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val attempts = try {
      Await.result(Future.sequence(Seq(
        Future(scala.util.Try(CommitLog.commitAppend(spark, root, "wx",
          "append", evolve = true)(Seq((2L, "b", 7L)).toDF("id", "v", "x")))),
        Future(scala.util.Try(CommitLog.commitAppend(spark, root, "wy",
          "append", evolve = true)(Seq((3L, "c", 0.5)).toDF("id", "v", "y"))))
      )), Duration.Inf)
    } finally pool.shutdown()
    assert(attempts.count(_.isSuccess) == 1,
      s"exactly one evolution may land: $attempts")
    val failure = attempts.find(_.isFailure).get.failed.get
    assert(failure.getMessage.contains("ADDITIVE only"),
      s"the loser must get the additive-only rejection, got: $failure")
    // the winner's column survives in the recorded schema and the read
    val head = CommitLog.readLatest(spark, root).get
    val winnerCol = attempts.find(_.isSuccess).get.get
      .schemaDDL.get // the evolve recorded its schema
    assert(head.schema.fieldNames.length == 3 &&
      (head.schema.fieldNames.contains("x") ^ head.schema.fieldNames.contains("y")))
    assert(head.count() == 2L)
    assert(winnerCol.nonEmpty)
  }

  // ---- O(1) head pointer (r12: VERDICT r11 #4) ----

  test("head pointer is advisory: stale, corrupt, or missing degrades to the walk, never a wrong head") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ => Seq(1L).toDF("id") }
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(2L).toDF("id"))
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(3L).toDF("id"))
    val ptr = new java.io.File(root, "_commits/_head")
    assert(ptr.exists(), "writers maintain the pointer")
    assert(new String(Files.readAllBytes(ptr.toPath), "UTF-8").trim == "3")
    def headVersion() = CommitLog.latest(spark, root).get.version
    assert(headVersion() == 3L)
    // STALE-LOW pointer (a lagging writer's overwrite): forward probe wins
    Files.write(ptr.toPath, "1".getBytes("UTF-8"))
    assert(headVersion() == 3L, "stale pointer must not serve an old head")
    // CORRUPT pointer: walk fallback
    Files.write(ptr.toPath, "not-a-version".getBytes("UTF-8"))
    assert(headVersion() == 3L)
    // pointer past the log (can only arise from corruption): existence
    // check fails, walk fallback
    Files.write(ptr.toPath, "99".getBytes("UTF-8"))
    assert(headVersion() == 3L)
    // MISSING pointer (pre-r12 table): walk fallback
    Files.delete(ptr.toPath)
    assert(headVersion() == 3L)
    // the next commit restores it
    CommitLog.commitAppend(spark, root, "w", "append")(Seq(4L).toDF("id"))
    assert(new String(Files.readAllBytes(ptr.toPath), "UTF-8").trim == "4")
    // vacuum keeps the pointer consistent with the retained suffix
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    assert(headVersion() == 4L)
  }

  // ---- r13: connector WRITE path ----

  private def commitJson(root: String, v: Long): String = {
    val p = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(v) + ".json")
    new String(Files.readAllBytes(p), "UTF-8")
  }

  /** Normalize the claim-JSON's run-specific fields (dir uuids, wall
    * clocks, writer tags; the stats block's dir entries sort by uuid, so
    * its per-dir maps compare as a canonicalized multiset). */
  private def normalizeJson(s: String): String = {
    val base = s
      .replaceAll("data-[0-9a-f]{8}-v\\d+", "DIR")
      .replaceAll("\"ts\":\\d+", "\"ts\":TS")
      .replaceAll("\"writer\":\"[^\"]*\"", "\"writer\":\"W\"")
    // stats is render's final field: canonicalize its dir entries' order
    val at = base.indexOf("\"stats\":{")
    if (at < 0) base
    else {
      val entries = """"DIR":\{[^}]*\}""".r
        .findAllIn(base.substring(at)).toSeq.sorted
      base.substring(0, at) + "\"stats\":{" + entries.mkString(",") + "}}"
    }
  }

  test("connector write route: commit JSON is shape-identical to the library route; claims serialize under racing writers") {
    import spark.implicits._
    val delta = Seq((10L, "x"), (11L, "y")).toDF("id", "v")
    // library route
    val rootL = freshRoot()
    CommitLog.commit(spark, rootL, "w", "create", statsCol = Some("id")) { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    CommitLog.commitAppend(spark, rootL, "w", "append",
      statsCol = Some("id"))(delta)
    // connector route — same table history through df.write
    val rootC = freshRoot()
    Seq((1L, "a")).toDF("id", "v").write.format("graft.commitlog")
      .option("statsCol", "id").save(rootC)
    delta.write.format("graft.commitlog").mode("append")
      .option("statsCol", "id").save(rootC)
    // byte-equivalent modulo the run-specific fields: same field set,
    // same order, same stats values, same action verbs — the connector
    // writes THROUGH commitAppend, it does not reimplement it
    assert(normalizeJson(commitJson(rootC, 1L)) ==
      normalizeJson(commitJson(rootL, 1L)))
    assert(normalizeJson(commitJson(rootC, 2L)) ==
      normalizeJson(commitJson(rootL, 2L)))
    assert(rows(spark.read.format("graft.commitlog").load(rootC).orderBy("id")) ==
      rows(CommitLog.readLatest(spark, rootL).get.orderBy("id")))
    // optimistic-claim serializability: four racing df.write appenders —
    // every row lands, versions stay a serial chain (the library route's
    // 8-writer proof, through the connector)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Await.result(Future.sequence((1 to 4).map(k => Future {
        Seq((100L + k, s"r$k")).toDF("id", "v")
          .write.format("graft.commitlog").mode("append").save(rootC)
      })), Duration.Inf)
    } finally pool.shutdown()
    val head = CommitLog.latest(spark, rootC).get
    assert(head.version == 6L, "4 racing claims serialize to 4 versions")
    assert(CommitLog.readLatest(spark, rootC).get.count() == 7L)
    // save-mode edges: errorifexists refuses a non-empty table; ignore
    // no-ops; overwrite is a protocol rewrite commit (history intact)
    intercept[IllegalStateException] {
      delta.write.format("graft.commitlog").save(rootC)
    }
    delta.write.format("graft.commitlog").mode("ignore").save(rootC)
    assert(CommitLog.latest(spark, rootC).get.version == 6L)
    Seq((42L, "w")).toDF("id", "v").write.format("graft.commitlog")
      .mode("overwrite").save(rootC)
    val ow = CommitLog.latest(spark, rootC).get
    assert(ow.version == 7L && ow.action == "overwrite")
    assert(rows(CommitLog.readVersion(spark, rootC, 6L).get).size == 7,
      "overwrite never rewrites history")
    // idempotent txn writes through the connector: same (appId, version)
    // delivered twice commits once
    def txnWrite(): Unit = Seq((50L, "t")).toDF("id", "v")
      .write.format("graft.commitlog").mode("append")
      .option("txnAppId", "capp").option("txnVersion", "7").save(rootC)
    txnWrite(); txnWrite()
    assert(CommitLog.latest(spark, rootC).get.version == 8L,
      "re-delivered txn batch must no-op")
  }

  test("catalog SQL-only workflow: CREATE TABLE on an empty root, INSERT creates v1, DELETE FROM is an audited rewrite") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcl2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcl2.dir", catRoot)
    try {
      // CREATE TABLE with columns on a location with NO commits: the
      // declared schema (recorded in the descriptor) resolves the empty
      // table — it plans an empty scan instead of throwing (r13)
      spark.sql("CREATE TABLE gcl2.t (id BIGINT, v STRING) " +
        s"USING `graft.commitlog` LOCATION '$tableRoot'")
      assert(spark.table("gcl2.t").schema.fieldNames.toSeq == Seq("id", "v"))
      assert(spark.table("gcl2.t").count() == 0L)
      // first INSERT is the create commit (O(delta) through the protocol),
      // and the audit surface records the CREATING verb — the same
      // action the connector write route stamps for a first commit
      // (ADVICE r13: the two write faces must not disagree about "create")
      spark.sql("INSERT INTO gcl2.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      val first = CommitLog.latest(spark, tableRoot).get
      assert(first.version == 1L && first.action == "create",
        s"catalog INSERT on an empty table must record 'create', got " +
          first.action)
      assert(spark.table("gcl2.t").count() == 3L)
      // DELETE FROM: a copy-on-write rewrite commit, audited like any verb
      spark.sql("DELETE FROM gcl2.t WHERE id = 2")
      assert(rows(spark.table("gcl2.t").orderBy("id")) ==
        Seq(Seq(1L, "a"), Seq(3L, "c")))
      val del = CommitLog.latest(spark, tableRoot).get
      assert(del.version == 2L && del.action == "delete" &&
        del.writer == "catalog",
        "SQL DELETE must be a protocol commit, not a file mutation")
      // history intact: the deleted state stays time-travelable
      assert(CommitLog.readVersion(spark, tableRoot, 1L).get.count() == 3L)
      // compound predicates translate; a no-match delete keeps every row
      spark.sql("DELETE FROM gcl2.t WHERE id > 10 AND v = 'zzz'")
      assert(rows(spark.table("gcl2.t").orderBy("id")) ==
        Seq(Seq(1L, "a"), Seq(3L, "c")))
      // SQL DELETE null semantics (code review r13): a row where the
      // predicate evaluates to NULL is KEPT — delete only where TRUE
      spark.sql("INSERT INTO gcl2.t VALUES (NULL, 'n')")
      assert(CommitLog.latest(spark, tableRoot).get.action == "append",
        "a second INSERT records the appending verb, not 'create'")
      spark.sql("DELETE FROM gcl2.t WHERE id = 3")
      assert(spark.table("gcl2.t").count() == 2L,
        "a NULL-keyed row must survive an equality delete")
      assert(spark.table("gcl2.t").filter(col("id").isNull).count() == 1L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcl2.t")
      spark.conf.unset("spark.sql.catalog.gcl2")
      spark.conf.unset("spark.sql.catalog.gcl2.dir")
    }
  }

  test("catalog procedures: CALL compact/vacuum/add_bloom/restore route through the protocol verbs") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcl3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcl3.dir", catRoot)
    try {
      spark.sql("CREATE TABLE gcl3.t (id BIGINT, v STRING) " +
        s"USING `graft.commitlog` LOCATION '$tableRoot'")
      (1 to 3).foreach(k =>
        Seq((k.toLong, s"v$k")).toDF("id", "v")
          .write.format("graft.commitlog").mode("append").save(tableRoot))
      assert(CommitLog.latest(spark, tableRoot).get.dataDirs.size == 3)
      // OPTIMIZE from SQL: one consolidated dir, rowInvisible commit
      val comp = spark.sql(
        "CALL gcl3.compact(`table` => 't', target_files => 1)").collect()
      assert(comp.length == 1 && comp.head.getLong(0) == 4L &&
        comp.head.getInt(1) == 1)
      val head = CommitLog.latest(spark, tableRoot).get
      assert(head.action == "compact" && head.rowInvisible &&
        head.writer == "procedure")
      // VACUUM from SQL: retention drops the pre-compact versions
      val vac = spark.sql(
        "CALL gcl3.vacuum(`table` => 't', keep => 1, grace_ms => 0)").collect()
      assert(vac.head.getInt(0) == 3)
      assert(CommitLog.readVersion(spark, tableRoot, 1L).isEmpty)
      // bloom sidecars from SQL
      val blm = spark.sql(
        "CALL gcl3.add_bloom(`table` => 't', `column` => 'id')").collect()
      assert(blm.head.getInt(0) == 1)
      // RESTORE from SQL: roll back an append as a new audited commit
      Seq((99L, "bad")).toDF("id", "v")
        .write.format("graft.commitlog").mode("append").save(tableRoot)
      val res = spark.sql(
        "CALL gcl3.restore(`table` => 't', version => 4)").collect()
      assert(res.head.getLong(0) == 4L && res.head.getLong(1) == 6L)
      assert(spark.table("gcl3.t").count() == 3L)
      // the state rides the same protocol the library route reads
      assert(rows(spark.table("gcl3.t").orderBy("id")) ==
        rows(CommitLog.readLatest(spark, tableRoot).get.orderBy("id")))
      // DESCRIBE HISTORY parity: the audit surface as a CALL result
      val hist = spark.sql("CALL gcl3.history(`table` => 't')")
        .orderBy("version").collect()
      assert(hist.map(_.getString(3)).toSeq ==
        Seq("compact", "append", "restore"),
        s"history reflects the vacuumed suffix + the session's verbs")
      assert(hist.forall(r => !r.isNullAt(1)),
        "every commit carries its wall-clock in the CALL result")
      // a procedure against a non-commitlog table fails loudly
      intercept[Exception] {
        spark.sql("CALL gcl3.compact(`table` => 'nope')").collect()
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcl3.t")
      spark.conf.unset("spark.sql.catalog.gcl3")
      spark.conf.unset("spark.sql.catalog.gcl3.dir")
    }
  }

  test("replaceWhere: replaces exactly the matching region, constraint-checks incoming rows, keeps NULL evaluations") {
    import spark.implicits._
    val root = freshRoot()
    Seq[(java.lang.Long, String, Double)]((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "a", 30.0), (null, "x", 0.0))
      .toDF("id", "grp", "v").write.format("graft.commitlog").save(root)
    // restate the id <= 3 region: the NULL-id row's predicate evaluates
    // to NULL — it must be KEPT (replace only where TRUE, the DELETE rule)
    Seq((1L, "a", 11.0), (2L, "b", 21.0)).toDF("id", "grp", "v")
      .write.format("graft.commitlog").mode("overwrite")
      .option("replaceWhere", "id <= 3").save(root)
    val head = CommitLog.latest(spark, root).get
    assert(head.action == "replace" && head.version == 2L)
    val got = spark.read.format("graft.commitlog").load(root)
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((Some(1L), "a", 11.0), (Some(2L), "b", 21.0),
      (None, "x", 0.0)),
      s"region swapped for the restatement, null-evaluating row kept: $got")
    // history intact: the pre-restatement state stays travelable
    assert(CommitLog.readVersion(spark, root, 1L).get.count() == 4L)
    // the Delta constraint: an incoming row OUTSIDE the region fails the
    // statement before anything commits
    intercept[IllegalArgumentException] {
      Seq((9L, "b", 9.0)).toDF("id", "grp", "v")
        .write.format("graft.commitlog").mode("overwrite")
        .option("replaceWhere", "id <= 3").save(root)
    }
    assert(CommitLog.latest(spark, root).get.version == 2L,
      "a refused replaceWhere must not have committed")
  }

  test("replaceWhere prunes: only dirs whose recorded evidence might match are rewritten; the rest carry byte-identical") {
    import spark.implicits._
    val root = freshRoot()
    // four dirs with disjoint recorded id ranges — the time-clustered
    // append history a daily restatement runs against
    (0 to 3).foreach { k =>
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCol = Some("id"))(
        (k * 100L until k * 100L + 100L).toDF("id")
          .withColumn("v", lit(s"g$k")))
    }
    val before = CommitLog.latest(spark, root).get
    val filesBefore = CommitLog.readLatest(spark, root).get.inputFiles.toSet
    // restate the [100, 199] slice — recorded stats prove dirs 0/2/3
    // cannot match, so they must be CARRIED, not rewritten
    val restated = (100L until 150L).toDF("id")
      .withColumn("v", lit("g1fix"))
    val c = CommitLog.replaceWhere(spark, root, "restater",
      col("id").between(100L, 199L), restated, statsCol = Some("id"))
    assert(c.action == "replace" && c.version == 5L)
    assert(c.dataDirs.toSet.intersect(before.dataDirs.toSet) ==
      (before.dataDirs.toSet - before.dataDirs(1)),
      "exactly the matching-range dir is rewritten; the others carry")
    val filesAfter = CommitLog.readLatest(spark, root).get.inputFiles.toSet
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      "carried dirs share physical files across the restatement")
    // carried dirs keep their recorded stats
    assert(before.dataDirs.filterNot(_ == before.dataDirs(1))
      .forall(d => c.stats.get(d) == before.stats.get(d)))
    // correctness: region swapped, everything else untouched
    val got = CommitLog.readLatest(spark, root).get
    assert(got.count() == 350L)
    assert(got.filter(col("id").between(100L, 199L)).count() == 50L)
    assert(rows(got.filter(col("v") === "g1fix").agg(count(lit(1)))) ==
      Seq(Seq(50L)))
    // equals the naive filter-and-union rebuild
    val naive = (0 to 3).flatMap(k => (k * 100L until k * 100L + 100L))
      .filterNot(id => id >= 100L && id <= 199L) ++ (100L until 150L)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      naive.sorted)
    // a predicate with NO usable evidence rewrites everything — still
    // correct, conservatively
    val all = CommitLog.replaceWhere(spark, root, "restater",
      col("v") === "g0", (0L until 10L).toDF("id").withColumn("v", lit("g0")),
      statsCol = Some("id"))
    assert(all.dataDirs.size == 1, "no evidence for a string predicate: full rewrite")
    assert(CommitLog.readLatest(spark, root).get.count() == 260L)
  }

  test("delete and purge share the pruned rewrite: untouched dirs carry, stats survive, no-match is a no-op") {
    import spark.implicits._
    val root = freshRoot()
    (0 to 3).foreach { k =>
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCol = Some("id"))(
        (k * 100L until k * 100L + 100L).toDF("id"))
    }
    val before = CommitLog.latest(spark, root).get
    // DELETE a range confined to dir 2: the other three dirs carry
    // byte-identical with their recorded stats, history stays travelable
    val del = CommitLog.delete(spark, root, "cleaner",
      col("id").between(250L, 299L)).get
    assert(del.action == "delete" &&
      del.dataDirs.toSet.intersect(before.dataDirs.toSet) ==
        (before.dataDirs.toSet - before.dataDirs(2)),
      "delete rewrites only the matching-range dir")
    assert(before.dataDirs.filterNot(_ == before.dataDirs(2))
      .forall(d => del.stats.get(d) == before.stats.get(d)),
      "carried dirs keep their skipping stats through a delete")
    assert(CommitLog.readLatest(spark, root).get.count() == 350L)
    assert(CommitLog.readVersion(spark, root, before.version).get.count() == 400L,
      "delete keeps history travelable (purge is the verb that drops it)")
    // provably-no-match delete: the head is returned UNCHANGED
    val noop = CommitLog.delete(spark, root, "cleaner",
      col("id") > 10000L).get
    assert(noop.version == del.version, "no-match delete must not commit")
    // PURGE a range confined to dir 0: pruned the same way, but history
    // drops and the purged dir is swept — nothing to forget remains
    val headBefore = CommitLog.latest(spark, root).get
    val purged = CommitLog.purge(spark, root, "gdpr", graceMs = 0L)(
      col("id") < 50L).get
    assert(purged.action == "purge" &&
      headBefore.dataDirs.filter(_ != before.dataDirs(0))
        .forall(purged.dataDirs.contains),
      "purge carries every dir the evidence proves clean")
    assert(CommitLog.readLatest(spark, root).get.count() == 300L)
    assert(CommitLog.readVersion(spark, root, del.version).isEmpty,
      "purge drops retained history")
    // NULL semantics (r13 fix): a NULL-evaluating row survives a purge
    val root2 = freshRoot()
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "keepme"))
      .toDF("id", "v").write.format("graft.commitlog").save(root2)
    CommitLog.purge(spark, root2, "gdpr", graceMs = 0L)(col("id") === 1L)
    val left = CommitLog.readLatest(spark, root2).get.collect()
    assert(left.length == 1 && left.head.getString(1) == "keepme",
      "purge removes rows matching TRUE only — NULL evaluations keep")
  }

  test("timestampAsOf: at-or-before boundary, clock-skew monotonization, pre-history and missing-field failures are loud") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    Thread.sleep(20L)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((2L, "b")).toDF("id", "v"))
    val hist = CommitLog.history(spark, root).orderBy("version").collect()
    val (t1, t2) = (hist(0).getAs[Long]("ts_ms"), hist(1).getAs[Long]("ts_ms"))
    assert(t1 < t2, "fixture needs distinct wall-clocks")
    // boundary: the EXACT timestamp resolves TO its commit (at-or-before)
    assert(CommitLog.commitAtTimestamp(spark, root, t1).version == 1L)
    assert(CommitLog.commitAtTimestamp(spark, root, t2).version == 2L)
    // ordering: between the two → the earlier; a FUTURE timestamp throws
    // (ADVICE r13, the Delta after-latest-commit rule — a typo'd clock
    // must not silently read current data)
    assert(CommitLog.commitAtTimestamp(spark, root, (t1 + t2) / 2).version == 1L)
    val fut = intercept[IllegalArgumentException] {
      CommitLog.commitAtTimestamp(spark, root, t2 + 1000000L)
    }
    assert(fut.getMessage.contains("after the newest commit"))
    // pre-history: before the earliest retained commit throws
    val pre = intercept[IllegalArgumentException] {
      CommitLog.commitAtTimestamp(spark, root, t1 - 1L)
    }
    assert(pre.getMessage.contains("precedes"))
    // connector route resolves identically
    assert(rows(spark.read.format("graft.commitlog")
      .option("timestampAsOf", t1.toString).load(root)) ==
      rows(CommitLog.readVersion(spark, root, 1L).get))
    intercept[IllegalArgumentException] {
      spark.read.format("graft.commitlog")
        .option("timestampAsOf", t1.toString)
        .option("versionAsOf", "1").load(root)
    }
    // batch CDF window from a wall-clock (r13): the newest commit strictly
    // before the timestamp is the exclusive base, so a window opening at
    // v2's own clock equals changesSince(1)
    assert(rows(spark.read.format("graft.commitlog")
        .option("changesSinceTimestamp", t2.toString).load(root).orderBy("id")) ==
      rows(spark.read.format("graft.commitlog")
        .option("changesSince", "1").load(root).orderBy("id")))
    // a window from before all history delivers EVERYTHING as typed
    // changes — v1's content opens the feed as inserts
    assert(spark.read.format("graft.commitlog")
      .option("changesSinceTimestamp", (t1 - 1L).toString).load(root)
      .count() == 2L)
    // CLOCK SKEW: forge v3 whose recorded ts is BEFORE v1's — Delta's
    // monotonization clamps its effective time to v2's, so a target of t2
    // resolves to v3 (the newest commit no later than t2 in commit order)
    val dir2 = CommitLog.latest(spark, root).get.dataDirs.head
    val v3 = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(3L) + ".json")
    Files.write(v3, (s"""{"version":3,"dataDirs":["$dir2"],""" +
      s""""writer":"skewed","action":"forge","ts":${t1 - 5000}}""")
      .getBytes("UTF-8"))
    assert(CommitLog.commitAtTimestamp(spark, root, t2).version == 3L,
      "skewed commit clamps forward, never reorders time travel")
    assert(CommitLog.commitAtTimestamp(spark, root, t2 - 1L).version == 1L,
      "t2's OWN wall-clock still gates versions 2 and 3")
    // MISSING field: a retained pre-timestamp commit makes time-based
    // resolution impossible — it must fail loudly, never guess
    val v4 = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(4L) + ".json")
    Files.write(v4, (s"""{"version":4,"dataDirs":["$dir2"],""" +
      """"writer":"old","action":"forge"}""").getBytes("UTF-8"))
    val miss = intercept[IllegalStateException] {
      CommitLog.commitAtTimestamp(spark, root, t2)
    }
    assert(miss.getMessage.contains("4") &&
      miss.getMessage.contains("no timestamp"))
    // version travel is unaffected by the timestamp gaps
    assert(CommitLog.readVersion(spark, root, 1L).get.count() == 1L)
  }

  test("json escaping: control chars round-trip through a commit, damaged escapes make it unreadable, option conflicts fail clean") {
    import spark.implicits._
    val root = freshRoot()
    Seq((1L, "a")).toDF("id", "v")
      .write.format("graft.commitlog").save(root)
    // every char class JSON escapes, a bare control char and a non-BMP
    // char, in every field that carries user text
    val nasty = "a\"b\\c\nd\re\tf\u0001g\uD83D\uDE00"
    val head = CommitLog.latest(spark, root).get
    val c = head.copy(version = 2L, schemaDDL = Some(nasty),
      constraints = Seq("c1" -> nasty), defaults = Seq((nasty, 1L, nasty)),
      colMap = Map(nasty -> nasty), gens = Seq(nasty -> nasty),
      partitionBy = Seq(nasty), partVals = Map(head.dataDirs.head -> Seq(nasty)))
    val json = CommitLog.encode(c)
    assert(!json.exists(_ < 0x20),
      "escaped output must be valid JSON string content (no raw controls)")
    val p = java.nio.file.Paths.get(root, "_commits",
      "v" + "%020d".format(2L) + ".json")
    Files.write(p, json.getBytes("UTF-8"))
    assert(CommitLog.commitAt(spark, root, 2L).contains(c))
    // DAMAGED input (bit rot): an unrecognized escape, an invalid \u
    // sequence and a truncated one make the file invalid JSON — the commit
    // is unreadable, never read with a guessed string
    Seq("\\q", "\\" + "uZZ99", "\\" + "u00\"").foreach { bad =>
      Files.write(p, json.replaceFirst(java.util.regex.Pattern.quote("\\\""),
        java.util.regex.Matcher.quoteReplacement(bad)).getBytes("UTF-8"))
      assert(CommitLog.commitAt(spark, root, 2L).isEmpty, bad)
    }
    Files.delete(p)
    // option-combination conflicts fail with the clean conflict message
    // BEFORE changesSinceTimestamp resolution does log I/O (ADVICE r13)
    val conflict = intercept[IllegalArgumentException] {
      spark.read.format("graft.commitlog")
        .option("changesSinceTimestamp", "123")
        .option("versionAsOf", "1").load(root)
    }
    assert(conflict.getMessage.contains("not a combination"),
      s"expected the clean option-conflict message, got: ${conflict.getMessage}")
  }

  test("time-based vacuum: retainMs drops only provably-old commits, keeps the suffix invariant, respects watermark and grace") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    Thread.sleep(30L)
    // v2 is a REWRITE so v1's directory becomes sweepable once v1 ages
    // out (appends share dirs across versions — nothing would free)
    CommitLog.commit(spark, root, "w", "adjust") { cur =>
      cur.get.withColumn("v", lit("A")) }
    Thread.sleep(30L)
    // the newest commit carries an idempotent writer's txn watermark
    CommitLog.commitAppendOnce(spark, root, "app1", "append",
      appId = "app1", batchId = 7L)(Seq((3L, "c")).toDF("id", "v"))
    val hist = CommitLog.history(spark, root).orderBy("version").collect()
    val (t1, t2) = (hist(0).getAs[Long]("ts_ms"), hist(1).getAs[Long]("ts_ms"))
    assert(t1 < t2, "fixture needs distinct wall-clocks")
    // a window covering everything drops nothing, even with keep=1 —
    // retainMs PROTECTS beyond the count floor
    assert(CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L,
      retainMs = Some(24L * 3600 * 1000)) == 0)
    assert(CommitLog.readVersion(spark, root, 1L).isDefined)
    // a cutoff between t1 and t2 drops exactly v1; the writer's
    // watermark (inside the window) survives the scheduled sweep
    val dir1 = CommitLog.commitAt(spark, root, 1L).get.dataDirs.head
    assert(CommitLog.vacuum(spark, root, keep = 1, graceMs = 3600000L,
      retainMs = Some(System.currentTimeMillis() - (t1 + t2) / 2)) == 1)
    assert(CommitLog.commitAt(spark, root, 1L).isEmpty &&
      CommitLog.commitAt(spark, root, 2L).isDefined)
    assert(CommitLog.lastTxn(spark, root, "app1").contains(7L),
      "a watermark inside the retention window must survive age sweeps")
    // grace contract unchanged: v1's dir was young, so it survives the
    // sweep even though its commit file is gone; a zero-grace re-sweep
    // removes it (it is unreferenced by every kept commit)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(root, dir1)),
      "graceMs must shield young data dirs from the age-based sweep")
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L,
      retainMs = Some(System.currentTimeMillis() - (t1 + t2) / 2))
    assert(!f.exists(new org.apache.hadoop.fs.Path(root, dir1)))
    // head is never dropped, whatever the cutoff: retainMs=0 makes every
    // commit "old", the keep floor still holds the newest
    assert(CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L,
      retainMs = Some(0L)) == 1)
    assert(CommitLog.latest(spark, root).get.version == 3L)
    assert(CommitLog.readLatest(spark, root).get.count() == 2L)
    // MISSING timestamps (ADVICE r14): an unprovably-old commit anchors
    // the suffix — but a LATER stamped commit below the cutoff PROVES it
    // older (commit order bounds it from above), so a pre-timestamp
    // history followed by old stamped commits ages out instead of
    // freezing vacuum forever at the unstamped commit.
    def forgeUnstamped(r: String, v: Long, dirs: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(r, "_commits",
        "v" + "%020d".format(v) + ".json"),
        (s"""{"version":$v,"dataDirs":[${dirs.map(d => s""""$d"""").mkString(",")}],""" +
          """"writer":"old","action":"create"}""").getBytes("UTF-8"))
    def seedUnstampedV1(r: String): Unit = {
      CommitLog.commit(spark, r, "w", "create") { _ =>
        Seq((1L, "a")).toDF("id", "v") }
      forgeUnstamped(r, 1L, CommitLog.commitAt(spark, r, 1L).get.dataDirs)
      CommitLog.commitAppend(spark, r, "w", "append")(
        Seq((2L, "b")).toDF("id", "v"))
    }
    // (a) the later stamped commit is INSIDE the window: nothing proves
    // the unstamped v1 old — it anchors the suffix, count floor included
    val root2 = freshRoot(); seedUnstampedV1(root2)
    assert(CommitLog.vacuum(spark, root2, keep = 1, graceMs = 0L,
      retainMs = Some(24L * 3600 * 1000)) == 0,
      "an unproven untimestamped commit must anchor the retained suffix")
    assert(CommitLog.readVersion(spark, root2, 1L).isDefined)
    // (b) cutoff = now: v2's stamp is below it, proving v1 older too —
    // v1 drops (the ADVICE r14 fix; the old anchor-at-self rule froze
    // vacuum permanently here), v2 held by the count floor
    assert(CommitLog.vacuum(spark, root2, keep = 1, graceMs = 0L,
      retainMs = Some(0L)) == 1,
      "a later stamped commit below the cutoff proves the unstamped " +
        "commit older — it must age out")
    assert(CommitLog.commitAt(spark, root2, 1L).isEmpty &&
      CommitLog.latest(spark, root2).get.version == 2L)
    // (c) a history with NO timestamps at all carries no time evidence
    // either way: time protection is inexpressible and it ages out by
    // count alone (the scaladoc contract)
    val root3 = freshRoot()
    CommitLog.commit(spark, root3, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    CommitLog.commit(spark, root3, "w", "adjust") { cur =>
      cur.get.withColumn("v", lit("A")) }
    forgeUnstamped(root3, 1L, CommitLog.commitAt(spark, root3, 1L).get.dataDirs)
    forgeUnstamped(root3, 2L, CommitLog.commitAt(spark, root3, 2L).get.dataDirs)
    assert(CommitLog.vacuum(spark, root3, keep = 1, graceMs = 0L,
      retainMs = Some(24L * 3600 * 1000)) == 1,
      "a fully pre-timestamp history must age out by count alone")
  }

  test("CHECK constraints: every write route rejects before any commit; survive append/compact/restore; NULL passes") {
    import spark.implicits._
    val catRoot = freshRoot()
    val root = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gclc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclc.dir", catRoot)
    try {
      Seq((1L, "alpha", 1.0), (2L, "bravo", 2.0)).toDF("id", "v", "p")
        .write.format("graft.commitlog").save(root)
      spark.sql(s"CREATE TABLE gclc.t USING `graft.commitlog` LOCATION '$root'")
      val added = CommitLog.addConstraint(spark, root, "dba", "p_pos", "p > 0.0")
      assert(added.action == "constraint-add" && added.rowInvisible,
        "adding a constraint is audited, row-invisible metadata")
      assert(CommitLog.latest(spark, root).get.constraints ==
        Seq("p_pos" -> "p > 0.0"),
        "the constraint round-trips through the commit JSON")
      // adding a constraint EXISTING data violates is refused
      intercept[IllegalArgumentException] {
        CommitLog.addConstraint(spark, root, "dba", "vlong", "length(v) > 5")
      }
      // duplicate names refused
      intercept[IllegalArgumentException] {
        CommitLog.addConstraint(spark, root, "dba", "p_pos", "p > 1.0")
      }
      def rejected(what: String)(op: => Unit): Unit = {
        val v0 = CommitLog.latest(spark, root).get.version
        val e = intercept[Exception] { op }
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: chain(t.getCause)
        // two legitimate gates: the verbs' own pre-staging check
        // ("CHECK constraint 'p_pos' …"), and — on catalog INSERTs,
        // since the table REPORTS its constraints through the DSv2 API —
        // Spark's engine-level CHECK_CONSTRAINT_VIOLATION
        assert(chain(e).exists(t => Option(t.getMessage).exists(m =>
          m.contains("p_pos") && m.contains("CHECK"))),
          s"$what must fail the constraint, got: ${e.getMessage}")
        assert(CommitLog.latest(spark, root).get.version == v0,
          s"$what must have committed NOTHING")
      }
      val bad = Seq((9L, "zulu", -5.0)).toDF("id", "v", "p")
      rejected("library append") {
        CommitLog.commitAppend(spark, root, "w", "append")(bad) }
      rejected("idempotent append") {
        CommitLog.commitAppendOnce(spark, root, "w", "append",
          appId = "capp", batchId = 99L)(bad) }
      rejected("connector df.write") {
        bad.write.format("graft.commitlog").mode("append").save(root) }
      rejected("INSERT INTO") {
        spark.sql("INSERT INTO gclc.t VALUES (9, 'zulu', -5.0)") }
      rejected("full rewrite") {
        CommitLog.commit(spark, root, "w", "rewrite") { cur =>
          cur.get.withColumn("p", -col("p")) } }
      rejected("SQL UPDATE") {
        spark.sql("UPDATE gclc.t SET p = -p WHERE id = 1") }
      rejected("library merge insert") {
        CommitLog.merge(spark, root, "m", "id", bad) }
      rejected("SQL MERGE insert") {
        bad.createOrReplaceTempView("gclc_bad")
        spark.sql("MERGE INTO gclc.t t USING gclc_bad s ON t.id = s.id " +
          "WHEN NOT MATCHED THEN INSERT *") }
      rejected("replaceWhere") {
        CommitLog.replaceWhere(spark, root, "w", col("id") === 1L,
          Seq((1L, "alpha", -1.0)).toDF("id", "v", "p")) }
      // NULL passes — the SQL CHECK rule (violated means FALSE)
      spark.sql("INSERT INTO gclc.t VALUES (3, 'null-p', NULL)")
      assert(spark.table("gclc.t").count() == 3L,
        "a NULL-evaluating CHECK must accept the row")
      // the constraint SURVIVES append + compact + restore
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((4L, "delta", 4.0)).toDF("id", "v", "p"))
      CommitLog.compact(spark, root, "opt")
      assert(CommitLog.latest(spark, root).get.constraints.nonEmpty,
        "compact must carry constraints")
      rejected("append after compact") {
        CommitLog.commitAppend(spark, root, "w", "append")(bad) }
      CommitLog.restore(spark, root,
        "op", CommitLog.latest(spark, root).get.version - 1)
      assert(CommitLog.latest(spark, root).get.constraints.nonEmpty,
        "restore must carry constraints")
      rejected("append after restore") {
        CommitLog.commitAppend(spark, root, "w", "append")(bad) }
      // history surfaces the constraint set
      assert(CommitLog.history(spark, root)
        .orderBy(col("version").desc).select("constraints")
        .head().getSeq[String](0) == Seq("p_pos"))
      // drop: violating batches land again; unknown drops are loud
      CommitLog.dropConstraint(spark, root, "dba", "p_pos")
      CommitLog.commitAppend(spark, root, "w", "append")(bad)
      assert(spark.table("gclc.t").filter(col("p") < 0).count() == 1L)
      intercept[IllegalArgumentException] {
        CommitLog.dropConstraint(spark, root, "dba", "nope")
      }
      // ---- the SQL DDL face (r14): ALTER TABLE ADD/DROP CONSTRAINT
      // route through the same verbs; constraints surface via the DSv2
      // constraint API ----
      spark.sql("ALTER TABLE gclc.t ADD CONSTRAINT p_cap CHECK (p < 1000.0)")
      assert(CommitLog.latest(spark, root).get.constraints
        .exists(_._1 == "p_cap"), "DDL-added constraint lands in the log")
      val capped = intercept[Exception] {
        spark.sql("INSERT INTO gclc.t VALUES (10, 'big', 5000.0)")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(capped).exists(_.contains("p_cap")),
        s"DDL constraint must enforce on INSERT: ${capped.getMessage}")
      spark.sql("ALTER TABLE gclc.t DROP CONSTRAINT p_cap")
      assert(!CommitLog.latest(spark, root).get.constraints
        .exists(_._1 == "p_cap"))
      // IF EXISTS on a missing name no-ops; plain drop is loud
      spark.sql("ALTER TABLE gclc.t DROP CONSTRAINT IF EXISTS nope2")
      intercept[Exception] {
        spark.sql("ALTER TABLE gclc.t DROP CONSTRAINT nope2")
      }
      // ---- ADD COLUMNS: metadata-only additive evolution (r14) ----
      spark.sql("ALTER TABLE gclc.t ADD COLUMNS (note STRING)")
      val evolved = CommitLog.latest(spark, root).get
      assert(evolved.action == "evolve" && evolved.rowInvisible,
        "ADD COLUMNS is an audited metadata commit, no data rewrite")
      assert(spark.table("gclc.t").schema.fieldNames.contains("note"))
      assert(spark.table("gclc.t").filter(col("note").isNotNull).count() == 0L,
        "existing rows read the new column as typed NULL")
      spark.sql("INSERT INTO gclc.t VALUES (20, 'post', 1.0, 'noted')")
      assert(spark.table("gclc.t").filter(col("note") === "noted").count() == 1L)
      // ---- constraints declared AT CREATE TABLE (r14): recorded before
      // any data exists; the first violating INSERT is rejected ----
      val root2 = freshRoot() + "/t2"
      spark.sql("CREATE TABLE gclc.t2 (id BIGINT, q DOUBLE, " +
        "CONSTRAINT q_pos CHECK (q > 0.0)) " +
        s"USING `graft.commitlog` LOCATION '$root2'")
      assert(CommitLog.latest(spark, root2).get.constraints ==
        Seq("q_pos" -> "q > 0.0"),
        "CREATE-declared constraints land in the log before any data")
      val bad2 = intercept[Exception] {
        spark.sql("INSERT INTO gclc.t2 VALUES (1, -2.0)")
      }
      assert(msgs(bad2).exists(m => m.contains("q_pos") && m.contains("CHECK")),
        s"CREATE-declared constraint must enforce: ${bad2.getMessage}")
      spark.sql("INSERT INTO gclc.t2 VALUES (1, 2.0)")
      assert(rows(spark.table("gclc.t2"))  == Seq(Seq(1L, 2.0)))
      spark.sql("DROP TABLE gclc.t2")
      // a REFUSED create leaves no phantom descriptor (code review r14
      // close): the corrected retry must not hit TableAlreadyExists
      val root3 = freshRoot() + "/t3"
      intercept[Exception] {
        spark.sql("CREATE TABLE gclc.t3 (id BIGINT, " +
          "CONSTRAINT c3 CHECK (id > 0) NOT ENFORCED) " +
          s"USING `graft.commitlog` LOCATION '$root3'")
      }
      spark.sql("CREATE TABLE gclc.t3 (id BIGINT) " +
        s"USING `graft.commitlog` LOCATION '$root3'")
      assert(spark.table("gclc.t3").count() == 0L)
      // ALTER on a SQL-created, never-inserted table works: the metadata
      // verbs bootstrap the same empty create commit CREATE-with-CHECK
      // materializes (code review r14 close)
      spark.sql("ALTER TABLE gclc.t3 ADD CONSTRAINT id_pos CHECK (id > 0)")
      intercept[Exception] { spark.sql("INSERT INTO gclc.t3 VALUES (-1)") }
      // a multi-column ADD COLUMNS is ONE evolution commit — a failing
      // statement can never leave half its columns behind
      val vPre = CommitLog.latest(spark, root3).get.version
      spark.sql("ALTER TABLE gclc.t3 ADD COLUMNS (a INT, b STRING)")
      assert(CommitLog.latest(spark, root3).get.version == vPre + 1,
        "two added columns must land as one metadata commit")
      assert(spark.table("gclc.t3").schema.fieldNames.toSeq ==
        Seq("id", "a", "b"))
      spark.sql("DROP TABLE gclc.t3")
      // ALTER on a nonexistent table reports table-not-found, not a
      // misleading fixed-schema error
      val gone2 = intercept[Exception] {
        spark.sql("ALTER TABLE gclc.nope ADD COLUMNS (x INT)")
      }
      assert(msgs(gone2).exists(m => m.contains("not be found") ||
        m.contains("NoSuchTable") || m.contains("TABLE_OR_VIEW_NOT_FOUND")),
        s"expected table-not-found, got: ${gone2.getMessage}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gclc.t")
      spark.conf.unset("spark.sql.catalog.gclc")
      spark.conf.unset("spark.sql.catalog.gclc.dir")
    }
  }

  test("SQL MERGE INTO is claim-JSON shape-identical to CommitLog.merge; SQL UPDATE prunes dirs and keeps NULL rows") {
    import spark.implicits._
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gclr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclr.dir", catRoot)
    try {
      // ---- twin histories: library route vs statement route ----
      def seed(root: String): Unit = {
        CommitLog.commit(spark, root, "w", "create",
          statsCol = Some("id")) { _ =>
          Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "p") }
        CommitLog.commitAppend(spark, root, "w", "append",
          statsCol = Some("id"))(
          Seq((10L, "x", 10.0), (11L, "y", 11.0)).toDF("id", "v", "p"))
      }
      val rootL = freshRoot(); seed(rootL)
      val rootS = freshRoot() + "/t"; seed(rootS)
      spark.sql(s"CREATE TABLE gclr.t USING `graft.commitlog` LOCATION '$rootS'")
      // library merge: update key 1, insert key 3 (a low-range changeset —
      // the high-range dir must carry untouched in BOTH routes)
      CommitLog.merge(spark, rootL, "catalog", "id",
        Seq((1L, "A", 9.0), (3L, "c", 3.0)).toDF("id", "v", "p"))
      // statement merge: the same changeset through MERGE INTO
      Seq((1L, "A", 9.0), (3L, "c", 3.0)).toDF("id", "v", "p")
        .createOrReplaceTempView("gclr_src")
      spark.sql("MERGE INTO gclr.t t USING gclr_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      // THE r13 write-path proof applied to MERGE (VERDICT r13 #1's
      // done-when): same field set, same order, same action verb, same
      // stats shape — the statement routes THROUGH CommitLog.merge
      assert(normalizeJson(commitJson(rootS, 3L)) ==
        normalizeJson(commitJson(rootL, 3L)),
        s"statement merge claim must be shape-identical to the library " +
          s"merge:\n${commitJson(rootS, 3L)}\nvs\n${commitJson(rootL, 3L)}")
      assert(rows(spark.table("gclr.t").orderBy("id")) ==
        rows(CommitLog.readLatest(spark, rootL).get.orderBy("id")))
      // dir-carry through the STATEMENT: the (10,11) dir of the seed is
      // still referenced (stats proved it key-disjoint from the changeset)
      val seedHigh = CommitLog.commitAt(spark, rootS, 2L).get.dataDirs.last
      val merged = CommitLog.latest(spark, rootS).get
      assert(merged.dataDirs.contains(seedHigh),
        "the statement merge must carry the evidence-excluded dir")
      assert(merged.stats.get(seedHigh) ==
        CommitLog.commitAt(spark, rootS, 2L).get.stats.get(seedHigh),
        "carried dirs keep their recorded stats through SQL MERGE")
      // the merge's CDF changeset exists on the statement route too
      assert(CommitLog.changesSince(spark, rootS, 2L).isDefined,
        "SQL MERGE must persist its change feed like the library merge")
      // ---- SQL UPDATE: dir pruning + NULL semantics ----
      spark.sql("INSERT INTO gclr.t VALUES (NULL, 'n', 0.0)")
      val preUpdate = CommitLog.latest(spark, rootS).get
      spark.sql("UPDATE gclr.t SET p = p + 100.0 WHERE id >= 10")
      val upd = CommitLog.latest(spark, rootS).get
      assert(upd.action == "update" && upd.writer == "catalog")
      // rows: only ids >= 10 changed; the NULL-id row (predicate NULL)
      // and low ids keep their values
      val got = spark.table("gclr.t").collect()
        .map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2))).toSet
      assert(got == Set((Some(1L), "A", 9.0), (Some(2L), "b", 2.0),
        (Some(3L), "c", 3.0), (Some(10L), "x", 110.0),
        (Some(11L), "y", 111.0), (None, "n", 0.0)),
        s"UPDATE must change exactly the TRUE-predicate rows: $got")
      // evidence pruning: dirs whose recorded id stats exclude [10, ∞)
      // carry byte-identical through the statement
      val carried = preUpdate.dataDirs.toSet.intersect(upd.dataDirs.toSet)
      assert(carried.nonEmpty,
        s"UPDATE must carry evidence-excluded dirs: pre=${preUpdate.dataDirs} post=${upd.dataDirs}")
      // history intact + travelable
      assert(CommitLog.readVersion(spark, rootS, 3L).get.count() == 5L)
      // ---- refusals: loud, at planning, nothing committed ----
      val vBefore = CommitLog.latest(spark, rootS).get.version
      def refused(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { spark.sql(sql) }
        assert(e.getMessage.contains(needle),
          s"expected refusal containing '$needle', got: ${e.getMessage}")
      }
      refused("MERGE INTO gclr.t t USING gclr_src s ON t.id > s.id " +
        "WHEN MATCHED THEN DELETE", "one equality")
      refused("MERGE INTO gclr.t t USING gclr_src s " +
        "ON t.id = s.id OR t.v = s.v WHEN MATCHED THEN DELETE",
        "one equality")
      assert(CommitLog.latest(spark, rootS).get.version == vBefore,
        "refused statements must not have committed anything")
      // MERGE cardinality (r15): duplicate source keys taking a matched
      // UPDATE fail the statement's cardinality check, loudly — the
      // verb's relaxed multi-insert rule no longer implies it
      Seq((1L, "dup1", 1.0), (1L, "dup2", 2.0)).toDF("id", "v", "p")
        .createOrReplaceTempView("gclr_dup")
      val card = intercept[Exception] {
        spark.sql("MERGE INTO gclr.t t USING gclr_dup s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET *")
      }
      assert(card.getMessage.contains("cardinality"),
        s"duplicate merge keys must fail the cardinality check: ${card.getMessage}")
      // duplicate source keys that are all NOT MATCHED inserts are the
      // standard SQL multi-insert (r15, ADVICE r14): each row lands
      spark.sql("MERGE INTO gclr.t t USING gclr_dup s ON t.id = s.id + 500 " +
        "WHEN NOT MATCHED THEN INSERT (id, v, p) VALUES (s.id + 500, s.v, s.p)")
      val multi = spark.table("gclr.t").filter(col("id") === 501L).collect()
      assert(multi.length == 2,
        s"duplicate NOT MATCHED source rows must each insert: ${multi.toSeq}")
      spark.sql("DELETE FROM gclr.t WHERE id = 501")
      // delete+insert combo with an UNMATCHED source key (code review
      // r14): the delete piece must carry matched keys only, or the
      // unmatched key appears both flagged and as an insert and the
      // cardinality check rejects a valid statement
      Seq((3L, "repl", 30.0), (77L, "new", 7.0)).toDF("id", "v", "p")
        .createOrReplaceTempView("gclr_di")
      spark.sql("MERGE INTO gclr.t t USING gclr_di s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *")
      val afterDI = spark.table("gclr.t").collect()
        .map(r => Option(r.get(0))).toSet
      assert(afterDI == Set(Some(1L), Some(2L), Some(10L), Some(11L),
        Some(77L), None),
        s"matched key 3 deletes, unmatched 77 inserts: $afterDI")
      // reassigning the ON key in SET is refused (code review r14): the
      // verb keys replacement by that column, so a non-identity key
      // assignment would strand the old row and upsert a new key
      refused("MERGE INTO gclr.t t USING gclr_di s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET id = s.id + 1, v = s.v, p = s.p",
        "reassign the ON key")
      // CONDITIONAL clauses, first-match-wins (r14 close): a matched row
      // takes the FIRST clause whose predicate is TRUE; rows no clause
      // fires for stay untouched. State here: {1,2,10,11,77,null};
      // source gclr_src = (1,'A',9.0),(3,'c',3.0) — only key 1 matches
      spark.sql("MERGE INTO gclr.t t USING gclr_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.p > 100 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET p = t.p + s.p " +
        "WHEN NOT MATCHED AND s.p > 5 THEN INSERT *")
      // key 1: s.p=9 not >100 → second clause updates p = 9.0+9.0;
      // key 3 unmatched, s.p=3 not >5 → NOT inserted
      val afterCond = spark.table("gclr.t").collect()
        .map(r => (Option(r.get(0)), r.getDouble(2))).toMap
      assert(afterCond(Some(1L)) == 18.0,
        s"first-match-wins: the conditional DELETE must not fire: $afterCond")
      assert(!afterCond.contains(Some(3L)),
        "a conditional INSERT whose predicate is false must not insert")
      // and the conditional DELETE fires when its predicate holds
      spark.sql("MERGE INTO gclr.t t USING gclr_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.p > 5 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET p = t.p + 1000.0")
      assert(!spark.table("gclr.t").collect()
        .exists(r => Option(r.get(0)).contains(1L)),
        "the conditional DELETE fires for s.p = 9 > 5")
      // matched-only MERGE into an EMPTY table is a valid SQL no-op
      // (nothing can match) — no commit, no error (code review r14 close)
      val emptyRoot = freshRoot() + "/empty"
      spark.sql("CREATE TABLE gclr.empty (id BIGINT, v STRING, p DOUBLE) " +
        s"USING `graft.commitlog` LOCATION '$emptyRoot'")
      spark.sql("MERGE INTO gclr.empty t USING gclr_src s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      assert(CommitLog.latest(spark, emptyRoot).isEmpty &&
        spark.table("gclr.empty").count() == 0L,
        "matched-only MERGE into an empty table must no-op")
      spark.sql("DROP TABLE gclr.empty")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gclr.t")
      spark.conf.unset("spark.sql.catalog.gclr")
      spark.conf.unset("spark.sql.catalog.gclr.dir")
    }
  }

  test("r15 MERGE surface: NOT MATCHED BY SOURCE, composite ON keys, nested-field UPDATE SET, WITH SCHEMA EVOLUTION") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gcln", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcln.dir", catRoot)
    try {
      // ---- NOT MATCHED BY SOURCE: delete + conditional update chain ----
      val rootN = freshRoot() + "/n"
      CommitLog.commit(spark, rootN, "w", "create", statsCol = Some("id")) { _ =>
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
          (10L, "x", 10.0), (11L, "y", 11.0)).toDF("id", "v", "p") }
      spark.sql(s"CREATE TABLE gcln.t USING `graft.commitlog` LOCATION '$rootN'")
      Seq((1L, "A", 9.0), (20L, "new", 20.0)).toDF("id", "v", "p")
        .createOrReplaceTempView("gcln_src")
      spark.sql("MERGE INTO gcln.t t USING gcln_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE AND t.id >= 10 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.v = 'b' THEN UPDATE SET p = t.p + 100.0")
      // 1 matched→9.0; 20 inserted; 10,11 NMBS-deleted; 2 NMBS-updated
      // (second clause — first didn't fire); 3 no clause fires → untouched
      assert(rows(spark.table("gcln.t").orderBy("id")) == Seq(
        Seq(1L, "A", 9.0), Seq(2L, "b", 102.0), Seq(3L, "c", 3.0),
        Seq(20L, "new", 20.0)))
      assert(CommitLog.latest(spark, rootN).get.action == "merge" &&
        CommitLog.latest(spark, rootN).get.writer == "catalog")
      // NMBS conditions may reference the TARGET only (the SQL rule)
      val nmbsScope = intercept[Exception] {
        spark.sql("MERGE INTO gcln.t t USING gcln_src s ON t.id = s.id " +
          "WHEN NOT MATCHED BY SOURCE AND s.p > 0 THEN DELETE")
      }
      assert(nmbsScope.getMessage.contains("scope") ||
        nmbsScope.getMessage.toLowerCase.contains("resolve"),
        s"NMBS source reference must refuse: ${nmbsScope.getMessage}")

      // ---- composite ON keys: tuple-keyed changeset + dir carry ----
      val rootC = freshRoot() + "/c"
      CommitLog.commit(spark, rootC, "w", "create", statsCol = Some("k1")) { _ =>
        Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0))
          .toDF("k1", "k2", "total") }
      CommitLog.commitAppend(spark, rootC, "w", "append", statsCol = Some("k1"))(
        Seq((100L, "x", 100.0)).toDF("k1", "k2", "total"))
      spark.sql(s"CREATE TABLE gcln.c USING `graft.commitlog` LOCATION '$rootC'")
      Seq((1L, "x", 11.0), (3L, "z", 30.0)).toDF("k1", "k2", "total")
        .createOrReplaceTempView("gcln_csrc")
      spark.sql("MERGE INTO gcln.c t USING gcln_csrc s " +
        "ON t.k1 = s.k1 AND t.k2 = s.k2 " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      // (1,x) updated; (1,y) and (2,x) untouched (tuple key, not k1
      // alone — a single-column key would have clobbered (1,y))
      assert(rows(spark.table("gcln.c").orderBy("k1", "k2")) == Seq(
        Seq(1L, "x", 11.0), Seq(1L, "y", 2.0), Seq(2L, "x", 3.0),
        Seq(3L, "z", 30.0), Seq(100L, "x", 100.0)))
      // the k1=100 dir carried untouched: per-column stats evidence on
      // k1 proves it disjoint from the changeset's k1 range — one
      // provably-absent component prunes the dir (composed evidence)
      val cHead = CommitLog.latest(spark, rootC).get
      val seedHigh = CommitLog.commitAt(spark, rootC, 2L).get.dataDirs.last
      assert(cHead.dataDirs.contains(seedHigh),
        s"composite merge must carry the evidence-excluded dir: ${cHead.dataDirs}")
      // tuple-duplicate changeset rows carrying a delete flag refuse
      // even under the multi-insert opt-in (ambiguous: delete, replace,
      // or both?); without the opt-in the plain one-row rule refuses
      val badDel = intercept[Exception] {
        CommitLog.mergeOn(spark, rootC, "w", Seq("k1", "k2"),
          Seq((1L, "x", 0.0, true), (1L, "x", 1.0, false))
            .toDF("k1", "k2", "total", "del"), deleteCol = Some("del"),
          multiInsertKeys = true)
      }
      assert(badDel.getMessage.contains("all-insert"), badDel.getMessage)
      val badDup = intercept[Exception] {
        CommitLog.mergeOn(spark, rootC, "w", Seq("k1", "k2"),
          Seq((1L, "x", 0.0), (1L, "x", 1.0)).toDF("k1", "k2", "total"))
      }
      assert(badDup.getMessage.contains("one row per"), badDup.getMessage)
      // reassigning ANY ON key column refuses (per-column check)
      val reassign = intercept[Exception] {
        spark.sql("MERGE INTO gcln.c t USING gcln_csrc s " +
          "ON t.k1 = s.k1 AND t.k2 = s.k2 " +
          "WHEN MATCHED THEN UPDATE SET k2 = 'w', total = s.total")
      }
      assert(reassign.getMessage.contains("reassign the ON key"),
        reassign.getMessage)

      // ---- nested-field UPDATE SET (withField compilation) ----
      val rootS2 = freshRoot() + "/s"
      val base = Seq((1L, "open", 10.0), (2L, "closed", 20.0),
        (3L, "open", 30.0)).toDF("id", "st", "pr")
        .select(col("id"),
          struct(col("st").as("status"), col("pr").as("price")).as("info"))
      val withNull = base.union(
        Seq(4L).toDF("id").select(col("id"),
          lit(null).cast("struct<status:string,price:double>").as("info")))
      CommitLog.commit(spark, rootS2, "w", "create") { _ => withNull }
      spark.sql(s"CREATE TABLE gcln.s USING `graft.commitlog` LOCATION '$rootS2'")
      spark.sql("UPDATE gcln.s SET info.price = info.price * 2.0 " +
        "WHERE id != 2")
      val got = spark.table("gcln.s").orderBy("id").collect().map { r =>
        val info = r.getStruct(1)
        (r.getLong(0), Option(info).map(i =>
          (i.getString(0), i.getDouble(1))))
      }.toSeq
      // sibling field `status` carried; id=2 (predicate false) untouched;
      // id=4's NULL struct stays NULL (the withField rule — documented)
      assert(got == Seq(
        (1L, Some(("open", 20.0))), (2L, Some(("closed", 20.0))),
        (3L, Some(("open", 60.0))), (4L, None)), got.toString)
      // overlapping assignment targets are order-ambiguous — refused
      val overlap = intercept[Exception] {
        spark.sql("UPDATE gcln.s SET info = named_struct('status', 'x', " +
          "'price', 0.0), info.price = 1.0")
      }
      assert(overlap.getMessage.contains("order-ambiguous") ||
        overlap.getMessage.toLowerCase.contains("conflict"),
        overlap.getMessage)
      // the same overlap refusal guards MERGE UPDATE SET (code review
      // r15: without it the whole-column branch silently dropped the
      // field assignment)
      spark.table("gcln.s").limit(1).createOrReplaceTempView("gcln_ssrc")
      val mOverlap = intercept[Exception] {
        spark.sql("MERGE INTO gcln.s t USING gcln_ssrc s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET info = s.info, info.price = 1.0")
      }
      assert(mOverlap.getMessage.contains("order-ambiguous"),
        mOverlap.getMessage)

      // ---- matched-DELETE cardinality (ADVICE r15, superseding the
      // r15 'deleting twice is deleting' relaxation): TWO distinct
      // source rows deleting one target key is the SQL/Delta MERGE
      // cardinality violation — refused loudly, whether the rows fire
      // one DELETE clause or split across two. ONE source row deleting
      // a stored-DUPLICATE target key stays legal (several identical
      // joined rows, one source identity): each target row is touched
      // by at most one source row, the standard's actual rule. ----
      val rootD = freshRoot() + "/d"
      CommitLog.commit(spark, rootD, "w", "create") { _ =>
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (3L, 3.5)).toDF("id", "p") }
      spark.sql(s"CREATE TABLE gcln.d USING `graft.commitlog` LOCATION '$rootD'")
      Seq((1L, 1.0), (1L, 99.0)).toDF("id", "p")
        .createOrReplaceTempView("gcln_dsrc")
      val delCard = intercept[Exception] {
        spark.sql("MERGE INTO gcln.d t USING gcln_dsrc s ON t.id = s.id " +
          "WHEN MATCHED AND s.p > 50 THEN DELETE " +
          "WHEN MATCHED THEN DELETE")
      }
      assert(delCard.getMessage.contains("cardinality"),
        s"two source rows deleting one key must violate: ${delCard.getMessage}")
      assert(rows(spark.table("gcln.d")).size == 4,
        "a refused MERGE must not have deleted anything")
      // one source row, stored-duplicate key 3: both stored copies go
      Seq((3L, 0.0)).toDF("id", "p").createOrReplaceTempView("gcln_dsrc1")
      spark.sql("MERGE INTO gcln.d t USING gcln_dsrc1 s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      assert(rows(spark.table("gcln.d").orderBy("id")) ==
        Seq(Seq(1L, 1.0), Seq(2L, 2.0)),
        "one source row deleting a stored-duplicate key is legal and " +
          "removes every stored copy")
      spark.sql("DROP TABLE gcln.d")

      // ---- MERGE WITH SCHEMA EVOLUTION: evolve + merge, two commits ----
      val rootE = freshRoot() + "/e"
      CommitLog.commit(spark, rootE, "w", "create") { _ =>
        Seq((1L, 1.0), (2L, 2.0)).toDF("id", "p") }
      spark.sql(s"CREATE TABLE gcln.e USING `graft.commitlog` LOCATION '$rootE'")
      Seq((1L, 9.0, "n1"), (5L, 50.0, "n5")).toDF("id", "p", "note")
        .createOrReplaceTempView("gcln_esrc")
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO gcln.e t " +
        "USING gcln_esrc s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      // ONE commit (r16 — VERDICT r15 #4 / ADVICE r15): the analyzer's
      // widening is STAGED (GraftCatalog.pendingEvolve) and the merge
      // execution FOLDS it into its single row-visible commit — the
      // Delta single-transaction shape; no separate evolve commit exists
      val hist = CommitLog.history(spark, rootE).orderBy("version")
        .collect().map(r => r.getString(3)).toSeq
      assert(hist == Seq("create", "merge"), hist.toString)
      // old-dir rows read the evolved column as typed NULL; matched and
      // inserted rows carry it
      val eGot = spark.table("gcln.e").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          Option(r.getString(2)))).toSeq
      assert(eGot == Seq((1L, 9.0, Some("n1")), (2L, 2.0, None),
        (5L, 50.0, Some("n5"))), eGot.toString)
      // an only-EXPLAINed evolution statement leaves NO commit and NO
      // schema change — analysis stages, execution commits (r16: the
      // pre-r16 analyzer-commits shape widened on EXPLAIN)
      val vBeforeExplain = CommitLog.latest(spark, rootE).get.version
      Seq((1L, 9.0, "n", 1L)).toDF("id", "p", "note", "extra")
        .createOrReplaceTempView("gcln_esrc2")
      spark.sql("EXPLAIN MERGE WITH SCHEMA EVOLUTION INTO gcln.e t " +
        "USING gcln_esrc2 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(CommitLog.latest(spark, rootE).get.version == vBeforeExplain,
        "EXPLAIN must not commit anything")
      assert(!spark.table("gcln.e").schema.fieldNames.contains("extra"),
        "EXPLAIN must not widen the visible schema")
      // the staged-but-unexecuted widening must not leak into an
      // ordinary read OR a later evolution-free merge on the table
      Seq((2L, 4.0, "m2")).toDF("id", "p", "note")
        .createOrReplaceTempView("gcln_esrc3")
      spark.sql("MERGE INTO gcln.e t USING gcln_esrc3 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET *")
      assert(!spark.table("gcln.e").schema.fieldNames.contains("extra"))
      assert(spark.table("gcln.e").filter(col("id") === 2L)
        .select("p").head().getDouble(0) == 4.0)
      // and EXECUTING the evolution now lands extra in ONE merge commit
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO gcln.e t " +
        "USING gcln_esrc2 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val hist2 = CommitLog.history(spark, rootE).orderBy("version")
        .collect().map(r => r.getString(3)).toSeq
      assert(hist2 == Seq("create", "merge", "merge", "merge"),
        hist2.toString)
      assert(spark.table("gcln.e").filter(col("id") === 1L)
        .select("extra").head().getLong(0) == 1L,
        "the executed evolution lands the new column's values")

      // ---- NMBS UPDATE over STORED-duplicate keys (the documented
      // benign case): target-only assignments produce identical updated
      // rows per copy, and the multi-insert replace puts the duplicates
      // back themselves-updated — count preserved, the SQL semantics ----
      val rootDup = freshRoot() + "/dup"
      CommitLog.commit(spark, rootDup, "w", "create") { _ =>
        Seq((1L, 1.0), (1L, 1.0), (2L, 2.0)).toDF("id", "p") }
      spark.sql(s"CREATE TABLE gcln.dup USING `graft.commitlog` LOCATION '$rootDup'")
      Seq((9L, 0.0)).toDF("id", "p").createOrReplaceTempView("gcln_dupsrc")
      spark.sql("MERGE INTO gcln.dup t USING gcln_dupsrc s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE AND t.id = 1 " +
        "THEN UPDATE SET p = t.p + 10.0")
      assert(rows(spark.table("gcln.dup").orderBy("id", "p")) ==
        Seq(Seq(1L, 11.0), Seq(1L, 11.0), Seq(2L, 2.0)),
        "stored duplicates must each update, count preserved")
      spark.sql("DROP TABLE gcln.dup")
      spark.sql("DROP TABLE gcln.t")
      spark.sql("DROP TABLE gcln.c")
      spark.sql("DROP TABLE gcln.s")
      spark.sql("DROP TABLE gcln.e")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcln.t")
      spark.conf.unset("spark.sql.catalog.gcln")
      spark.conf.unset("spark.sql.catalog.gcln.dir")
    }
  }

  test("composite-key merge composes BLOOM evidence: one provably-absent key component prunes the dir") {
    import spark.implicits._
    val root = freshRoot()
    // two dirs with disjoint k1 populations; k2 (a string) carries no
    // evidence of its own — pruning must come from k1's bloom alone
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k1", "k2", "v") }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((100L, "x", 100.0), (101L, "y", 101.0)).toDF("k1", "k2", "v"))
    assert(CommitLog.addBloom(spark, root, "k1", 0.001) == 2)
    val pre = CommitLog.latest(spark, root).get
    CommitLog.mergeOn(spark, root, "m", Seq("k1", "k2"),
      Seq((2L, "y", 99.0)).toDF("k1", "k2", "v"))
    val post = CommitLog.latest(spark, root).get
    // the k1∈{100,101} dir: its bloom definitely excludes k1=2, so the
    // composed per-column decision prunes it — carried byte-identical
    val highDir = pre.dataDirs.last
    assert(post.dataDirs.contains(highDir),
      s"bloom evidence on ONE key component must prune: pre=${pre.dataDirs} post=${post.dataDirs}")
    assert(!post.dataDirs.contains(pre.dataDirs.head),
      "the dir that might contain the key tuple must be rewritten")
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("k1")) ==
      Seq(Seq(1L, "x", 1.0), Seq(2L, "y", 99.0),
        Seq(100L, "x", 100.0), Seq(101L, "y", 101.0)))
  }

  test("SQL INSERT INTO … REPLACE WHERE routes through CommitLog.replaceWhere; row-level subqueries refuse") {
    import spark.implicits._
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gclo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclo.dir", catRoot)
    try {
      val root = freshRoot() + "/t"
      CommitLog.commit(spark, root, "w", "create", statsCol = Some("grp")) { _ =>
        Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)).toDF("id", "v", "grp") }
      spark.sql(s"CREATE TABLE gclo.t USING `graft.commitlog` LOCATION '$root'")
      // the statement face of the r13 partial-overwrite verb: restate
      // EXACTLY the grp=2 region; kept rows untouched, action audited
      spark.sql("INSERT INTO gclo.t REPLACE WHERE grp = 2 " +
        "SELECT CAST(30 AS BIGINT), 'C', CAST(2 AS BIGINT)")
      assert(rows(spark.table("gclo.t").orderBy("id")) ==
        Seq(Seq(1L, "a", 1L), Seq(2L, "b", 1L), Seq(30L, "C", 2L)))
      assert(CommitLog.latest(spark, root).get.action == "replace" &&
        CommitLog.latest(spark, root).get.writer == "catalog",
        "the statement must route through CommitLog.replaceWhere")
      // the r13 write-path proof applied to REPLACE WHERE: the statement
      // claim is shape-identical to the library verb's (one engine)
      val rootL = freshRoot() + "/twin"
      CommitLog.commit(spark, rootL, "w", "create", statsCol = Some("grp")) { _ =>
        Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)).toDF("id", "v", "grp") }
      CommitLog.replaceWhere(spark, rootL, "catalog", col("grp") === 2,
        Seq((30L, "C", 2L)).toDF("id", "v", "grp"))
      assert(normalizeJson(commitJson(root, 2L)) ==
        normalizeJson(commitJson(rootL, 2L)),
        s"statement replace claim must be shape-identical to the library " +
          s"verb's:\n${commitJson(root, 2L)}\nvs\n${commitJson(rootL, 2L)}")
      // Delta's constraint holds on the statement: an incoming row
      // OUTSIDE the claimed region fails the verb, nothing commits
      val vBefore = CommitLog.latest(spark, root).get.version
      intercept[IllegalArgumentException] {
        spark.sql("INSERT INTO gclo.t REPLACE WHERE grp = 2 " +
          "SELECT CAST(9 AS BIGINT), 'x', CAST(1 AS BIGINT)")
      }
      assert(CommitLog.latest(spark, root).get.version == vBefore)
      // a predicate the filter translator cannot express refuses at
      // planning (canOverwrite gate) — never a silently-wider overwrite
      val nope = intercept[Exception] {
        spark.sql("INSERT INTO gclo.t REPLACE WHERE grp % 2 = 0 " +
          "SELECT CAST(40 AS BIGINT), 'D', CAST(2 AS BIGINT)")
      }
      assert(nope.getMessage.toLowerCase.contains("overwrite") ||
        nope.getMessage.toLowerCase.contains("replace"),
        nope.getMessage)
      // DELETE with an ARBITRARY (filter-untranslatable) predicate
      // routes through the strategy onto CommitLog.delete (r15): `%`
      // arithmetic has no source Filter, so the SupportsDelete face
      // alone refused this statement at analysis before
      spark.sql("DELETE FROM gclo.t WHERE id % 2 = 0")
      assert(rows(spark.table("gclo.t").orderBy("id")) ==
        Seq(Seq(1L, "a", 1L)),
        "DELETE must remove exactly the TRUE-predicate rows (2 and 30)")
      assert(CommitLog.latest(spark, root).get.action == "delete" &&
        CommitLog.latest(spark, root).get.writer == "catalog")
      // subqueries in row-level statements refuse at planning (code
      // review r15: the verbs re-bind expressions against their own head
      // read, where a statement-bound subplan would dangle)
      val sub = intercept[Exception] {
        spark.sql("UPDATE gclo.t SET v = 'z' " +
          "WHERE id IN (SELECT id FROM gclo.t WHERE grp = 2)")
      }
      assert(sub.getMessage.contains("subquery"), sub.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gclo.t")
      spark.conf.unset("spark.sql.catalog.gclo")
      spark.conf.unset("spark.sql.catalog.gclo.dir")
    }
  }

  test("time travel by table NAME: VERSION AS OF / TIMESTAMP AS OF statements, reader options on .table, named CDF") {
    import spark.implicits._
    val catRoot = freshRoot()
    val root = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gclv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclv.dir", catRoot)
    try {
      CommitLog.commit(spark, root, "w", "create") { _ =>
        Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      Thread.sleep(20L)
      CommitLog.commit(spark, root, "w", "adjust") { cur =>
        cur.get.withColumn("v",
          when(col("id") === 1L, lit("A")).otherwise(col("v"))) }
      Thread.sleep(20L)
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((3L, "c")).toDF("id", "v"))
      spark.sql(s"CREATE TABLE gclv.t USING `graft.commitlog` LOCATION '$root'")
      // the STATEMENT resolves through loadTable(ident, version) and
      // row-equals the path-options route (VERDICT r13 #2's done-when)
      val stmt = spark.sql("SELECT * FROM gclv.t VERSION AS OF 2 ORDER BY id")
      val opts = spark.read.format("graft.commitlog")
        .option("versionAsOf", "2").load(root).orderBy("id")
      assert(rows(stmt) == rows(opts) &&
        rows(stmt) == Seq(Seq(1L, "A"), Seq(2L, "b")))
      // reader OPTIONS on the named table resolve through the same
      // overload (Spark's RelationResolution fromOptions path)
      assert(rows(spark.read.option("versionAsOf", "2").table("gclv.t")
        .orderBy("id")) == rows(stmt))
      // TIMESTAMP AS OF: v2's own wall-clock resolves TO v2 (at-or-before)
      // through the one monotonized clock; micros→ms is exact
      val t2 = CommitLog.history(spark, root)
        .filter(col("version") === 2).select("ts_ms").head().getLong(0)
      val lit2 = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(t2),
        java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        .toString.replace('T', ' ')
      assert(rows(spark.sql(
        s"SELECT * FROM gclv.t TIMESTAMP AS OF '$lit2' ORDER BY id")) ==
        rows(stmt))
      // un-travelled statement still reads the head
      assert(rows(spark.sql("SELECT * FROM gclv.t ORDER BY id")) ==
        Seq(Seq(1L, "A"), Seq(2L, "b"), Seq(3L, "c")))
      // batch CDF by NAME: the format route resolves gclv.t to the root
      val cdf = spark.read.format("graft.commitlog")
        .option("changesSince", "2").load("gclv.t")
      assert(rows(cdf.select("id", "v", "_change_type", "_commit_version")
        .orderBy("id")) == Seq(Seq(3L, "c", "insert", 3L)))
      // a vacuumed version fails LOUDLY through the statement
      CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
      val gone = intercept[Exception] {
        spark.sql("SELECT * FROM gclv.t VERSION AS OF 2 ORDER BY id").collect()
      }
      assert(gone.getMessage.contains("vacuumed"),
        s"expected the vacuumed-version error, got: ${gone.getMessage}")
      // a name that is NOT a registered graft catalog stays a PATH (the
      // sound-or-None rule): reading it fails as a missing path, and a
      // genuine path containing dots is never hijacked
      intercept[Exception] {
        spark.read.format("graft.commitlog").load("nosuchcat.t")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gclv.t")
      spark.conf.unset("spark.sql.catalog.gclv")
      spark.conf.unset("spark.sql.catalog.gclv.dir")
    }
  }

  test("per-column stats: any recorded column prunes through both routes") {
    import spark.implicits._
    val root = freshRoot()
    // four dirs: a in [k*10, k*10+9], b constant k/2 — recorded as a SET
    (0 to 3).foreach { k =>
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCols = Seq("a", "b"))(
        (k * 10L until k * 10L + 10L).toDF("a")
          .withColumn("b", lit(k / 2).cast("long")))
    }
    val head = CommitLog.latest(spark, root).get
    assert(head.statsCols == Seq("a", "b"))
    head.dataDirs.zipWithIndex.foreach { case (d, k) =>
      assert(head.stats(d) == Map("a" -> (k * 10L, k * 10L + 9L),
        "b" -> ((k / 2).toLong, (k / 2).toLong)))
    }
    // the planning decision itself, per pushed-filter shape (the r12
    // probe pattern: the FileIndex's prunedDirs over the optimized
    // plan's own conjuncts)
    val idx = new graft.sources.CommitLogFileIndex(spark, root, head)
    def planned(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val expr = df.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get
      idx.prunedDirs(splitConj(expr)).toSet
    }
    val conn = spark.read.format("graft.commitlog").load(root)
    // the SECOND column alone prunes (evidence min/max on `a` can't give)
    val byB = conn.filter(col("b") === 1L)
    assert(planned(byB) == Set(head.dataDirs(2), head.dataDirs(3)))
    assert(byB.count() == 20L)
    // both columns narrow; the intersection can prove EMPTINESS
    val both = conn.filter(col("a").between(23L, 27L) && col("b") === 1L)
    assert(planned(both) == Set(head.dataDirs(2)))
    assert(rows(both.orderBy("a")).map(_.head) == (23L to 27L))
    val disjoint = conn.filter(col("a").between(23L, 27L) && col("b") === 0L)
    assert(planned(disjoint).isEmpty,
      "disjoint per-column evidence proves the scan empty")
    assert(disjoint.count() == 0L)
    // the executed plan reads fewer files under the second-column filter
    assert(scannedFiles(byB) < scannedFiles(conn.filter(col("a") >= 0L)),
      "second-column pruning must reach the physical scan")
    // library route agrees (statsKeepDirs is the shared decision)
    assert(CommitLog.statsKeepDirs(head, "b", 1L, 1L) ==
      Seq(head.dataDirs(2), head.dataDirs(3)))
  }

  test("declared CLUSTER BY: CREATE records the spec, argument-less compact maintains it, ALTER re-declares and clears") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gccb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gccb.dir", catRoot)
    try {
      spark.sql("CREATE TABLE gccb.t (id BIGINT, x BIGINT, y BIGINT) " +
        s"USING `graft.commitlog` CLUSTER BY (x, y) LOCATION '$tableRoot'")
      val declared = CommitLog.latest(spark, tableRoot).get
      assert(declared.clusterBy.contains("z:x,y"),
        s"CREATE … CLUSTER BY must record the spec, got ${declared.clusterBy}")
      assert(declared.rowInvisible, "the declaration is metadata-only")
      // DESCRIBE face: the table reports the ClusterByTransform
      val desc = spark.sql("DESCRIBE EXTENDED gccb.t").collect().mkString
      assert(desc.contains("x") && desc.toLowerCase.contains("cluster"),
        s"DESCRIBE must surface the clustering, got:\n$desc")
      // two inserts fragment the head; the spec rides every append
      spark.sql("INSERT INTO gccb.t SELECT id, id % 64, id DIV 64 " +
        "FROM range(0, 2048)")
      spark.sql("INSERT INTO gccb.t SELECT id, id % 64, id DIV 64 " +
        "FROM range(2048, 4096)")
      assert(CommitLog.latest(spark, tableRoot).get.clusterBy
        .contains("z:x,y"), "appends must carry the declared spec")
      // argument-less compact maintains the DECLARED layout
      val c1 = CommitLog.compact(spark, tableRoot, "opt").get
      assert(c1.clusterSpec.contains("z:x,y"),
        s"compact with no columns must default to the declared spec, " +
          s"got ${c1.clusterSpec}")
      assert(spark.table("gccb.t").count() == 4096L)
      // schedulable: a same-spec compact on the quiescent head no-ops
      val c2 = CommitLog.compact(spark, tableRoot, "opt").get
      assert(c2.version == c1.version, "same-spec compact must no-op")
      // the CALL face with no layout arguments takes the same default
      spark.sql("INSERT INTO gccb.t VALUES (9999, 1, 1)")
      spark.sql("CALL gccb.compact('t')")
      assert(CommitLog.latest(spark, tableRoot).get.clusterSpec
        .contains("z:x,y"), "CALL compact() must maintain the declared spec")
      // ALTER re-declares: one column → a range-sort layout
      spark.sql("ALTER TABLE gccb.t CLUSTER BY (id)")
      assert(CommitLog.latest(spark, tableRoot).get.clusterBy
        .contains("sort:id"))
      val c3 = CommitLog.compact(spark, tableRoot, "opt").get
      assert(c3.clusterSpec.contains("sort:id"),
        "a re-declared spec re-clusters even a packed head")
      // CLUSTER BY NONE clears; compact then just bin-packs (no-op here)
      spark.sql("ALTER TABLE gccb.t CLUSTER BY NONE")
      assert(CommitLog.latest(spark, tableRoot).get.clusterBy.isEmpty)
      val c4 = CommitLog.compact(spark, tableRoot, "opt").get
      assert(c4.version == CommitLog.latest(spark, tableRoot).get.version &&
        spark.table("gccb.t").count() == 4097L)
      // a typo'd CLUSTER BY column refuses at CREATE, before the
      // descriptor lands — the corrected retry starts clean
      val badRoot = freshRoot() + "/b"
      CommitLog.commit(spark, badRoot, "w", "create") { _ =>
        Seq((1L, 2L)).toDF("a", "b") }
      val bad = intercept[Exception] {
        spark.sql("CREATE TABLE gccb.bad (a BIGINT, b BIGINT) " +
          s"USING `graft.commitlog` CLUSTER BY (nope) LOCATION '$badRoot'")
      }
      assert(bad.getMessage.contains("nope"), bad.getMessage)
      intercept[Exception] { spark.table("gccb.bad").collect() }
      assert(CommitLog.latest(spark, badRoot).get.clusterBy.isEmpty,
        "a refused CREATE must not leave a declared spec behind")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gccb.t")
      spark.conf.unset("spark.sql.catalog.gccb")
      spark.conf.unset("spark.sql.catalog.gccb.dir")
    }
  }

  test("column mapping: RENAME/DROP COLUMN are metadata-only, re-adds never resurrect, full rewrites materialize") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcmp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmp.dir", catRoot)
    try {
      CommitLog.commitAppend(spark, tableRoot, "w", "append",
        statsCol = Some("id"), createOnEmpty = true)(
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "p"))
      CommitLog.commitAppend(spark, tableRoot, "w", "append",
        statsCol = Some("id"))(
        Seq((3L, "c", 30.0)).toDF("id", "v", "p"))
      spark.sql(s"CREATE TABLE gcmp.t USING `graft.commitlog` LOCATION '$tableRoot'")
      val preDirs = CommitLog.latest(spark, tableRoot).get.dataDirs

      // ---- RENAME: one metadata commit, zero data bytes ----
      spark.sql("ALTER TABLE gcmp.t RENAME COLUMN v TO label")
      val renamed = CommitLog.latest(spark, tableRoot).get
      assert(renamed.dataDirs == preDirs, "RENAME must not touch data dirs")
      assert(renamed.colMap == Map("id" -> "id", "label" -> "v", "p" -> "p"),
        s"activation freezes physicals: ${renamed.colMap}")
      assert(renamed.statsCols == Seq("id") &&
        renamed.stats.values.forall(_.contains("id")),
        "stats re-key under logical names")
      // every route reads the NEW name with the old values
      assert(rows(CommitLog.readLatest(spark, tableRoot).get
        .select("label").orderBy("label")) == Seq(Seq("a"), Seq("b"), Seq("c")))
      assert(spark.table("gcmp.t").schema.fieldNames.toSeq ==
        Seq("id", "label", "p"))
      assert(spark.sql("SELECT label FROM gcmp.t WHERE id = 2")
        .head().getString(0) == "b")
      assert(spark.read.format("graft.commitlog").load(tableRoot)
        .filter(col("label") === "c").count() == 1L)
      // time travel BEFORE the rename shows the OLD name
      assert(spark.sql("SELECT * FROM gcmp.t VERSION AS OF 2")
        .schema.fieldNames.toSeq == Seq("id", "v", "p"))
      // appends after the rename stage under the FROZEN physical name
      spark.sql("INSERT INTO gcmp.t VALUES (4, 'd', 40.0)")
      val afterIns = CommitLog.latest(spark, tableRoot).get
      val newDir = afterIns.dataDirs.filterNot(preDirs.contains).head
      val raw = spark.read.parquet(s"$tableRoot/$newDir")
      assert(raw.schema.fieldNames.toSeq == Seq("id", "v", "p"),
        s"post-rename staging keeps the frozen physical names: ${raw.schema}")
      assert(spark.table("gcmp.t").count() == 4L)
      // row-level verbs ride the mapping (UPDATE the renamed column)
      spark.sql("UPDATE gcmp.t SET label = 'B' WHERE id = 2")
      assert(spark.sql("SELECT label FROM gcmp.t WHERE id = 2")
        .head().getString(0) == "B")
      // incremental consumers resync across the rename
      assert(CommitLog.appendedSince(spark, tableRoot, 2L).isEmpty,
        "a rename breaks append-only incrementality (schema contract)")

      // ---- DROP: metadata-only; re-ADD never resurrects ----
      spark.sql("ALTER TABLE gcmp.t DROP COLUMN p")
      assert(spark.table("gcmp.t").schema.fieldNames.toSeq ==
        Seq("id", "label"))
      spark.sql("ALTER TABLE gcmp.t ADD COLUMNS (p DOUBLE)")
      val readd = CommitLog.latest(spark, tableRoot).get
      assert(readd.colMap("p").startsWith("col-"),
        s"a re-added logical name takes a fresh physical: ${readd.colMap}")
      assert(spark.table("gcmp.t").filter(col("p").isNotNull).count() == 0L,
        "the dropped column's stored bytes must never resurrect")
      // constraints referencing a column block its rename, loudly
      CommitLog.addConstraint(spark, tableRoot, "w", "id_pos", "id > 0")
      val blocked = intercept[Exception] {
        spark.sql("ALTER TABLE gcmp.t RENAME COLUMN id TO ident") }
      assert(blocked.getMessage.contains("id_pos"), blocked.getMessage)

      // ---- compact MATERIALIZES logical names, clears the map ----
      val compacted = CommitLog.compact(spark, tableRoot, "opt").get
      assert(compacted.colMap.isEmpty,
        "a full rewrite materializes the logical names")
      assert(!CommitLog.needsMergeOnRead(compacted))
      val rawAll = spark.read.parquet(
        compacted.dataDirs.map(d => s"$tableRoot/$d"): _*)
      assert(rawAll.schema.fieldNames.toSeq == Seq("id", "label", "p"),
        s"materialized files carry logical names: ${rawAll.schema}")
      assert(spark.table("gcmp.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
      // strict parse: a damaged colMap block makes the commit unreadable
      val root2 = freshRoot() + "/m"
      CommitLog.commit(spark, root2, "w", "create") { _ =>
        Seq((1L, "x")).toDF("id", "v") }
      CommitLog.renameColumn(spark, root2, "w", "v", "w")
      val p2 = java.nio.file.Paths.get(root2, "_commits",
        "v" + "%020d".format(2L) + ".json")
      val damaged = new String(Files.readAllBytes(p2), "UTF-8")
        .replace("\"colMap\":[{\"l\":", "\"colMap\":[{\"L\":")
      Files.write(p2, damaged.getBytes("UTF-8"))
      assert(CommitLog.commitAt(spark, root2, 2L).isEmpty,
        "a commit with a damaged colMap must not parse")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcmp.t")
      spark.conf.unset("spark.sql.catalog.gcmp")
      spark.conf.unset("spark.sql.catalog.gcmp.dir")
    }
  }

  test("ADD COLUMNS DEFAULT: pre-evolution dirs read the constant, new writes store explicit values, every route agrees") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.dir", catRoot)
    try {
      CommitLog.commit(spark, tableRoot, "w", "create") { _ =>
        Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      spark.sql(s"CREATE TABLE gcdf.t USING `graft.commitlog` LOCATION '$tableRoot'")
      // the statement face: ALTER … ADD COLUMNS with DEFAULT
      spark.sql("ALTER TABLE gcdf.t ADD COLUMNS (bonus DOUBLE DEFAULT 1.5)")
      val evolved = CommitLog.latest(spark, tableRoot).get
      assert(evolved.defaults.map(d => (d._1, d._3)) ==
        Seq(("bonus", "1.5")), evolved.defaults.toString)
      // pre-evolution dirs read the EXISTENCE default through all routes
      def bonuses(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(r => Option(r.get(2))).toSeq
      assert(bonuses(CommitLog.readLatest(spark, tableRoot).get) ==
        Seq(Some(1.5), Some(1.5)), "library route")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5)), "catalog route")
      assert(bonuses(spark.read.format("graft.commitlog").load(tableRoot)) ==
        Seq(Some(1.5), Some(1.5)), "connector route")
      // new writes store EXPLICIT values — including explicit NULL,
      // which must stay NULL (existence default ≠ insert default)
      spark.sql("INSERT INTO gcdf.t VALUES (3, 'c', 9.0), (4, 'd', NULL)")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5), Some(9.0), None))
      // a constraint added NOW sees the default on old rows (the
      // enforcement read is the default-applied snapshot)
      CommitLog.addConstraint(spark, tableRoot, "w", "bonus_pos",
        "bonus IS NULL OR bonus > 0")
      // filters/aggregates see the default (pushdown-safe: the MoR
      // relation re-applies everything above the coalesce)
      assert(spark.table("gcdf.t").filter(col("bonus") === 1.5).count() == 2L)
      assert(spark.sql("SELECT sum(bonus) FROM gcdf.t").head().getDouble(0)
        == 12.0)
      // time travel BEFORE the evolution shows the old schema
      assert(!spark.sql("SELECT * FROM gcdf.t VERSION AS OF 1")
        .schema.fieldNames.contains("bonus"))
      // compact MATERIALIZES the default physically; reads agree after
      CommitLog.compact(spark, tableRoot, "opt")
      val afterCompact = CommitLog.latest(spark, tableRoot).get
      assert(!CommitLog.needsMergeOnRead(afterCompact),
        "a compacted head reads as a bare file scan again")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5), Some(9.0), None))
      // a merge on the defaulted table must not drop the constant
      CommitLog.merge(spark, tableRoot, "m", "id",
        Seq((2L, "B", 2.5)).toDF("id", "v", "bonus"))
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(2.5), Some(9.0), None))
      // CREATE TABLE with a column DEFAULT refuses (sound-or-refuse:
      // nothing substitutes defaults at INSERT time)
      val createDefault = intercept[Exception] {
        spark.sql("CREATE TABLE gcdf.bad (id BIGINT, x INT DEFAULT 7) " +
          s"USING `graft.commitlog` LOCATION '${freshRoot()}/bad'")
      }
      assert(createDefault.getMessage.toLowerCase.contains("default"),
        createDefault.getMessage)
      // a non-deterministic default refuses before anything commits
      val vBefore = CommitLog.latest(spark, tableRoot).get.version
      intercept[Exception] {
        CommitLog.evolveSchema(spark, tableRoot, "w",
          Seq(org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.DoubleType)),
          defaults = Map("r" -> "rand()"))
      }
      assert(CommitLog.latest(spark, tableRoot).get.version == vBefore)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcdf.t")
      spark.conf.unset("spark.sql.catalog.gcdf")
      spark.conf.unset("spark.sql.catalog.gcdf.dir")
    }
  }

  test("deletion vectors: scattered point deletes write O(changeset), fold, feed the CDF, compact away") {
    import spark.implicits._
    val root = freshRoot()
    def ids(lo: Long, hi: Long) =
      (lo until hi).toDF("id").withColumn("v", col("id") % 10)
    CommitLog.commit(spark, root, "w", "create") { _ => ids(0, 1000) }
    CommitLog.commitAppend(spark, root, "w", "append")(ids(1000, 2000))
    CommitLog.commitAppend(spark, root, "w", "append")(ids(2000, 3000))
    val v3 = CommitLog.latest(spark, root).get
    assert(v3.dataDirs.size == 3 && v3.dv.isEmpty)

    // ---- 1% scattered delete: merge-on-read, NOT copy-on-write ----
    val v4 = CommitLog.delete(spark, root, "w",
      col("id") % 100 === 7).get
    assert(v4.version == 4L && v4.action == "delete")
    assert(v4.dataDirs == v3.dataDirs,
      "a DV delete must not rewrite or add any data dir")
    assert(v4.dv.keySet == v3.dataDirs.toSet &&
      v4.dv.values.toSet.size == 1,
      s"every affected dir maps to the one new vector: ${v4.dv}")
    val got4 = CommitLog.readLatest(spark, root).get
    assert(got4.count() == 2970L)
    assert(got4.filter(col("id") % 100 === 7).count() == 0L)
    // history: the pre-delete version still shows every row
    assert(CommitLog.readVersion(spark, root, 3L).get.count() == 3000L)
    // O(changeset) bytes: the vector dataset is tiny vs any data dir
    val dvBytes = Files.walk(java.nio.file.Paths.get(root, "_dv"))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    val dirBytes = Files.walk(java.nio.file.Paths.get(root, v3.dataDirs.head))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    assert(dvBytes < dirBytes,
      s"vector bytes ($dvBytes) must undercut one dir rewrite ($dirBytes)")

    // ---- second DV delete FOLDS into one vector generation ----
    val v5 = CommitLog.delete(spark, root, "w",
      col("id") % 100 === 13).get
    assert(v5.dv.values.toSet.size == 1 &&
      v5.dv.values.toSet != v4.dv.values.toSet,
      "the fold writes a NEW vector dataset; dirs repoint to it")
    val got5 = CommitLog.readLatest(spark, root).get
    assert(got5.count() == 2940L)
    assert(got5.filter(col("id") % 100 === 7 || col("id") % 100 === 13)
      .count() == 0L, "the folded vector keeps BOTH generations' deletes")

    // ---- connector + point/skip reads agree with the library ----
    val conn = spark.read.format("graft.commitlog").load(root)
    assert(conn.count() == 2940L)
    assert(conn.filter(col("id") === 107L).count() == 0L &&
      conn.filter(col("id") === 108L).count() == 1L,
      "pushed filters stay exact over the DV relation")
    assert(CommitLog.readLatestPoint(spark, root, "id", 213L).get.count() == 0L)

    // ---- incremental consumers: resync or ride the feed ----
    assert(CommitLog.appendedSince(spark, root, 3L).isEmpty,
      "a DV commit retracts rows — append-only incrementality must resync")
    val feed = CommitLog.changesSince(spark, root, 3L).get
    assert(feed.filter(col("_commit_version") === 4L &&
      col("_change_type") === "delete").count() == 30L)
    assert(feed.filter(col("_commit_version") === 5L).count() == 30L)
    // appends after the vector carry it and stay incrementally readable
    CommitLog.commitAppend(spark, root, "w", "append")(ids(10000, 10100))
    val v6 = CommitLog.latest(spark, root).get
    assert(v6.dv == v5.dv, "an append must carry the vectors verbatim")
    assert(CommitLog.appendedSince(spark, root, 5L).get.count() == 100L)
    assert(CommitLog.readLatest(spark, root).get.count() == 3040L)

    // ---- compact MATERIALIZES vectors; vacuum sweeps them ----
    val compacted = CommitLog.compact(spark, root, "w").get
    assert(compacted.dv.isEmpty && compacted.rowInvisible)
    val after = CommitLog.readLatest(spark, root).get
    assert(after.count() == 3040L &&
      after.filter(col("id") % 100 === 7 && col("id") < 3000).count() == 0L)
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    val dvDirFile = new java.io.File(root, "_dv")
    assert(!dvDirFile.exists() || dvDirFile.listFiles().isEmpty,
      s"vacuum must sweep unreferenced vectors: ${Option(dvDirFile.listFiles()).map(_.toSeq)}")

    // ---- threshold: a big delete stays copy-on-write ----
    val root2 = freshRoot()
    CommitLog.commit(spark, root2, "w", "create") { _ => ids(0, 100) }
    CommitLog.commitAppend(spark, root2, "w", "append")(ids(100, 200))
    val cow = CommitLog.delete(spark, root2, "w", col("id") < 150).get
    assert(cow.dv.isEmpty, "a 75%-matched delete must rewrite, not vector")
    assert(CommitLog.readLatest(spark, root2).get.count() == 50L)
    // and a merge / CoW rewrite of a vectored dir materializes the
    // vector away without resurrecting its deletes
    val root3 = freshRoot()
    CommitLog.commit(spark, root3, "w", "create") { _ => ids(0, 1000) }
    val dv3 = CommitLog.delete(spark, root3, "w", col("id") % 200 === 5).get
    assert(dv3.dv.nonEmpty)
    CommitLog.merge(spark, root3, "w", "id", Seq((208L, 99L)).toDF("id", "v"))
    val m3 = CommitLog.readLatest(spark, root3).get
    assert(m3.count() == 995L &&
      m3.filter(col("id") === 208L).select("v").head().getLong(0) == 99L &&
      m3.filter(col("id") === 205L).count() == 0L,
      "a merge rewrite of a vectored dir materializes, never resurrects")
    val cow3 = CommitLog.delete(spark, root3, "w", col("id") >= 100).get
    assert(cow3.dv.isEmpty,
      "the rewrite reads visible rows and materializes the vector away")
    assert(rows(CommitLog.readLatest(spark, root3).get.orderBy("id"))
      .map(_.head) == (0L until 100L).filterNot(_ == 5L),
      "vectored deletes survive the copy-on-write rewrite")

    // ---- full-dir drops ride the CoW route with its feed ----
    val root4 = freshRoot()
    CommitLog.commit(spark, root4, "w", "create") { _ => ids(0, 100) }
    CommitLog.commitAppend(spark, root4, "w", "append")(ids(100, 200))
    val base4 = CommitLog.latest(spark, root4).get
    val drop = CommitLog.delete(spark, root4, "w", col("id") < 100).get
    assert(drop.dv.isEmpty && CommitLog.readLatest(spark, root4).get
      .agg(org.apache.spark.sql.functions.min(col("id"))).head().getLong(0) == 100L)
    assert(CommitLog.changesSince(spark, root4, base4.version).get
      .filter(col("_change_type") === "delete").count() == 100L)

    // ---- merge-on-read UPDATE (r16): pre-images vector out, post-
    // images land as one O(changeset) appended dir, one commit ----
    val rootU = freshRoot()
    CommitLog.commit(spark, rootU, "w", "create") { _ => ids(0, 1000) }
    CommitLog.commitAppend(spark, rootU, "w", "append")(ids(1000, 2000))
    val preU = CommitLog.latest(spark, rootU).get
    val u = CommitLog.update(spark, rootU, "w",
      col("id") % 500 === 7, Seq("v" -> lit(-5L))).get
    assert(u.dataDirs.take(2) == preU.dataDirs && u.dataDirs.size == 3,
      s"a DV update carries every dir and appends the post-images: " +
        s"${u.dataDirs}")
    assert(u.dv.nonEmpty, "the pre-images must vector out")
    val gotU = CommitLog.readLatest(spark, rootU).get
    assert(gotU.count() == 2000L)
    assert(gotU.filter(col("v") === -5L).count() == 4L &&
      gotU.filter(col("id") === 7L).select("v").head().getLong(0) == -5L,
      "post-images replace exactly the matched rows")
    // the feed rides through, keyed by the post-image dir
    val feedU = CommitLog.changesSince(spark, rootU, preU.version).get
    assert(feedU.filter(col("_change_type") === "update_preimage")
      .count() == 4L)
    assert(feedU.filter(col("_change_type") === "update_postimage" &&
      col("v") === -5L).count() == 4L)
    // a big update stays copy-on-write
    val cowU = CommitLog.update(spark, rootU, "w",
      col("id") < 1500, Seq("v" -> lit(0L))).get
    val afterCow = CommitLog.readLatest(spark, rootU).get
    assert(cowU.dv.isEmpty &&
      afterCow.filter(col("v") === 0L && col("id") < 1500).count() == 1500L,
      "a 75%-matched update must rewrite, not vector")
    assert(afterCow.filter(col("id") === 1507L).select("v")
      .head().getLong(0) == -5L,
      "the rewrite materializes the earlier DV update, never loses it")

    // ---- strict parse: a damaged dv block makes the commit unreadable,
    // never silently vector-less ----
    val root5 = freshRoot()
    CommitLog.commit(spark, root5, "w", "create") { _ => ids(0, 1000) }
    CommitLog.delete(spark, root5, "w", col("id") % 500 === 3).get
    val p5 = java.nio.file.Paths.get(root5, "_commits",
      "v" + "%020d".format(2L) + ".json")
    val damaged = new String(Files.readAllBytes(p5), "UTF-8")
      .replaceFirst("\"dv\":\\{\"[^\"]+\"", "\"dv\":{\"x")
    Files.write(p5, damaged.getBytes("UTF-8"))
    assert(CommitLog.commitAt(spark, root5, 2L).isEmpty,
      "a commit with a damaged dv block must not parse")
    assert(CommitLog.latest(spark, root5).get.version == 1L,
      "readers fall back behind the unreadable dv commit")
  }

  test("deletion vectors through the catalog: DELETE FROM takes the DV path; statements read and mutate the vectored table") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdv.dir", catRoot)
    try {
      CommitLog.commit(spark, tableRoot, "w", "create") { _ =>
        (0L until 500L).toDF("id").withColumn("v", col("id") % 7) }
      CommitLog.commitAppend(spark, tableRoot, "w", "append")(
        (500L until 1000L).toDF("id").withColumn("v", col("id") % 7))
      spark.sql(s"CREATE TABLE gdv.t USING `graft.commitlog` LOCATION '$tableRoot'")
      // translatable IN-list point delete, 1% matched: SupportsDelete →
      // CommitLog.delete → the DV path
      spark.sql("DELETE FROM gdv.t WHERE id IN (3, 250, 499, 501, 750, 999)")
      val head = CommitLog.latest(spark, tableRoot).get
      assert(head.dv.nonEmpty, "a scattered statement delete must vector")
      // the catalog read route (DSv2 V1Scan fallback) sees visible rows
      assert(spark.table("gdv.t").count() == 994L)
      assert(spark.table("gdv.t").filter(col("id") === 250L).count() == 0L)
      assert(spark.sql("SELECT count(*) FROM gdv.t WHERE id < 10")
        .head().getLong(0) == 9L)
      // time travel pre-delete still shows every row
      assert(spark.sql("SELECT count(*) FROM gdv.t VERSION AS OF 2")
        .head().getLong(0) == 1000L)
      // UPDATE over the vectored table: CoW carries/materializes soundly
      spark.sql("UPDATE gdv.t SET v = -1 WHERE id = 4")
      assert(spark.table("gdv.t").filter(col("v") === -1L).count() == 1L)
      assert(spark.table("gdv.t").filter(col("id") === 3L).count() == 0L,
        "the UPDATE rewrite must not resurrect vectored deletes")
      // strategy-route DELETE (untranslatable predicate) on the table
      spark.sql("DELETE FROM gdv.t WHERE id % 250 = 100")
      assert(spark.table("gdv.t").filter(col("id") === 350L).count() == 0L)
      assert(spark.table("gdv.t").count() == 990L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gdv.t")
      spark.conf.unset("spark.sql.catalog.gdv")
      spark.conf.unset("spark.sql.catalog.gdv.dir")
    }
  }

  test("merge-on-read MERGE: a scattered CDC upsert lands as one deletion vector + one O(changeset) dir (VERDICT r16 #1)") {
    import spark.implicits._
    val root = freshRoot()
    def ids(lo: Long, hi: Long) =
      (lo until hi).toDF("id").withColumn("v", col("id") % 10)
    CommitLog.commit(spark, root, "w", "create") { _ => ids(0, 1000) }
    CommitLog.commitAppend(spark, root, "w", "append")(ids(1000, 2000))
    CommitLog.commitAppend(spark, root, "w", "append")(ids(2000, 3000))
    val v3 = CommitLog.latest(spark, root).get

    // 16 scattered keys across every dir: 8 updates, 4 deletes, 4 inserts
    val changes = (
      (0 until 8).map(i => (i * 300L + 7L, 99L, false)) ++
      (0 until 4).map(i => (i * 700L + 13L, 0L, true)) ++
      (0 until 4).map(i => (10000L + i, 5L, false))
    ).toDF("id", "v", "del")
    val c = CommitLog.merge(spark, root, "m", "id", changes,
      deleteCol = Some("del"))
    // SHAPE: every prior dir carried byte-identical; ONE appended dir;
    // every touched dir repoints at ONE new folded vector
    assert(c.action == "merge" && c.version == 4L)
    assert(v3.dataDirs.forall(c.dataDirs.contains),
      "merge-on-read must carry every prior dir untouched")
    assert(c.dataDirs.size == v3.dataDirs.size + 1,
      s"exactly one appended changeset dir: ${c.dataDirs}")
    assert(c.dv.nonEmpty && c.dv.values.toSet.size == 1,
      s"touched dirs repoint at the one folded vector: ${c.dv}")
    assert(c.stats.keySet.intersect(v3.dataDirs.toSet) ==
      v3.stats.keySet.intersect(v3.dataDirs.toSet),
      "carried dirs keep their recorded stats")
    // STATE: updates replaced, deletes gone, inserts present — every route
    val got = CommitLog.readLatest(spark, root).get
    assert(got.count() == 3000L) // -4 deletes +4 inserts
    assert(got.filter(col("id") === 7L).select("v").head().getLong(0) == 99L)
    assert(got.filter(col("id") === 2107L).select("v").head().getLong(0) == 99L)
    assert(got.filter(col("id") === 13L || col("id") === 2113L).count() == 0L)
    assert(got.filter(col("id") >= 10000L).count() == 4L)
    val conn = spark.read.format("graft.commitlog").load(root)
    assert(conn.count() == 3000L &&
      conn.filter(col("id") === 713L).count() == 0L)
    // history intact
    assert(CommitLog.readVersion(spark, root, 3L).get.count() == 3000L &&
      CommitLog.readVersion(spark, root, 3L).get
        .filter(col("id") === 13L).count() == 1L)
    // O(changeset) BYTES: vector + appended dir together undercut ONE
    // dir rewrite (the copy-on-write price for the same merge)
    def bytesUnder(p: String): Long =
      Files.walk(java.nio.file.Paths.get(p))
        .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    val changesetBytes = bytesUnder(s"$root/_dv") +
      bytesUnder(s"$root/${c.dataDirs.diff(v3.dataDirs).head}")
    assert(changesetBytes < bytesUnder(s"$root/${v3.dataDirs.head}"),
      s"merge-on-read writes O(changeset): $changesetBytes bytes")
    // CDF: algebraically complete, rides through changesSince
    val feed = CommitLog.changesSince(spark, root, 3L).get
    assert(feed.filter(col("_change_type") === "delete").count() == 4L)
    assert(feed.filter(col("_change_type") === "update_preimage").count() == 8L)
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 8L)
    assert(feed.filter(col("_change_type") === "insert").count() == 4L)
    // a second DV merge FOLDS: still one vector generation per dir
    val c5 = CommitLog.merge(spark, root, "m", "id",
      Seq((607L, 77L, false), (1313L, 0L, true)).toDF("id", "v", "del"),
      deleteCol = Some("del"))
    // per-dir single generation: 607's LIVE copy sits in merge-1's delta
    // dir (its v1 copy is already vectored invisible), 1313's in the v2
    // dir — exactly those two repoint at the ONE new folded vector;
    // untouched dirs keep their old one
    val newVecs = c5.dv.values.toSet -- c.dv.values.toSet
    val deltaDir = c.dataDirs.diff(v3.dataDirs).head
    assert(newVecs.size == 1 && c5.dv.values.count(newVecs) == 2 &&
      c5.dv.get(deltaDir) == newVecs.headOption &&
      c5.dv.keySet == c.dv.keySet + deltaDir, s"${c.dv} -> ${c5.dv}")
    val got5 = CommitLog.readLatest(spark, root).get
    assert(got5.count() == 2999L &&
      got5.filter(col("id") === 607L).select("v").head().getLong(0) == 77L &&
      got5.filter(col("id") === 7L).select("v").head().getLong(0) == 99L,
      "the folded vector keeps BOTH merges' retractions")
    // compact MATERIALIZES the vectors away; reads agree after
    CommitLog.compact(spark, root, "opt")
    assert(CommitLog.latest(spark, root).get.dv.isEmpty)
    assert(CommitLog.readLatest(spark, root).get.count() == 2999L)

    // THRESHOLD: a widely-matched merge stays copy-on-write
    val root2 = freshRoot()
    CommitLog.commit(spark, root2, "w", "create") { _ => ids(0, 1000) }
    val big = (0L until 800L).map(i => (i, 50L)).toDF("id", "v")
    val cow = CommitLog.merge(spark, root2, "m", "id", big)
    assert(cow.dv.isEmpty, "an 80%-matched merge must rewrite, not vector")
    assert(CommitLog.readLatest(spark, root2).get
      .filter(col("v") === 50L).count() == 800L)
    // dvMaxFraction = 0 forces the pre-r17 copy-on-write shape
    val root3 = freshRoot()
    val v1r3 = CommitLog.commit(spark, root3, "w", "create") { _ =>
      ids(0, 1000) }
    val forced = CommitLog.merge(spark, root3, "m", "id",
      Seq((7L, 99L)).toDF("id", "v"), dvMaxFraction = 0)
    assert(forced.dv.isEmpty &&
      v1r3.dataDirs.forall(d => !forced.dataDirs.contains(d)),
      "dvMaxFraction = 0 keeps the pre-r17 copy-on-write rewrite")
    assert(CommitLog.readLatest(spark, root3).get
      .filter(col("id") === 7L).head().getLong(1) == 99L)
  }

  test("deletion vectors are location-independent: persisted root-relative, a relocated table keeps its deletes (ADVICE r16)") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      (0L until 1000L).toDF("id").withColumn("v", col("id") % 10) }
    CommitLog.commitAppend(spark, root, "w", "append")(
      (1000L until 2000L).toDF("id").withColumn("v", col("id") % 10))
    val dv = CommitLog.delete(spark, root, "w", col("id") % 100 === 7).get
    assert(dv.dv.nonEmpty, "fixture must land as a vector")
    // the persisted identity is `dir/file`, never an absolute URI — an
    // absolute path would bake the table's location spelling into the
    // vector and silently resurrect deletes after any relocation
    val stored = spark.read
      .parquet(s"$root/_dv/${dv.dv.values.head}")
      .select("path").collect().map(_.getString(0))
    assert(stored.nonEmpty &&
      stored.forall(p => p.startsWith("data-") && p.count(_ == '/') == 1),
      s"vectors persist root-relative dir/file identities: ${stored.take(3).toSeq}")
    // relocate the WHOLE table directory; every read under the new
    // spelling must keep the deletes applied
    val moved = freshRoot() + "/moved"
    Files.move(java.nio.file.Paths.get(root),
      java.nio.file.Paths.get(moved))
    val got = CommitLog.readLatest(spark, moved).get
    assert(got.count() == 1980L, "relocation must not resurrect DV deletes")
    assert(got.filter(col("id") % 100 === 7).count() == 0L)
    val conn = spark.read.format("graft.commitlog").load(moved)
    assert(conn.count() == 1980L &&
      conn.filter(col("id") === 107L).count() == 0L,
      "the connector route agrees at the new location")
    // the relocated table keeps mutating: the next DV delete FOLDS the
    // prior (relative) rows and stays relative
    val dv2 = CommitLog.delete(spark, moved, "w", col("id") % 100 === 13).get
    assert(dv2.dv.nonEmpty && dv2.dv.values.toSet != dv.dv.values.toSet)
    val got2 = CommitLog.readLatest(spark, moved).get
    assert(got2.count() == 1960L &&
      got2.filter(col("id") % 100 === 7 || col("id") % 100 === 13)
        .count() == 0L,
      "the folded vector keeps both generations after the move")
  }

  test("multi-column blooms: per-column sidecar sets compose point evidence on merges and scans; guards and vacuum follow (r17)") {
    import spark.implicits._
    val root = freshRoot()
    // three dirs where NEITHER column's ranges can prune (interleaved)
    // but each column's bloom separates a different pair:
    //   A: even ids, codes a*     B: odd ids, codes a*     C: odd ids, codes c*
    def mk(ids: Seq[Long], pre: String) =
      ids.map(i => (i, s"$pre$i", i * 10)).toDF("id", "code", "v")
    CommitLog.commitAppend(spark, root, "w", "append", createOnEmpty = true)(
      mk(0L until 200L by 2, "a"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      mk(1L until 200L by 2, "a"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      mk(201L until 400L by 2, "c"))
    assert(CommitLog.addBloom(spark, root, "id") == 3)
    assert(CommitLog.addBloom(spark, root, "code") == 3,
      "a SECOND bloom column must build its own sidecar set")
    assert(CommitLog.bloomColumns(spark, root) == Seq("id", "code"))
    // the extra column's sidecars live in their own subtree
    assert(new java.io.File(root, "_bloom/col=code").listFiles()
      .count(_.getName.endsWith(".bin")) == 3)
    val head = CommitLog.latest(spark, root).get
    val Seq(dirA, dirB, dirC) = head.dataDirs

    // point reads prune on EITHER column (library route)
    assert(rows(CommitLog.readLatestPoint(spark, root, "code", "c203").get)
      == Seq(Seq(203L, "c203", 2030L)))
    assert(CommitLog.bloomKeepDirs(spark, root, head, "code",
      Seq("c203"), requireMarker = true) == Seq(dirC))
    assert(CommitLog.bloomKeepDirs(spark, root, head, "id",
      Seq(Long.box(42L)), requireMarker = true) == Seq(dirA))

    // connector route: pushed equality on the EXTRA bloom column prunes
    val all = scannedFiles(spark.read.format("graft.commitlog").load(root))
    val byCode = spark.read.format("graft.commitlog").load(root)
      .filter(col("code") === "c203")
    assert(rows(byCode) == Seq(Seq(203L, "c203", 2030L)) &&
      scannedFiles(byCode) < all, "extra-column bloom must prune the scan")
    // COMPOSED: id bloom clears C (even id), code bloom clears A+B
    // ("c" code) — together they clear everything
    val composed = spark.read.format("graft.commitlog").load(root)
      .filter(col("id") === 42L && col("code") === "c9999")
    assert(composed.count() == 0L && scannedFiles(composed) < all)

    // a COMPOSITE-key merge composes the same evidence: key (id=even,
    // code=c*) exists nowhere — id bloom prunes B/C, code bloom prunes
    // A/B ⇒ affected EMPTY ⇒ the pure-insert append path
    val m = CommitLog.mergeOn(spark, root, "m", Seq("id", "code"),
      Seq((500L, "c500", 1L)).toDF("id", "code", "v"))
    assert(head.dataDirs.forall(m.dataDirs.contains) &&
      m.dataDirs.size == 4,
      s"composed bloom evidence must prove the merge a pure insert: ${m.dataDirs}")
    assert(CommitLog.readLatest(spark, root).get.count() == 301L)
    // the merge's delta dir self-bloomed BOTH key columns
    val delta = m.dataDirs.last
    assert(new java.io.File(root, s"_bloom/$delta.bin").exists() &&
      new java.io.File(root, s"_bloom/col=code/$delta.bin").exists(),
      "self-bloom covers every bloomed key column")

    // guards: neither bloom column may rename/drop
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root, "w", "code", "code2") }
    intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, root, "w", "code") }

    // compact + vacuum: dead dirs' per-column sidecars sweep too
    CommitLog.compact(spark, root, "opt")
    CommitLog.vacuum(spark, root, keep = 1, graceMs = 0L)
    val leftFlat = Option(new java.io.File(root, "_bloom").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".bin")).map(_.getName)
    val leftCode = Option(new java.io.File(root, "_bloom/col=code")
      .listFiles()).toSeq.flatten.map(_.getName)
    val liveDirs = CommitLog.latest(spark, root).get.dataDirs.toSet
    assert(leftFlat.forall(n => liveDirs(n.stripSuffix(".bin"))) &&
      leftCode.forall(n => liveDirs(n.stripSuffix(".bin"))),
      s"vacuum must sweep dead sidecars in every layout: $leftFlat $leftCode")
  }

  test("claim-backend seam: every claim routes through the installed backend; a losing backend fails loudly and cleanly (VERDICT r16 #7)") {
    import spark.implicits._
    val root = freshRoot()
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new CommitLog.ClaimBackend {
      override def tryCreate(f: org.apache.hadoop.fs.FileSystem,
          p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean = {
        claims.incrementAndGet()
        CommitLog.DefaultClaimBackend.tryCreate(f, p, bytes)
      }
    }
    CommitLog.setClaimBackend(counting)
    try {
      CommitLog.commit(spark, root, "w", "create") { _ =>
        (0L until 100L).toDF("id").withColumn("v", col("id") % 5) }
      CommitLog.commitAppend(spark, root, "w", "append")(
        (100L until 200L).toDF("id").withColumn("v", col("id") % 5))
      CommitLog.delete(spark, root, "d", col("id") === 7L) // DV claim
      assert(claims.get() >= 3,
        s"create/append/delete claims must all route through the seam: ${claims.get()}")
      assert(CommitLog.readLatest(spark, root).get.count() == 199L)
      val vBefore = CommitLog.latest(spark, root).get.version
      // a backend that can never win (an S3-ish conditional write always
      // losing): the writer exhausts its attempts LOUDLY and the table
      // stays exactly as committed — no half-visible state
      CommitLog.setClaimBackend(new CommitLog.ClaimBackend {
        override def tryCreate(f: org.apache.hadoop.fs.FileSystem,
            p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean = false
      })
      intercept[java.io.IOException] {
        CommitLog.commitAppend(spark, root, "w", "append", maxAttempts = 3)(
          (200L until 210L).toDF("id").withColumn("v", col("id") % 5))
      }
      assert(CommitLog.latest(spark, root).get.version == vBefore &&
        CommitLog.readLatest(spark, root).get.count() == 199L,
        "a lost-everything writer leaves the committed state untouched")
    } finally CommitLog.resetClaimBackend()
    // default restored: writers proceed
    CommitLog.commitAppend(spark, root, "w", "append")(
      (200L until 210L).toDF("id").withColumn("v", col("id") % 5))
    assert(CommitLog.readLatest(spark, root).get.count() == 209L)
  }

  test("nested additive schema evolution: one metadata commit, old dirs read typed NULL at any depth, every route agrees (VERDICT r16 #4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    val v1 = CommitLog.latest(spark, root).get
    // ONE rowInvisible metadata commit, zero data dirs moved
    val c = CommitLog.evolveStructFields(spark, root, "w", Seq("meta"),
      Seq(StructField("score", DoubleType)))
    assert(c.rowInvisible && c.dataDirs == v1.dataDirs &&
      c.version == v1.version + 1)
    val got = CommitLog.readLatest(spark, root).get
    assert(got.schema("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("st", "x", "score"))
    assert(rows(got.select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, null), Seq(2L, null)),
      "pre-evolution dirs read the nested field as typed NULL")
    // post-evolution appends store explicit nested values
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c", 3.0, 9.5)).toDF("id", "st", "x", "score")
        .select(col("id"),
          struct(col("st"), col("x"), col("score")).as("meta")))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").select("meta.score").collect()
        .map(r => Option(r.get(0))).toSeq
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, None, Some(9.5)), "library route")
    assert(scores(spark.read.format("graft.commitlog").load(root)) ==
      Seq(None, None, Some(9.5)), "connector route")
    // filters/aggregates over the filled field
    assert(CommitLog.readLatest(spark, root).get
      .filter(col("meta.score").isNull).count() == 2L)
    // a merge over the widened schema rides through old+new dirs
    CommitLog.merge(spark, root, "m", "id",
      Seq((2L, "b", 2.0, 5.5)).toDF("id", "st", "x", "score")
        .select(col("id"),
          struct(col("st"), col("x"), col("score")).as("meta")))
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, Some(5.5), Some(9.5)))
    // compact MATERIALIZES the nested NULLs; reads agree after
    CommitLog.compact(spark, root, "opt")
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, Some(5.5), Some(9.5)))
    // time travel before the evolution shows the narrow struct
    assert(CommitLog.readVersion(spark, root, 1L).get
      .schema("meta").dataType.asInstanceOf[
        org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("st", "x"))
    // DEEP nesting: a second-level add
    val root2 = freshRoot() + "/deep"
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq((1L, 5L)).toDF("id", "xv")
        .select(col("id"), struct(struct(col("xv")).as("inner")).as("o")) }
    CommitLog.evolveStructFields(spark, root2, "w", Seq("o", "inner"),
      Seq(StructField("y", StringType)))
    assert(rows(CommitLog.readLatest(spark, root2).get
      .select(col("o.inner.y"))) == Seq(Seq(null)),
      "a two-level nested add reads NULL from the old dir")
    // refusals, each loud and commit-free
    val vBefore = CommitLog.latest(spark, root2).get.version
    intercept[IllegalArgumentException] { // not a struct
      CommitLog.evolveStructFields(spark, root2, "w", Seq("id"),
        Seq(StructField("z", StringType))) }
    intercept[IllegalArgumentException] { // duplicate (case-insensitive)
      CommitLog.evolveStructFields(spark, root2, "w", Seq("o", "inner"),
        Seq(StructField("Y", StringType))) }
    intercept[IllegalArgumentException] { // non-nullable
      CommitLog.evolveStructFields(spark, root2, "w", Seq("o"),
        Seq(StructField("req", StringType, nullable = false))) }
    intercept[IllegalArgumentException] { // missing path
      CommitLog.evolveStructFields(spark, root2, "w", Seq("ghost"),
        Seq(StructField("z", StringType))) }
    assert(CommitLog.latest(spark, root2).get.version == vBefore,
      "refusals are pre-claim")
    // the statement face: ALTER TABLE … ADD COLUMNS (meta.tag STRING)
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gne", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gne.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gne.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (meta.tag STRING)")
      assert(spark.table("gne.t").select("meta.tag").collect()
        .forall(_.isNullAt(0)), "catalog route reads the nested NULL")
      spark.sql("INSERT INTO gne.t VALUES " +
        "(4, named_struct('st', 'd', 'x', 4.0, 'score', 1.5, 'tag', 'new'))")
      assert(rows(spark.table("gne.t").filter(col("id") === 4L)
        .select(col("meta.tag"))) == Seq(Seq("new")))
      // nested DEFAULT records path-keyed since r19 (VERDICT r18 #3):
      // every dir staged so far predates the field, so all four rows
      // read the constant where their parent struct exists
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (meta.d DOUBLE DEFAULT 1.0)")
      assert(CommitLog.latest(spark, root).get.defaults
        .exists(_._1 == "meta.d"))
      assert(spark.table("gne.t").select("meta.d").collect()
        .forall(r => !r.isNullAt(0) && r.getDouble(0) == 1.0),
        "pre-evolution dirs must read the nested constant")
      // ONE statement = ONE evolution commit across shapes (ADVICE r17):
      // a statement mixing a valid top-level add with an invalid nested
      // path commits NOTHING — 'id' is a bigint, not a struct
      val vb = CommitLog.latest(spark, root).get.version
      intercept[Exception] {
        spark.sql("ALTER TABLE gne.t ADD COLUMNS (half_ok STRING, id.bad STRING)") }
      assert(CommitLog.latest(spark, root).get.version == vb &&
        !CommitLog.readLatest(spark, root).get
          .schema.fieldNames.contains("half_ok"),
        "a half-invalid ADD COLUMNS must leave the table untouched")
      // and a VALID mixed statement lands as exactly one metadata commit
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (mixed_ok STRING, meta.tag2 STRING)")
      val after = CommitLog.latest(spark, root).get
      assert(after.version == vb + 1 && after.action == "evolve",
        s"mixed top-level+nested adds fold into one commit: v$vb -> v${after.version}")
      assert(spark.table("gne.t").select(col("mixed_ok"), col("meta.tag2"))
        .collect().length == 4, "both shapes read green after the one commit")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gne.t")
      spark.conf.unset("spark.sql.catalog.gne")
      spark.conf.unset("spark.sql.catalog.gne.dir")
    }
  }

  test("commit-log checkpoint: cold history/timestamp reads fold through _checkpoint; damage and vacuum degrade soundly (VERDICT r16 #5)") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a")).toDF("id", "v") }
    (2 to 23).foreach(i =>
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val ckptFile = new java.io.File(root, "_commits/_checkpoint.json")
    assert(ckptFile.exists(), "the 10th/20th claims must fold a checkpoint")
    val txt = new String(Files.readAllBytes(ckptFile.toPath), "UTF-8")
    assert(txt.count(_ == '{') == 21, // wrapper + one per entry ≤ v20
      s"checkpoint at v23 folds exactly versions 1..20: $txt")
    // cold-open equality: the checkpoint route and the pure walk agree
    val viaCkpt = rows(CommitLog.history(spark, root).orderBy("version"))
    assert(viaCkpt.size == 23 &&
      viaCkpt.map(_.head) == (1L to 23L),
      "history must cover checkpointed AND post-checkpoint commits")
    val tsMid = viaCkpt(10)(1).asInstanceOf[Long] // v11's ts
    val atMid = CommitLog.commitAtTimestamp(spark, root, tsMid)
    val backup = txt
    Files.delete(ckptFile.toPath)
    assert(rows(CommitLog.history(spark, root).orderBy("version")) ==
      viaCkpt, "no checkpoint: the walk returns the identical history")
    assert(CommitLog.commitAtTimestamp(spark, root, tsMid).version ==
      atMid.version, "timestamp resolution agrees with the walk")
    // corruption: a torn/damaged checkpoint reads as absent, never wrong
    Files.write(ckptFile.toPath,
      backup.dropRight(25).getBytes("UTF-8"))
    assert(rows(CommitLog.history(spark, root).orderBy("version")) ==
      viaCkpt, "a torn checkpoint degrades to the walk")
    Files.write(ckptFile.toPath, "not json at all".getBytes("UTF-8"))
    assert(CommitLog.commitAtTimestamp(spark, root, tsMid).version ==
      atMid.version, "garbage degrades to the walk")
    // the next cadence claim REPLACES the damaged file with a sound fold
    (24 to 30).foreach(i =>
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((i.toLong, s"r$i")).toDF("id", "v")))
    val txt30 = new String(Files.readAllBytes(ckptFile.toPath), "UTF-8")
    assert(txt30.count(_ == '{') == 31,
      s"v30's claim must re-fold the full retained history: $txt30")
    assert(rows(CommitLog.history(spark, root)).size == 30)
    // vacuum: swept versions leave the checkpoint (never referenced)
    CommitLog.vacuum(spark, root, keep = 5, graceMs = 0L)
    val afterVac = rows(CommitLog.history(spark, root).orderBy("version"))
    assert(afterVac.map(_.head) == (26L to 30L),
      s"history after vacuum lists only retained versions: $afterVac")
    val txtVac = new String(Files.readAllBytes(ckptFile.toPath), "UTF-8")
    assert(!txtVac.contains("\"v\":25,") && txtVac.contains("\"v\":26"),
      s"vacuum must rewrite the checkpoint past the sweep: $txtVac")
    intercept[IllegalArgumentException] {
      CommitLog.commitAtTimestamp(spark, root, tsMid) }
  }

  test("RENAME/DROP COLUMN refuse when a recorded constraint fails to resolve (VERDICT r16 watch-item #3)") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 2L)).toDF("id", "v") }
    CommitLog.addConstraint(spark, root, "w", "v_pos", "v > 0")
    // damage the table out-of-band: the recorded constraint now
    // references a column that does not resolve against the head —
    // failing OPEN here would let DDL proceed past a constraint it
    // cannot prove unrelated
    val head = CommitLog.latest(spark, root).get
    val p = java.nio.file.Paths.get(root, "_commits",
      f"v${head.version}%020d.json")
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    assert(txt.contains("v > 0"), txt)
    Files.write(p, txt.replace("v > 0", "ghost > 0").getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      CommitLog.renameColumn(spark, root, "w", "id", "id2") }
    assert(e1.getMessage.contains("v_pos") &&
      e1.getMessage.contains("does not resolve"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      CommitLog.dropColumn(spark, root, "w", "id") }
    assert(e2.getMessage.contains("v_pos"), e2.getMessage)
    // nothing committed: the refusals are pre-claim
    assert(CommitLog.latest(spark, root).get.version == head.version)
    // dropping the broken constraint unblocks the rename
    CommitLog.dropConstraint(spark, root, "w", "v_pos")
    CommitLog.renameColumn(spark, root, "w", "id", "id2")
    assert(CommitLog.readLatest(spark, root).get.columns.toSeq ==
      Seq("id2", "v"))
  }
}
