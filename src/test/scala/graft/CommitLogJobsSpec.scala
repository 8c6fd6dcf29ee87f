package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.CommitLog

/** Spark jobs per commit-log verb, counted by a listener — no wall clock.
  * A verb should start only the jobs that move rows: its metadata (row
  * counts, min/max stats, the table schema) comes from parquet footers and
  * the log. */
class CommitLogJobsSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-jobs").toString

  /** The jobs `body` starts. Counted by job group, so jobs of other
    * threads never leak into the count. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def batch(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("k"),
      concat(lit("name-"), col("id").cast("string")).as("name"),
      (col("id") % 7).cast("decimal(12,2)").as("price"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 30).cast("int"))
        .as("day"))

  /** A table of three appended batches, stats on `k`. */
  private def table(): String = {
    val root = freshRoot()
    (0 until 3).foreach(i =>
      CommitLog.commitAppend(spark, root, "w", "append",
        statsCols = Seq("k", "day"), createOnEmpty = true)(batch(i * 150L, 150L)))
    root
  }

  test("commitAppend starts exactly the jobs of a plain parquet write of its frame") {
    val root = table()
    val delta = batch(10000L, 150L)
    val (_, plain) = jobsOf(delta.write.parquet(freshRoot() + "/plain"))
    val (c, append) = jobsOf(CommitLog.commitAppend(spark, root, "w",
      "append", statsCols = Seq("k", "day"))(delta))
    info(s"plain write: $plain job(s), commitAppend: $append job(s)")
    assert(append == plain)
    // the metadata still landed: stats, row counts and the schema
    val d = c.dataDirs.last
    assert(c.stats(d)("k") == (10000L, 10149L))
    assert(c.rows(d) == 150L)
    assert(c.schemaDDL.isDefined)
  }

  test("compact starts exactly the jobs of its own rewrite") {
    val root = table()
    val head = CommitLog.latest(spark, root).get
    val snap = CommitLog.readCommit(spark, root, head)
    val (_, rewrite) = jobsOf(snap.coalesce(4).write.parquet(freshRoot() + "/re"))
    val (c, compact) = jobsOf(CommitLog.compact(spark, root, "opt"))
    info(s"rewrite: $rewrite job(s), compact: $compact job(s)")
    assert(c.exists(_.version == head.version + 1))
    assert(compact == rewrite)
  }

  test("building the readLatest DataFrame starts no job") {
    val root = table()
    val (df, n) = jobsOf(CommitLog.readLatest(spark, root).get)
    info(s"readLatest build: $n job(s)")
    assert(n == 0)
    assert(df.count() == 450L)
  }

  test("per-verb job counts (reported)") {
    val root = table()
    val (_, merge) = jobsOf(CommitLog.merge(spark, root, "w", "k",
      batch(100L, 100L)))
    val (_, cow) = jobsOf(CommitLog.delete(spark, root, "w",
      col("k") < 50L, dvMaxFraction = 0.0))
    val (_, dv) = jobsOf(CommitLog.delete(spark, root, "w",
      col("k") === 300L))
    val (_, where) = jobsOf(CommitLog.readLatestWhere(spark, root, "k",
      0L, 10L).get)
    val (_, point) = jobsOf(CommitLog.readLatestPoint(spark, root, "k",
      7L).get)
    info(s"merge $merge, copy-on-write delete $cow, dv delete $dv, " +
      s"readLatestWhere build $where, readLatestPoint build $point")
    assert(where == 0 && point == 0)
  }
}
