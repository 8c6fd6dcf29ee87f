package graft

import java.nio.file.Files
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

  test("per-verb job counts") {
    val root = table()
    val (_, merge) = jobsOf(CommitLog.merge(spark, root, "w", "k",
      batch(100L, 100L)))
    val (_, cow) = jobsOf(CommitLog.delete(spark, root, "w",
      col("k") < 50L, dvMaxFraction = 0.0))
    val (_, dv) = jobsOf(CommitLog.delete(spark, root, "w",
      col("k") === 300L))
    val (_, dvUpdate) = jobsOf(CommitLog.update(spark, root, "w",
      col("k") === 301L, Seq("name" -> lit("updated"))))
    val (_, cowUpdate) = jobsOf(CommitLog.update(spark, root, "w",
      col("k") < 80L, Seq("name" -> lit("updated")), dvMaxFraction = 0.0))
    val (_, replace) = jobsOf(CommitLog.replaceWhere(spark, root, "w",
      col("k") >= 400L, batch(400L, 50L)))
    val (_, where) = jobsOf(CommitLog.readLatestWhere(spark, root, "k",
      0L, 10L).get)
    val (_, point) = jobsOf(CommitLog.readLatestPoint(spark, root, "k",
      7L).get)
    info(s"merge $merge, copy-on-write delete $cow, dv delete $dv, " +
      s"dv update $dvUpdate, copy-on-write update $cowUpdate, " +
      s"replaceWhere $replace, readLatestWhere build $where, " +
      s"readLatestPoint build $point")
    // the counts each verb ran when they were pinned; a verb's jobs change
    // only with what it computes, never with how it commits
    assert(merge == 18 && cow == 2 && dv == 5)
    assert(dvUpdate == 10 && cowUpdate == 3 && replace == 7)
    assert(where == 0 && point == 0)
  }
}
