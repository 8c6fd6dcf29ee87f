package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Profile]]: exact counters for a fixed plan, only the jobs of the
  * profiled code, complete when `of` returns. */
class ProfileSpec extends SparkSpec {
  /** 4 range tasks shuffle into 3 partitions; their partial aggregates
    * shuffle into 5; AQE runs each shuffle stage as a job of its own. */
  private def grouped[T](body: => T) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "5") {
    Profile.of(spark) {
      body
      spark.range(0, 1000, 1, 4).repartition(3)
        .groupBy(col("id") % 7).count().collect()
    }
  }

  test("a fixed plan gives exact jobs, stages and per-stage tasks") {
    val (rows, p) = grouped(())
    assert(rows.map(_.getLong(1)).sum == 1000)
    assert(p.jobs == 3)
    assert(p.stageTasks == Seq(4, 3, 5))
    assert(p.stages == 3 && p.tasks == 12 && p.singleTaskStages == 0)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0)
    assert(p.taskRunS >= 0 && p.taskCpuS > 0)
  }

  test("a single-partition job counts one single-task stage") {
    val (n, p) = Profile.of(spark)(spark.range(0, 10, 1, 1).count())
    assert(n == 10)
    assert(p.jobs >= 1 && p.singleTaskStages == p.stages && p.stages >= 1)
  }

  test("jobs another thread runs during the body are not counted") {
    val go = new CountDownLatch(1)
    @volatile var otherRows = 0L
    val other = new Thread(() => {
      go.await()
      otherRows = spark.range(0, 100, 1, 2).repartition(2).count()
    })
    other.start()
    val (_, p) = Profile.of(spark) {
      go.countDown()
      other.join()
      spark.range(0, 100, 1, 2).collect()
    }
    assert(otherRows == 100)
    assert(p.jobs == 1 && p.stageTasks == Seq(2))
  }

  test("compiles counts the classes compiled for the body") {
    val frame = spark.range(0, 100, 1, 2).selectExpr("id * 3 + 1 AS x")
      .filter("x % 5 = 0")
    Profile.of(spark)(frame.collect())
    val (again, p) = Profile.of(spark)(frame.collect())
    assert(again.length == 20)
    assert(p.compiles == 0)
    // Spark inlines an integral literal into the generated source, so a
    // literal this JVM has not seen before makes a new class
    val k = System.nanoTime()
    val (_, fresh) = Profile.of(spark)(
      spark.range(0, 100, 1, 2).selectExpr(s"id * $k AS x").collect())
    assert(fresh.compiles > 0)
  }

  test("counts are complete when of returns, with no wait") {
    // Query listeners run on the listener bus: this one holds it up after
    // the first action, so the grouped plan's events are still queued
    // when the profiled body returns.
    val slow = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Thread.sleep(1000)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try {
      val (_, p) = grouped(spark.range(0, 10, 1, 2).collect())
      assert(p.jobs == 4 && p.stageTasks == Seq(2, 4, 3, 5))
    } finally spark.listenerManager.unregister(slow)
  }
}
