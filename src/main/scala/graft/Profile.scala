package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Execution counters of the Spark jobs one piece of driver code started.
  * `stageTasks` holds the task count of each completed stage, in stage-id
  * order; a stage skipped because its shuffle output was reused is not
  * counted. Shuffle read sums local and remote bytes; spill sums the
  * memory and disk sizes of spilled data, as Spark's stage metrics report
  * them. `compiles` is the number of Janino compilations of generated code
  * made while the code ran, a miss of Spark's compiled-class cache each.
  * Unlike the other counters it is JVM-wide, not scoped to the job group:
  * compilations by other threads meanwhile are counted too. */
final case class ExecProfile(jobs: Int, stageTasks: Seq[Int],
    taskRunS: Double, taskCpuS: Double, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, compiles: Long) {
  def stages: Int = stageTasks.size
  def tasks: Int = stageTasks.sum
  def singleTaskStages: Int = stageTasks.count(_ == 1)
}

/** The one execution profiler of the harnesses ([[Verify]], [[Bench]] and
  * the test suites). Sessions do not register it: only the code that asks
  * for a profile pays for its listener. */
object Profile {
  /** Runs `body` under a job group of its own and returns its result with
    * the counters of every job started in that group: jobs of `body`'s
    * thread and of the threads Spark hands the group on to (broadcast and
    * subquery execution), but not jobs that other threads run meanwhile.
    * The listener bus is drained before the counters are read, so they
    * are complete when this returns. */
  def of[T](spark: SparkSession)(body: => T): (T, ExecProfile) = {
    val sc = spark.sparkContext
    val l = new Counters(s"graft-profile-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(l)
    sc.setJobGroup(l.group, "graft.Profile")
    val compiles0 = compileCount
    try {
      val r = body
      GraftBridge.drainListenerBus(sc)
      (r, l.profile(compileCount - compiles0))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Janino compilations in this JVM so far: the count of Spark's
    * compile-time histogram, which records one sample per compiled class. */
  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final case class Stage(tasks: Int, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  private final class Counters(val group: String) extends SparkListener {
    private val jobs = new AtomicInteger
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val stages = new ConcurrentHashMap[Int, Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stageIds.add)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (stageIds.contains(i.stageId) && m != null)
        stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime,
          m.executorCpuTime,
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }

    def profile(compiles: Long): ExecProfile = {
      val ss = stages.asScala.toSeq.sortBy(_._1).map(_._2)
      ExecProfile(jobs.get, ss.map(_.tasks), ss.map(_.runMs).sum / 1e3,
        ss.map(_.cpuNs).sum / 1e9, ss.map(_.shuffleRead).sum,
        ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum, compiles)
    }
  }
}
