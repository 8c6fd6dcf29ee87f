package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. Times are nanoseconds on the
  * [[Trace.now]] clock; `parent` is the index of the enclosing span, or -1. */
final case class Span(name: String, start: Long, end: Long, parent: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the thread that runs the ops. When
  * disabled, `span` only runs its body, so an untraced run pays nothing but
  * the call. */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, Trace.now, -1L, open.headOption.getOrElse(-1))
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = Trace.now)
      }
    }

  /** Total seconds of the spans named `name` that started inside [from, to). */
  def seconds(name: String, from: Long, to: Long): Double =
    spans.iterator.filter(s => s.name == name && s.start >= from && s.start < to && s.end >= 0)
      .map(_.seconds).sum

  /** Self seconds per layer over the spans that started inside [from, to):
    * each span's duration minus the union of its child spans and of the
    * external intervals (Spark jobs, planning phases) whose innermost
    * enclosing span it is. External intervals outside every span are
    * reported under their own layer name. */
  def selfSeconds(from: Long, to: Long,
      external: Seq[(String, Long, Long)]): Map[String, Double] = {
    val in = spans.indices.filter { i =>
      val s = spans(i); s.start >= from && s.start < to && s.end >= 0 }
    def owner(t: Long): Int = in.filter { i =>
      spans(i).start <= t && t < spans(i).end }.sortBy(i => spans(i).start)
      .lastOption.getOrElse(-1)
    val ext = external.groupBy { case (_, a, _) => owner(a) }
    val kids = in.groupBy(i => spans(i).parent)
    val spanSelf = in.map { i =>
      val s = spans(i)
      val iv = kids.getOrElse(i, Nil).map(k => (spans(k).start, spans(k).end)) ++
        ext.getOrElse(i, Nil).map { case (_, a, b) => (a, b) }
      val covered = Trace.union(iv.map { case (a, b) => (a max s.start, b min s.end) })
      Trace.layer(s.name) -> ((s.end - s.start - covered).max(0L) / 1e9)
    }
    // external intervals are leaves: their union is their layer's self time
    val extSelf = external.groupBy(e => Trace.layer(e._1)).map { case (l, es) =>
      l -> Trace.union(es.map { case (_, a, b) => (a, b) }) / 1e9 }
    (spanSelf ++ extSelf).groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Trace {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime()
  /** A listener event's epoch-ms time on the [[now]] clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def layer(name: String): String = name.takeWhile(_ != '.')

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Job, stage and task counters of one Spark application, kept per job so
  * a window of the run can be summed after the listener bus drains. */
final class ExecListener extends SparkListener {
  import ExecListener._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    jobs.put(e.jobId, JobRec(Trace.fromEpochMs(e.time), -1L, e.stageIds, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Trace.fromEpochMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, StageAgg(i.numTasks,
      m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
      m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Jobs that started inside [from, to), as (start, end) intervals. */
  def jobIntervals(from: Long, to: Long): Seq[(Long, Long)] =
    jobs.values.asScala.filter(j => j.start >= from && j.start < to)
      .map(j => (j.start, if (j.end < 0) to else j.end)).toSeq

  /** Counters over the jobs that started inside [from, to) for the ops
    * `keep` accepts. Each completed stage counts once, under the first job
    * that listed it. */
  def window(from: Long, to: Long, keep: String => Boolean = _ => true): Map[String, Double] = {
    val js = jobs.asScala.toSeq
      .filter { case (_, j) => j.start >= from && j.start < to && keep(j.op) }
      .sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val ss = js.flatMap(_._2.stages).filter(seen.add).flatMap(id => Option(stages.get(id)))
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "single_task_stages" -> ss.count(_.tasks == 1).toDouble,
      "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "task_run_s" -> ss.map(_.runMs).sum / 1e3,
      "gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "scan_bytes" -> ss.map(_.inBytes).sum.toDouble,
      "scan_stages" -> ss.count(_.inBytes > 0).toDouble,
      "shuffle_read_bytes" -> ss.map(_.shReadBytes).sum.toDouble,
      "shuffle_write_bytes" -> ss.map(_.shWriteBytes).sum.toDouble,
      "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble)
  }
}

object ExecListener {
  final case class StageAgg(tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
      inBytes: Long, shReadBytes: Long, shWriteBytes: Long, spillBytes: Long)
  final case class JobRec(start: Long, var end: Long, stages: Seq[Int], op: String)
  /** Local property naming the measured op that started a job. */
  val OpProperty = "perfbench.op"
}

/** Driver-JVM garbage collection and heap, read from the platform beans. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
