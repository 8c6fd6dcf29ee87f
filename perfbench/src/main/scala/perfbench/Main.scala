package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured call: a read or a write, with its wall time. `rows` and
  * `bytes` are the user rows and on-disk bytes a write added. */
final case class Op(kind: String, name: String, sec: Double, pass: Int,
    ok: Boolean, rows: Long = 0L, bytes: Long = 0L)

/** What one run shares between the measuring loop and its workload. */
final class Ctx(val seed: Long, val dataDir: String,
    val workDir: String, val threads: Int, val partitions: Int,
    val traceRun: Boolean) {
  var spark: SparkSession = _
  var trace = new Trace(false)
  /** Spark job/stage/task counters; set while a traced pass runs. */
  var listener: ExecListener = null
  val ops = ArrayBuffer.empty[Op]
  var pass: Int = -1
  /** Named values a workload reports; they become metrics in the report. */
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val errors = ArrayBuffer.empty[String]
  /** Query outputs for the DuckDB oracle check: name -> output directory. */
  val dumps = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Per read: does its physical plan sort globally / use fallback code. */
  val props = scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Boolean)]

  def dir(parts: String*): String = (workDir +: parts).mkString(File.separator)

  /** Times `body` (which returns the user rows it wrote) as one op of the
    * pass. On-disk bytes are measured outside the timing: the growth of
    * `grow`, or the whole size of `rewrite` for verbs that replace a
    * directory. Spark jobs the op starts carry its name. A throwing op is
    * recorded as failed and the run carries on; its message is kept. */
  def op(kind: String, name: String, grow: String = null, rewrite: String = null)(
      body: => Long): Unit = {
    val before = if (grow != null) Main.bytes(grow) else 0L
    spark.sparkContext.setLocalProperty(ExecListener.OpProperty, name)
    val t0 = System.nanoTime()
    val (rows, ok) =
      try (trace.span("op." + kind)(body), true)
      catch { case NonFatal(e) =>
        synchronized(errors += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        (0L, false)
      }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLocalProperty(ExecListener.OpProperty, null)
    val bytes =
      if (grow != null) Main.bytes(grow) - before
      else if (rewrite != null) Main.bytes(rewrite) else 0L
    synchronized(ops += Op(kind, name, sec, pass, ok, rows, bytes))
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) synchronized(errors += what)

  /** Adds `v` to the named fact (parts of a composite workload add up). */
  def fact(name: String, v: Double): Unit =
    synchronized(facts(name) = facts.getOrElse(name, 0.0) + v)

  /** Bytes and plain-parquet references of the writes of a workload part;
    * write and space amplification are taken from their sums. */
  def amp(written: Double, plainWritten: Double, onDisk: Double, plainLive: Double): Unit = {
    fact("bytes_written", written); fact("bytes_plain_written", plainWritten)
    fact("bytes_on_disk", onDisk); fact("bytes_plain_live", plainLive)
  }

  /** Bytes the ok measured writes whose name starts with `prefix` added,
    * over the passes `in` selects (pass 0 by default). */
  def writtenBytes(prefix: String, in: Int => Boolean = _ == 0): Long = synchronized {
    ops.filter(o => o.pass >= 0 && in(o.pass) && o.ok && o.kind == "write" && o.name.startsWith(prefix))
      .map(_.bytes).sum
  }
}

/** A workload: fixtures built per set-up cycle, an untimed warm-up, the
  * seeded steps of one pass over its op mix, and untimed checks. */
trait Workload {
  def setup(ctx: Ctx, cycle: Int): Unit
  def warmup(ctx: Ctx): Unit
  /** The steps of pass `ctx.pass`, in order; each usually times one op. */
  def steps(ctx: Ctx): Seq[() => Unit]
  def verify(ctx: Ctx): Unit
  /** Per-layer values of a traced run; `traced` holds the traced passes. */
  def layers(ctx: Ctx, traced: Set[Int]): Map[String, Double] = Map.empty
  /** Wall seconds of one pass on the 4-core reference box; sets how many
    * passes fill the measured time. */
  def passS: Double
}

/** Several workloads in one: each pass interleaves the parts' steps in a
  * seeded order that keeps every part's own order. */
final class Composite(parts: Workload*) extends Workload {
  def setup(ctx: Ctx, cycle: Int): Unit = parts.foreach(_.setup(ctx, cycle))
  /** The parts' warm-ups run concurrently: they share no state. */
  def warmup(ctx: Ctx): Unit = Main.parallel(ctx.threads, parts.map(p => () => p.warmup(ctx)))
  def steps(ctx: Ctx): Seq[() => Unit] = {
    val queues = parts.map(p => scala.collection.mutable.Queue(p.steps(ctx): _*))
    val rnd = new Random(ctx.seed * 131 + ctx.pass)
    val out = ArrayBuffer.empty[() => Unit]
    while (queues.exists(_.nonEmpty)) {
      // a part is picked with probability proportional to its steps left
      var k = rnd.nextInt(queues.map(_.size).sum)
      val q = queues.find { q => k -= q.size; k < 0 }.get
      out += q.dequeue()
    }
    out.toSeq
  }
  def verify(ctx: Ctx): Unit = Main.parallel(ctx.threads, parts.map(p => () => p.verify(ctx)))
  override def layers(ctx: Ctx, traced: Set[Int]): Map[String, Double] =
    parts.map(_.layers(ctx, traced)).reduce(_ ++ _)
  def passS: Double = parts.map(_.passS).sum
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace> <dataDir>
  * <workDir> <resultFile>`. Writes one JSON result file; the Python wrapper
  * checks it, runs the DuckDB oracle and prints the metrics. */
object Main {
  val SetupCycles = 3
  /** Executor threads, at most the machine's cores: results do not move
    * with the core count of a bigger machine. */
  val ExecutorThreads = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, resultFile) = args
    val nproc = Runtime.getRuntime.availableProcessors()
    val threads = nproc.min(ExecutorThreads)
    val ctx = new Ctx(seedS.toLong, dataDir, workDir, threads,
      partitions = 4, traceRun = traceS == "1")
    val wl: Workload = workload match {
      case "queries" => new Queries
      case "etl" => new Composite(new CommitLogRw, new MapperEtl)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val budgetS = secondsS.toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    out("stamp") = Map("nproc" -> nproc, "executor_threads" -> threads,
      "shuffle_partitions" -> ctx.partitions,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "seed" -> ctx.seed, "workload" -> workload, "seconds" -> budgetS,
      "trace" -> ctx.traceRun)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now }
    phases("jvm") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // set-up: a fresh session and the workload's fixtures, several times
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    (0 until SetupCycles).foreach { cycle =>
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx)
      sessionS += (System.nanoTime() - t0) / 1e9
      wl.setup(ctx, cycle)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    phase("setup")
    wl.warmup(ctx)
    phase("warmup")
    // the cold start a first user waits for: JVM start, all set-up cycles
    // and the warm-up
    val coldS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // measured: one client, closed loop, whole passes. The pass count is
    // fixed by the time budget and the workload's nominal pass time, never
    // by the clock during the run, so every run measures the same ops and
    // a faster engine simply finishes sooner. A traced run traces every
    // pass; its end-to-end figures against an untraced run of the same
    // seed give the tracing overhead.
    val passCount = math.ceil(budgetS / wl.passS).toInt.max(1)
    val listener = new ExecListener
    val planning = ArrayBuffer.empty[(Long, Long)]
    val qeListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) planning.synchronized {
          planning += ((Trace.fromEpochMs(ph.values.map(_.startTimeMs).min),
            Trace.fromEpochMs(ph.values.map(_.endTimeMs).max)))
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    val passes = ArrayBuffer.empty[(Long, Long, Trace)]
    val gc0 = Jvm.gcSeconds
    Jvm.resetHeapPeak()
    val start = System.nanoTime()
    (0 until passCount).foreach { p =>
      val traced = ctx.traceRun
      ctx.trace = new Trace(traced)
      ctx.listener = if (traced) listener else null
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(qeListener)
      }
      ctx.pass = p
      val steps = wl.steps(ctx)
      val a = Trace.now
      steps.foreach(_())
      val b = Trace.now
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(qeListener)
        spark.sparkContext.removeSparkListener(listener)
      }
      passes += ((a, b, ctx.trace))
    }
    val gcS = Jvm.gcSeconds - gc0
    val heapPeak = Jvm.heapPeakMb
    out("measured_s") = (System.nanoTime() - start) / 1e9
    out("passes") = passes.map { case (a, b, t) => Map("sec" -> (b - a) / 1e9, "traced" -> t.enabled) }.toSeq
    ctx.listener = null
    phase("measure")
    wl.verify(ctx)
    phase("verify")

    if (ctx.traceRun) {
      val traced = passes.filter(_._3.enabled)
      val perPass = traced.map { case (a, b, spansT) =>
        val w = listener.window(a, b)
        val jobs = listener.jobIntervals(a, b)
        val plans = planning.synchronized(planning.filter { case (s, _) => s >= a && s < b }.toSeq)
        val execS = Trace.union(jobs) / 1e9
        val self = spansT.selfSeconds(a, b,
          jobs.map { case (s, e) => ("spark", s, e) } ++ plans.map { case (s, e) => ("plans", s, e) })
        Map(
          "operators.build_s" -> spansT.seconds("operators.build", a, b),
          "plans.plan_s" -> plans.map { case (s, e) => (e - s) / 1e9 }.sum,
          "exec.s" -> execS,
          "exec.cpu_util" -> (if (execS > 0) w("task_cpu_s") / (execS * threads) else 0.0),
          "sink.write_s" -> spansT.seconds("sink.write", a, b)) ++
          w.map { case (k, v) => ("exec." + k) -> v } ++
          self.map { case (k, v) => ("self." + k + "_s") -> v }
      }.toSeq
      // times: median over the traced passes; counts: the first traced
      // pass (every traced pass replays the same steps)
      val layer = perPass.flatMap(_.keys).distinct.map { k =>
        val vs = perPass.map(_.getOrElse(k, 0.0))
        k -> (if (k.endsWith("_s") || k == "exec.s" || k == "exec.cpu_util") median(vs) else vs.head)
      }.toMap
      val tracedIds = passes.indices.filter(i => passes(i)._3.enabled).toSet
      out("layers") = layer ++ wl.layers(ctx, tracedIds) ++ Map(
        "session.start_s" -> median(sessionS.toSeq),
        "setup.cold_s" -> coldS,
        "jvm.gc_s" -> gcS / passes.size,
        "jvm.heap_peak_mb" -> heapPeak)
    }
    phase("layers")
    // the spans of every traced pass, start and end in seconds from the
    // start of their pass
    out("spans") = passes.zipWithIndex.filter(_._1._3.enabled).flatMap { case ((a, _, t), i) =>
      t.spans.map(sp => Map("pass" -> i, "name" -> sp.name, "start" -> (sp.start - a) / 1e9,
        "end" -> (sp.end - a) / 1e9, "parent" -> sp.parent))
    }.toSeq
    out("phases") = phases.toMap
    out("setup_s") = setupS.toSeq
    out("ops") = ctx.ops.toSeq
    out("facts") = ctx.facts.toMap
    out("dumps") = ctx.dumps.toMap
    out("oracle_sql") = ctx.dumps.keys.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    out("props") = ctx.props.map { case (k, (s, f)) => k -> Map("global_sort" -> s, "fallback" -> f) }.toMap
    out("errors") = ctx.errors.toSeq
    Files.writeString(Paths.get(resultFile), new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }

  /** Runs independent tasks on `threads` threads; rethrows the first failure. */
  def parallel(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      fs.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def newSession(ctx: Ctx): SparkSession = {
    val s = graft.GraftSession.install(
      graft.GraftSession.builder(s"local[${ctx.threads}]", ctx.partitions)
        .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
        .config("spark.local.dir", ctx.dir("spark-local"))
        .config("spark.hadoop.hadoop.tmp.dir", ctx.dir("hadoop-tmp"))
        .getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bytes under a directory tree (0 when absent). */
  def bytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var total = 0L
        st.filter(Files.isRegularFile(_)).forEach(f => total += Files.size(f))
        total
      } finally st.close()
    }
  }

  /** Files under `path` whose name ends with `suffix`. */
  def countFiles(path: String, suffix: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).count()
      finally st.close()
    }
  }

  /** Size of `df` written once as plain parquet into `dir`. */
  def plainBytes(df: DataFrame, dir: String): Long = {
    df.write.mode("overwrite").parquet(dir)
    bytes(dir)
  }

  /** Row multisets equal: nothing is left over in either direction. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
}
