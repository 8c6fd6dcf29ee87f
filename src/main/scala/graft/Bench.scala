package graft
import java.nio.file.{Files, Paths}
import graft.sources.Json

/** Benchmark main: every declared query through the `noop` write sink.
  *
  * Timing protocol. Each query runs one discarded warmup rep, then
  * `reps_effective` timed reps back to back; its figure is the median rep,
  * and "value" is the sum of the medians of the queries that succeeded. A
  * rep is the DataFrame build (`fn(spark, sfDir)`) plus the noop write of
  * that frame, timed separately and summed. Reps run back to back because
  * interleaving other queries between them cools the JIT, page cache and
  * file-listing caches a query's own reps keep warm, and reads several
  * times slower with no engine change. The noop sink materializes every
  * output column (a `count()` would let Catalyst prune them) and discards
  * the rows. A query that throws is recorded with its wall time until the
  * failure, negated, skips its remaining reps and is listed in "failed".
  *
  * Budget. `SPARK_GRAFT_BUDGET_S` (default 240) bounds the query time
  * after startup. Before the first query, the per-query costs pinned in the
  * tracked `bench_cost_pin.json` (read only; a query it lacks is priced at
  * the median known cost) estimate one pass, and
  * `reps_effective = clamp((0.95 × budget − 1.5 × pass) / pass, 1, reps)`
  * fixes the same rep count for every query (`SPARK_GRAFT_REPS`, default 5,
  * when fewer than half the queries have a pinned cost). Once the elapsed
  * time passes 1.25 × budget, the remaining queries run one rep each and
  * the run reports `degraded: true`.
  *
  * Output protocol.
  *  - After each query: a `BENCH_Q: {"name","sec","reps","ok"}` line, and
  *    `bench_out.json` and `bench_profile.json` rewritten whole, so a
  *    killed run leaves valid files for every finished query.
  *  - `bench_profile.json`: per query, one object per timed rep with its
  *    `build_s` and `write_s` and the [[Profile]] of the rep's jobs
  *    (jobs, stages, tasks, single-task stages, task CPU and run time,
  *    shuffle and spill bytes, and `compiles`, the classes the rep
  *    compiled). Each rep runs under its own job group.
  *  - At the end, a `BENCH_JSON: ` line with the full result.
  *  - The last stdout line is bare JSON printed by a shutdown hook, so it
  *    comes last on a normal exit and, best effort, on SIGTERM: the full
  *    result when it is at most 3,000 characters, otherwise the same line
  *    without "queries" and with `"queries_in":"bench_out.json"`. The hook
  *    prints only a string pre-rendered on the main thread. build.sbt keeps
  *    sbt's footer and `[info]` prefixes off stdout for this line.
  *
  * `SPARK_GRAFT_ONLY=q_a,q_b` restricts the run to the named queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.install(
      GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen path once so the first timed query doesn't absorb
    // one-time session setup costs.
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    SparkEntry.queries.get("q_scan_count")
      .foreach(fn => try evaluate(fn(spark, sfDir)) catch { case _: Throwable => () })
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "240").toDouble
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def r3(v: Double): BigDecimal = BigDecimal(f"$v%.3f")

    val priorCosts: Map[String, Double] = {
      val p = Paths.get("bench_cost_pin.json")
      if (!Files.exists(p)) Map.empty
      else Json.parse(Files.readString(p))
        .flatMap(o => Json.map(o.path("queries"))(Json.num))
        .getOrElse(Map.empty).map { case (k, v) => k -> math.abs(v) }
    }
    val repsEffective: Int = {
      val known = selected.flatMap { case (n, _) => priorCosts.get(n) }
      if (known.size * 2 < selected.size) reps // estimate too thin to trust
      else {
        val fallback = known.sorted.apply(known.size / 2)
        val pass = selected.map { case (n, _) =>
          priorCosts.getOrElse(n, fallback) }.sum
        ((budgetS * 0.95 - 1.5 * pass) / pass).toInt.max(1).min(reps)
      }
    }
    val benchStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchStart) / 1e9

    // (name, medianOrNegFailTime, ok, repsUsed)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean, Int)]
    val profiles = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Any])]
    // The shutdown hook reads only this immutable string, never `results`.
    @volatile var latestShortJson: String = null
    def writeSnapshot(): String = {
      val total = results.collect { case (_, v, true, _) => v }.sum
      // degraded only when the emergency brake gave some query fewer reps
      // than reps_effective: such medians depend on the query's position
      val common = Seq(
        "failed" -> results.collect { case (k, _, false, _) => k },
        "reps" -> reps, "reps_effective" -> repsEffective,
        "degraded" -> results.exists(_._4 < repsEffective),
        "budget_s" -> r3(budgetS), "done" -> results.size,
        "of" -> selected.size, "sf" -> sfDir)
      val head = Seq("metric" -> "total", "value" -> r3(total), "unit" -> "sec")
      val json = Json.write(head ++ (("queries" -> Json.obj(
        results.map { case (k, v, _, _) => k -> r3(v) }.toSeq: _*)) +: common): _*)
      Files.writeString(Paths.get("bench_out.json"), json + "\n")
      Files.writeString(Paths.get("bench_profile.json"), Json.write(
        "sf" -> sfDir, "cores" -> cpus.toInt,
        "queries" -> Json.obj(profiles.toSeq: _*)) + "\n")
      // A >3 KB line can be front-truncated by the driver's tail window into
      // unparseable JSON; the fallback total-only line always fits.
      latestShortJson =
        if (json.length <= 3000) json
        else Json.write(head ++ common :+ ("queries_in" -> "bench_out.json"): _*)
      json
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val snap = latestShortJson
      if (snap != null) {
        System.out.println(snap)
        System.out.flush()
      }
    }))

    selected.foreach { case (name, fn) =>
      val repsThis = if (elapsedS > budgetS * 1.25) 1 else repsEffective
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val repProfiles = scala.collection.mutable.ArrayBuffer.empty[Any]
      var failed = false
      // the warmup pays codegen and cold listings no later rep pays; it
      // still witnesses a failure
      val w0 = System.nanoTime()
      try evaluate(fn(spark, sfDir)) catch { case _: Throwable => failed = true }
      val warmup = (System.nanoTime() - w0) / 1e9
      var rep = 0
      while (rep < repsThis && !failed) {
        val t0 = System.nanoTime()
        var t1 = t0
        try {
          val (t2, p) = Profile.of(spark) {
            val df = fn(spark, sfDir)
            t1 = System.nanoTime()
            evaluate(df)
            System.nanoTime()
          }
          times += (t2 - t0) / 1e9
          repProfiles += Json.obj("build_s" -> r3((t1 - t0) / 1e9),
            "write_s" -> r3((t2 - t1) / 1e9), "jobs" -> p.jobs,
            "stages" -> p.stages, "tasks" -> p.tasks,
            "single_task_stages" -> p.singleTaskStages,
            "task_cpu_s" -> r3(p.taskCpuS), "task_run_s" -> r3(p.taskRunS),
            "shuffle_read_bytes" -> p.shuffleReadBytes,
            "shuffle_write_bytes" -> p.shuffleWriteBytes,
            "spill_bytes" -> p.spillBytes, "compiles" -> p.compiles)
        } catch { case _: Throwable =>
          failed = true
          times += (System.nanoTime() - t0) / 1e9
        }
        rep += 1
      }
      val sorted = times.sorted
      val median = if (sorted.isEmpty) warmup else sorted(sorted.size / 2)
      results += ((name, if (failed) -times.lastOption.getOrElse(warmup) else median, !failed, repsThis))
      profiles += (name -> repProfiles.toSeq)
      println("BENCH_Q: " + Json.write("name" -> name, "sec" -> r3(median),
        "reps" -> repsThis, "ok" -> !failed))
      writeSnapshot()
    }
    val json = writeSnapshot()
    // Human-readable full-map sentinel (prefixed, so never the parse target).
    println(s"BENCH_JSON: $json")
    spark.stop()
  }
}
