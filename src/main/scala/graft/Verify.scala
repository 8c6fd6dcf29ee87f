package graft
import java.nio.file.{Files, Paths}
import graft.sources.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.install(
      GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Each query runs under its own Profile. jobs.json records the jobs and
    // stages of every query that dumped, with the data directory and core
    // count they were counted at; tools/compare.py checks them against
    // plans/jobs.json.
    val counts = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try {
        val (_, p) = Profile.of(spark)(fn(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name"))
        Some(name -> Json.obj("jobs" -> p.jobs, "stages" -> p.stages))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }
    Files.writeString(Paths.get(s"$outDir/jobs.json"), Json.write(
      "sf" -> sfDir, "cores" -> cpus.toInt, "queries" -> counts.toMap) + "\n")
    // Defensive self-containment: TESTDATA.md's table list omits
    // documents/embeddings, so if the driver's DuckDB session registers only
    // the listed names, those oracles would fail to resolve. Rewriting bare
    // table references to direct parquet paths (for THIS sfDir) works under
    // either registration scheme — DuckDB names a file scan after its stem,
    // so qualified column references still resolve, and any explicit alias
    // after the table token is preserved.
    // Case-insensitive so a lowercase `from`/`join` in future oracle SQL
    // still gets rewritten. The whole-regex (?i) also matches mixed-case
    // table tokens, so the replacement lowercases the matched name — the
    // parquet files on disk are all-lowercase.
    val tableRef = ("(?i)\\b(FROM|JOIN) (" + Tables.names.mkString("|") + ")\\b").r
    // Guard: the token rewrite cannot tell a real table from a CTE of the
    // same name — a CTE called e.g. `part` would be rewritten to a parquet
    // path and silently change the oracle. Fail the dump loudly instead.
    val cteName = "(?i)\\b(\\w+)\\s+AS\\s*\\(".r
    def selfContained(name: String, sql: String): String = {
      val ctes = cteName.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val collisions = ctes.intersect(Tables.names.toSet)
      require(collisions.isEmpty,
        s"oracle $name defines CTE(s) ${collisions.mkString(",")} shadowing " +
          "real table names; rename them — the self-containment rewrite " +
          "would corrupt the SQL")
      tableRef.replaceAllIn(sql, m =>
        s"${m.group(1)} '$sfDir/${m.group(2).toLowerCase}.parquet'")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(
      SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> selfContained(k, v) }: _*))
    spark.stop()
  }
}
