package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's compiled-class cache holds every class of the benchmark's query
  * surface, so a repeated query compiles nothing
  * ([[GraftSession.CodegenCacheEntries]]). */
class CodegenCacheSpec extends SparkSpec {
  /** The reads and sink writes of one `queries` pass of the benchmark:
    * perfbench's `Olap`, `Text` and `Sinks` lists, by name. */
  private val benchQueries = Seq(
    "q_agg_pricing_summary", "q_agg_percentile_cont", "q_window_rank",
    "q_join_multi", "q_join_hash", "q_sort_multi", "q_funnel",
    "q_topk_per_group",
    "q_text_tokens", "q_text_repetition", "q_decontaminate", "q_sim_ann_ivf",
    "q_search_index", "q_sim_topk",
    "q_agg_rollup", "q_filter_ineq")

  /** Classes compiled by one round: each query built and written to the
    * noop sink, one after another. */
  private def round(): Long = Profile.of(spark) {
    benchQueries.foreach(q => SparkEntry.queries(q)(spark, sf)
      .write.mode("overwrite").format("noop").save())
  }._2.compiles

  /** Empties Spark's JVM-wide cache (a private field of the code
    * generator, of a Spark-private type), so the first round starts cold
    * whatever ran before it in this JVM. */
  private def emptyCodegenCache(): Unit = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(null)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("the benchmark's queries compile once per JVM, not once per execution") {
    emptyCodegenCache()
    val first = round()
    val second = round()
    // more distinct classes than Spark's default cache of 100 holds
    assert(first > 100, s"first round compiled $first classes")
    assert(second == 0, s"second round compiled $second of $first classes again")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }
}
