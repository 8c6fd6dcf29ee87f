package perfbench

import org.apache.spark.sql.functions.{col, expr}

/** The five native expressions that still run through `CodegenFallback`,
  * each timed alone as its registered SQL function over its own table.
  * Inputs are materialized first, so a timing covers one scan of a small
  * parquet table and the function, summed to a single row. */
object Functions {
  val Reps = 3
  /** Each input row is repeated so the per-row cost outweighs the scan. */
  val Copies = 20

  def time(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val toks = ctx.dir("fn", "tokens")
    graft.Tables.documents(s, ctx.dataDir).crossJoin(s.range(Copies))
      .select(col("text"), expr("split(text, ' ')").as("t"))
      .write.mode("overwrite").parquet(toks)
    val emb = graft.Tables.embeddings(s, ctx.dataDir).crossJoin(s.range(Copies))
      .select(expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val vecs = ctx.dir("fn", "vectors")
    // codes: 8 sub-spaces of 16 centroids each, derived from the vector
    emb.select(col("v"),
      expr("transform(sequence(0, 7), j -> cast(abs(v[j * 8]) * 1000 AS int) % 16)").as("codes"))
      .write.mode("overwrite").parquet(vecs)
    val lut = (0 until 8).map(j => (0 until 16).map(k => f"${(j * 16 + k) * 0.001}%.3fD")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val centroids = s.read.parquet(vecs).select("v").limit(16).collect()
      .map(_.getSeq[Double](0).map(d => s"${d}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    s.read.parquet(toks).createOrReplaceTempView("pb_tokens")
    s.read.parquet(vecs).createOrReplaceTempView("pb_vectors")
    val sql = Seq(
      "functions.tokens_s" -> "SELECT sum(size(graft_tokens(text))) FROM pb_tokens",
      "functions.grams_s" -> "SELECT sum(size(grams(t, 3, ' '))) FROM pb_tokens",
      "functions.gram_max_count_s" -> "SELECT sum(gram_max_count(t, 2)) FROM pb_tokens",
      "functions.adc_dist_s" -> s"SELECT sum(adc_dist($lut, codes)) FROM pb_vectors",
      "functions.nearest_cells_s" ->
        s"SELECT sum(element_at(nearest_cells(v, $centroids, 2), 1)) FROM pb_vectors")
    sql.map { case (name, q) =>
      s.sql(q).collect() // compile and warm
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime(); s.sql(q).collect(); (System.nanoTime() - t0) / 1e9 }
      name -> Main.median(ts)
    }.toMap
  }
}
