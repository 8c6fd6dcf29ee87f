package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index reads pass the postings schema instead of inferring it, so a
  * lookup or compaction runs no one-task schema-inference job. */
class InvertedIndexReadSpec extends graft.SparkSpec {

  private def index(): String = {
    val dir = Files.createTempDirectory("graft-idx-pin").toString
    val docs = graft.Tables.documents(spark, sf)
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0), dir)
    InvertedIndex.append(docs.filter(col("doc_id") % 2 =!= 0), dir, seg = 1L)
    dir
  }

  test("the pinned postings schema is the inferred one, bucket/seg types included") {
    val dir = index()
    val inferred = spark.read.parquet(dir).schema
    assert(inferred.fieldNames.toSeq ==
      Seq("term", "doc_ids", "df", "bucket", "seg"))
    assert(spark.read.schema(InvertedIndex.PostingsSchema).parquet(dir)
      .schema == inferred)
    val (_, pinned) = jobsOf(spark.read.schema(InvertedIndex.PostingsSchema)
      .parquet(dir))
    val (_, inferring) = jobsOf(spark.read.parquet(dir))
    assert(pinned == 0 && inferring == 1)
  }

  test("lookup runs one job fewer than the same query over an inferring read") {
    val dir = index()
    val b = InvertedIndex.metaBuckets(dir)
    def query(postings: DataFrame, term: String) = postings
      .filter(col("bucket") === pmod(xxhash64(lit(term)), lit(b.toLong))
        && col("term") === term)
      .select(explode(col("doc_ids")).as("doc_id"))
      .orderBy("doc_id")
    for (term <- Seq("vector", "no-such-term-anywhere")) {
      val (ref, refJobs) = jobsOf(query(spark.read.parquet(dir), term).collect())
      val (got, jobs) = jobsOf(InvertedIndex.lookup(spark, dir, term).collect())
      assert(got.toSeq == ref.toSeq, term)
      assert(jobs == refJobs - 1, s"$term: lookup $jobs, inferring $refJobs")
    }
  }

  test("compact runs one job fewer than its rewrite over an inferring read") {
    val dir = index()
    val b = InvertedIndex.metaBuckets(dir)
    val before = rows(InvertedIndex.lookup(spark, dir, "vector"))
    val scratch = Files.createTempDirectory("graft-idx-ref").toString + "/out"
    val (_, refJobs) = jobsOf(spark.read.parquet(dir)
      .select(col("term"), explode(col("doc_ids")).as("doc_id"))
      .distinct()
      .groupBy("term")
      .agg(sort_array(collect_list(col("doc_id"))).as("doc_ids"),
        count(lit(1)).as("df"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(b.toLong)))
      .withColumn("seg", lit(0L))
      .write.mode("overwrite").partitionBy("bucket", "seg").parquet(scratch))
    val (_, jobs) = jobsOf(InvertedIndex.compact(spark, dir))
    assert(jobs == refJobs - 1, s"compact $jobs, inferring rewrite $refJobs")
    assert(rows(InvertedIndex.lookup(spark, dir, "vector")) == before)
  }
}
