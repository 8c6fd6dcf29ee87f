package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import graft.sources.CommitLog

/** [[Tables.fanOut]] judges a scan's parallelism by its files and, when
  * the size is known, its bytes; a frame without statistics is judged by
  * its files alone. */
class FanOutSpec extends SparkSpec {

  /** fanOut planned a round-robin repartition to the shuffle parallelism. */
  private def fansOut(df: DataFrame): Boolean = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.fanOut(df).queryExecution.analyzed.collectFirst {
      case r: Repartition if r.shuffle => r.numPartitions
    }.contains(parts)
  }

  test("a commit-log change feed (no statistics, no files) is fanned out") {
    val root = Files.createTempDirectory("graft-fanout").toString
    CommitLog.commitAppend(spark, root, "w", "append",
      createOnEmpty = true)(spark.range(0, 100).toDF("k"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      spark.range(100, 200).toDF("k"))
    val feed = spark.read.format("graft.commitlog")
      .option("changesSince", "1").load(root)
    assert(feed.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes, "the feed reports no size")
    assert(feed.inputFiles.isEmpty)
    assert(fansOut(feed))
  }

  test("parquet scans plan as before: one small file fans out, many files or many splits do not") {
    assert(fansOut(Tables.documents(spark, sf)))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val many = Files.createTempDirectory("graft-fanout-files").toString + "/t"
    spark.range(0, 1000).repartition(parts).write.parquet(many)
    assert(!fansOut(spark.read.parquet(many)))
    // the bytes term still counts on a known size: documents is one file
    // of ~64 KB, i.e. more than `parts` splits of 1 KB
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try assert(!fansOut(Tables.documents(spark, sf)))
    finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }
}
