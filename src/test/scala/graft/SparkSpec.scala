package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (same config surface as the driver's
  * Verify/Bench sessions, smaller parallelism for test speed). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.install(
    GraftSession.builder("local[4]", 4)
      .appName("graft-test").getOrCreate())

  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = { /* shared across suites; do not stop */ }

  /** Runs `body` under the session settings `kvs`, then restores the
    * previous values. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The setting under which every output sort counts as large and keeps
    * the distributed range sort (see [[graft.plans.FinalSortPlacement]]). */
  val largeSorts: (String, String) =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"

  def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The Spark jobs `body` starts, counted by [[Profile]]. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (r, p) = Profile.of(spark)(body)
    (r, p.jobs)
  }
}
