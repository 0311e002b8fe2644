package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + helpers for all suites. One warm session per JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Assert the final physical plan contains an operator/marker. */
  def assertPlanContains(df: DataFrame, marker: String): Unit = {
    val plan = physicalPlan(df)
    assert(plan.contains(marker), s"expected '$marker' in plan:\n$plan")
  }

  /** The number of Spark jobs `f` starts. The listener bus is drained
    * before the counter attaches (no earlier action's events leak in)
    * and after `f` returns (none of its own are missed), so the count
    * is exact without sleeping.
    */
  def jobsDuring(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      f
      org.apache.spark.GraftTestBus.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.create("local[4]", 4)
    // r16: suites run with per-group scratch roots (build.sbt
    // testGrouping), which lengthens every persisted-table path; raise
    // the explain metadata cap so plan assertions on path suffixes
    // (e.g. "postings_pos") are not hidden by location truncation
    s.conf.set("spark.sql.maxMetadataStringLength", "400")
    s
  }
}
