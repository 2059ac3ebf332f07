package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry.spread decides from the planned scans alone: building a
  * query over an aggregated input runs no job, although under AQE
  * executing the plan for its partition count would run its shuffle stage.
  */
class SpreadSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("spread builds over an aggregated single-file input without running a job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString + "/t"
    spark.range(20000).select(col("id"), (col("id") % 97).as("k"))
      .coalesce(1).write.parquet(dir)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val agg = spark.read.parquet(dir).groupBy("k").agg(count(lit(1)).as("n"))
    Thread.sleep(1000) // the write's job events drain first (delivery is async)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val spread = try {
      val out = SparkEntry.spread(agg, Seq(col("k")), minBytes = 0L)
      Thread.sleep(1000)
      assert(jobs.get() == 0, s"spread ran ${jobs.get()} job(s) while the query was built")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    // one scan task on a multi-core session: the input is spread, rows kept
    assert(spread ne agg)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(spread) == rows(agg) && rows(agg).size == 97)
  }
}
