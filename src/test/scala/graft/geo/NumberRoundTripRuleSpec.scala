package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.pipeline.ImageGen

/** The print-then-parse fold: `cast(substring(concat(p, cast(x as string)),
  * len(p)+1, L) as bigint)` becomes `cast(x as bigint)` for integral `x`
  * and L >= 20, inline or across one Project boundary. Exact: every row
  * equals a session without the rule; near-miss shapes keep their
  * substring.
  */
class NumberRoundTripRuleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  /** A session on the same context that never installs the rule. */
  lazy val plain = spark.newSession()

  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  private def printed(prefix: Column, x: Column): Column = concat(prefix, x.cast("string"))
  private def parsed(s: Column, pos: Int = 5, len: Int = 20): Column =
    substring(s, pos, len).cast("long")

  /** Long ids with int and byte views of them (null where out of range),
    * which no literal folding can reach: a repartition sits between the
    * local rows and the projections under test. */
  private val ids = Seq[java.lang.Long](0L, 7L, -1L, -42L, Int.MinValue.toLong, Int.MaxValue.toLong,
    Long.MinValue, Long.MaxValue, null)
  private def idFrame(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    ids.toDF("id")
      .withColumn("i", when($"id".between(Int.MinValue.toLong, Int.MaxValue.toLong), $"id".cast("int")))
      .withColumn("b", ($"id" % 100).cast("byte"))
      .repartition(1)
  }

  /** The same query in both sessions: (rows with the rule, rows without,
    * the ruled plan). */
  private def both(q: DataFrame => DataFrame): (Seq[Row], Seq[Row], String) = {
    val ruled = q(idFrame(spark))
    (ruled.collect().toSeq, q(idFrame(plain)).collect().toSeq, optimized(ruled))
  }

  test("withLngLat over ImageGen.table parses no string: lng/lat come from the numeric id") {
    // PipelineSpec checks the coordinates against the closed-form formula
    val plan = optimized(ImageGen.withLngLat(ImageGen.table(spark, 50)))
    assert(!plan.contains("substring("), s"a substring survived:\n$plan")
  }

  test("inline form: rows equal a session without the rule (negative, extremes, int, byte, null)") {
    val (ruled, ref, plan) = both(_.select(
      col("id"),
      parsed(printed(lit("img_"), col("id"))).as("n"),
      parsed(printed(lit("q"), col("i")), pos = 2).as("ni"),
      parsed(printed(lit(""), col("b")), pos = 1).as("nb"),
      // the 2-argument substring reads to the end of the string
      expr("CAST(substring(concat('img_', CAST(id AS STRING)), 5) AS BIGINT)").as("n2")))
    assert(!plan.contains("substring("), s"a substring survived:\n$plan")
    assert(ruled == ref)
    ruled.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(1) == r.getLong(0) && r.getLong(4) == r.getLong(0))
    }
    assert(ruled.exists(r => !r.isNullAt(1) && r.getLong(1) == Long.MinValue))
  }

  test("across one Project: the parse reads the id the child Project now passes through") {
    val (ruled, ref, plan) = both { df =>
      df.select(printed(lit("img_"), col("id")).as("k"), printed(lit("n:"), col("i")).as("ki"))
        // k is both kept and parsed, so the Projects do not collapse
        .select(col("k"), col("ki"), parsed(col("k")).as("n"), parsed(col("ki"), pos = 3).as("ni"))
    }
    assert(!plan.contains("substring("), s"a substring survived:\n$plan")
    assert(ruled == ref)
    assert(ruled.map(_.get(2)) == ids)
  }

  test("near-miss shapes keep their substring") {
    // a per-row prefix, so no folding turns it into a literal
    val base = spark.range(5).withColumn("p", when(col("id") >= 0, lit("img_")))
    val misses = Seq(
      "wrong pos" -> parsed(printed(lit("img_"), col("id")), pos = 4),
      "L = 19" -> parsed(printed(lit("img_"), col("id")), len = 19),
      "3-child concat" -> substring(concat(lit("img_"), col("id").cast("string"), lit("")), 5, 20)
        .cast("long"),
      "non-literal prefix" -> parsed(printed(col("p"), col("id"))),
      "cast to int" -> substring(printed(lit("img_"), col("id")), 5, 20).cast("int"))
    misses.foreach { case (name, c) =>
      val plan = optimized(base.select(c.as("n")))
      assert(plan.contains("substring("), s"$name was rewritten:\n$plan")
    }
    // and across a Project boundary
    val cross = optimized(base.select(printed(lit("img_"), col("id")).as("k"))
      .select(col("k"), parsed(col("k"), pos = 4).as("n")))
    assert(cross.contains("substring("), s"wrong pos across a Project was rewritten:\n$cross")
  }
}
