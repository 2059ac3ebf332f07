package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Range}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions._

/** The flagship's polygon side is 120 (fixture, copy) rows built on the
  * driver: no cross join, no Range broadcast, the same rows in the same
  * order as the cross-join construction it replaced (kept here as the
  * reference), and one job fewer per flagship pass.
  */
class FixturePolygonsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The former construction: 3 parsed fixtures crossed with range(copies). */
  private def crossJoinPolygons(s: SparkSession, copies: Int = 40): DataFrame = {
    val raw = Seq("polygon.json", "multi_polygon.json", "geo_with_bbox.json").map { n =>
      val in = getClass.getResourceAsStream(s"/geo-fixtures/$n")
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (n.stripSuffix(".json"), text)
    }
    raw.toDF("fixture", "geojson")
      .select($"fixture", from_geojson_geom($"geojson").as("geom0"))
      .crossJoin(s.range(copies).select($"id".as("copy")))
      .withColumn("dlng", (col("copy") * 7.3 + 13.0) % 340.0 - 170.0)
      .withColumn("dlat", (col("copy") * 3.1) % 140.0 - 70.0)
      .withColumn("geom", GeoImagePipeline.translate_geom(col("geom0"), col("dlng"), col("dlat")))
      .withColumn("poly_id", concat($"fixture", lit("#"), $"copy"))
      .select("poly_id", "geom")
  }

  /** Every double replaced by its raw bits, so equality is bit for bit. */
  private def bits(v: Any): Any = v match {
    case d: Double      => java.lang.Double.doubleToRawLongBits(d)
    case r: Row         => r.toSeq.map(bits)
    case s: Iterable[_] => s.map(bits).toSeq
    case other          => other
  }

  /** Jobs started while `body` runs (the listener bus delivers asynchronously). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Thread.sleep(1000)
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(1000) } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("fixturePolygons plans no Join and no Range, and its call runs no job") {
    var polys: DataFrame = null
    assert(jobsDuring { polys = GeoImagePipeline.fixturePolygons(spark) } == 0)
    val plan = polys.queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j; case r: Range => r }.isEmpty, plan.toString)
  }

  test("fixturePolygons rows equal the cross-join construction, in order and bit for bit") {
    val neu = GeoImagePipeline.fixturePolygons(spark).collect()
    val old = crossJoinPolygons(spark).collect()
    assert(neu.length == 120)
    assert(neu.map(_.getString(0)).take(2).toSeq == Seq("polygon#0", "polygon#1"))
    assert(neu.map(bits).toSeq == old.map(bits).toSeq)
  }

  test("a flagship-shaped pass (pipJoin -> assignTiles -> noop) runs 2 jobs, the cross join ran 3") {
    def pass(polys: DataFrame): Int = jobsDuring {
      val pts = ImageGen.withLngLat(ImageGen.table(spark, 20000, partitions = 4))
      SpatialJoins.assignTiles(SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 5),
        "lng", "lat", 12)
        .select("image_id", "poly_id", "tile_key", "phash")
        .write.format("noop").mode("overwrite").save()
    }
    assert(pass(GeoImagePipeline.fixturePolygons(spark)) == 2)
    assert(pass(crossJoinPolygons(spark)) == 3)
  }
}
