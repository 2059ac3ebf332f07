package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions._
import graft.ops.Dedup
import graft.pipeline.ImageGen

/** The point side of every cell-keyed join: engine functions are
  * null-intolerant, so a join key or refine over raw coordinates would let
  * Catalyst push isnotnull(lng/lat) below the projection that derives them
  * and run that derivation twice per row. Points come from ImageGen, whose
  * coordinates are parsed from a string, as in the flagship pipeline.
  */
class PointJoinPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def polys = Seq(
    ("a", """{"type":"Polygon","coordinates":[[[10.0,10.0],[20.0,10.0],[20.0,20.0],[10.0,20.0],[10.0,10.0]]]}"""))
    .toDF("poly_id", "geojson").select($"poly_id", from_geojson_geom($"geojson").as("geom"))

  private def index(p: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pt_idx").toString + "/index"
    SpatialJoins.writeCoverIndex(p, "poly_id", "geom", dir, res = 4)
    dir
  }

  /** Filter conditions found under a Project that derives a coordinate
    * (a column named `*lng` or `*lat` computed from other columns). */
  private def filtersBelowDerivation(df: DataFrame): (Int, Seq[String]) = {
    val derive = df.queryExecution.optimizedPlan.collect {
      case p: Project if p.projectList.exists {
        case a: Alias => (a.name.endsWith("lng") || a.name.endsWith("lat")) &&
          !a.child.isInstanceOf[Attribute]
        case _        => false
      } => p
    }
    (derive.size, derive.flatMap(_.child.collect { case f: Filter => f.condition.sql }))
  }

  test("point-side joins push no filter below the projection that derives the coordinates") {
    val pts = ImageGen.withLngLat(ImageGen.table(spark, 200))
    val qs = ImageGen.withLngLat(ImageGen.table(spark, 5))
      .select($"image_id".as("qid"), $"lng".as("qlng"), $"lat".as("qlat"))
    val joins = Seq(
      "pipJoin" -> SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 4),
      "pipJoinMultiLevel" -> SpatialJoins.pipJoinMultiLevel(pts, "lng", "lat", polys, "geom"),
      "pipJoinWithIndex" -> SpatialJoins.pipJoinWithIndex(pts, "lng", "lat", index(polys)),
      "distanceJoin" -> SpatialJoins.distanceJoin(qs, "qlng", "qlat", pts, "lng", "lat", 5e5),
      "geoPhashPairs" -> Dedup.geoPhashPairs(pts, "image_id", "phash", "lng", "lat"))
    joins.foreach { case (name, df) =>
      val (derivations, filters) = filtersBelowDerivation(df)
      assert(derivations > 0, s"$name: no coordinate-deriving Project in the plan")
      assert(filters.isEmpty, s"$name: filters below the coordinate derivation: $filters\n" +
        df.queryExecution.optimizedPlan)
    }
  }

  test("a null or NaN coordinate matches nothing, a finite point still matches") {
    val pts = Seq[(String, java.lang.Double, java.lang.Double)](
      ("in", 15.0, 15.0), ("nullLng", null, 15.0), ("nullLat", 15.0, null),
      ("nanLng", Double.NaN, 15.0), ("out", 30.0, 15.0)).toDF("pid", "lng", "lat")
    val qs = Seq(("q", 15.0, 15.0)).toDF("qid", "qlng", "qlat")
    val joins = Seq(
      "pipJoin" -> SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 4),
      "pipJoinMultiLevel" -> SpatialJoins.pipJoinMultiLevel(pts, "lng", "lat", polys, "geom"),
      "pipJoinWithIndex" -> SpatialJoins.pipJoinWithIndex(pts, "lng", "lat", index(polys)),
      "distanceJoin" -> SpatialJoins.distanceJoin(qs, "qlng", "qlat", pts, "lng", "lat", 5e5))
    joins.foreach { case (name, df) =>
      assert(df.select("pid").as[String].collect().toSeq == Seq("in"), name)
    }
  }
}
