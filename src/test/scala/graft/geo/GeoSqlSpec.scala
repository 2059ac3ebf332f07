package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.json.JValue
import graft.geo.sql.GeoFunctions._

/** The Catalyst surface end-to-end: from_geojson → struct → to_geojson
  * round-trips over the full fixture corpus inside Spark, accessors, and the
  * registered SQL names.
  */
class GeoSqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    require(in != null, s"missing fixture $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  val fixtureNames = Seq("point.json", "multipoint.json", "linestring.json",
    "multilinestring.json", "polygon.json", "multi_polygon.json",
    "geo_with_bbox.json", "feature.json", "featurecollection.json",
    "3d_featurecollection.json", "simple.geojson")

  test("from_geojson → to_geojson round-trips every fixture as a JSON value") {
    val df  = fixtureNames.map(n => (n, fixture(n))).toDF("name", "raw")
    val out = df.select($"name", $"raw", to_geojson(from_geojson($"raw")).as("back"))
      .collect()
    out.foreach { r =>
      val (name, raw, back) = (r.getString(0), r.getString(1), r.getString(2))
      assert(back != null, s"$name: null round-trip")
      assert(JValue.eq(JValue.parseUnsafe(raw), JValue.parseUnsafe(back)),
        s"$name mismatch:\n$back")
    }
  }

  test("SQL-registered functions work from spark.sql") {
    spark.sql("select 1").collect() // force session init
    val df = spark.sql(
      """select st_geometry_type(from_geojson_geom('{"type":"Point","coordinates":[125.6,10.1]}')) t,
        |       haversine(0D, 0D, 0D, 1D) d,
        |       hex_cell(10.0D, 20.0D, 8) h,
        |       s2_cell(10.0D, 20.0D, 12) s,
        |       tile_key(0.0D, 0.0D, 10) k
        |""".stripMargin)
    val r = df.collect()(0)
    assert(r.getString(0) == "Point")
    assert(math.abs(r.getDouble(1) - 111195) < 10)
    assert(r.getLong(2) != 0 && r.getLong(3) != 0)
  }

  test("parse errors → null struct + geojson_error carries message and location") {
    val df = Seq("""{"no":"type"}""", """{"type":"LineString","coordinates":[[1.0,2.0]]}""",
      """{"type":"Point","coordinates":[125.6,10.1]}""",
      "{\"type\":\n\"Poi").toDF("raw")
    val out = df.select(from_geojson($"raw").isNull.as("failed"),
      geojson_error($"raw").getField("msg").as("msg"),
      geojson_error($"raw").getField("line").as("line"),
      geojson_error($"raw").getField("col").as("col")).collect()
    // semantic errors: location = end of the decoded value (line 1, len+1)
    assert(out(0).getBoolean(0) && out(0).getString(1) ==
      "A Geojson text should contain one object with a member `type`.")
    assert(out(0).getInt(2) == 1 && out(0).getInt(3) == """{"no":"type"}""".length + 1)
    assert(out(1).getBoolean(0) && out(1).getString(1) == "LineStrings should have two or more points")
    assert(!out(2).getBoolean(0) && out(2).isNullAt(1))
    // lexer error: location = the failure point (unclosed string on line 2)
    assert(out(3).getBoolean(0) && out(3).getInt(2) == 2, out(3).toString)
  }

  test("accessor columns: kind, bbox, feature fields, st_bbox") {
    val top = from_geojson(lit(fixture("feature.json")))
    val r = spark.range(1).select(
      top.getField("kind").as("kind"),
      top.getField("feature").getField("properties").as("props"),
      st_geometry_type(top.getField("feature").getField("geometry")).as("t"),
      st_bbox(top.getField("feature").getField("geometry")).as("box")
    ).collect()(0)
    assert(r.getByte(0) == 1)
    assert(JValue.eq(JValue.parseUnsafe(r.getString(1)),
      JValue.parseUnsafe("""{"name":"Dinagat Islands"}""")))
    assert(r.getString(2) == "MultiPoint")
    val box = r.getSeq[Double](3)
    assert(box == Seq(125.1, 22.5, 155.9, 40.0))
  }

  test("explode(features) turns a FeatureCollection into a features table") {
    val top = from_geojson(lit(fixture("featurecollection.json")))
    val features = spark.range(1)
      .select(explode(top.getField("features")).as("f"))
      .select(st_geometry_type($"f.geometry").as("t"),
        get_json_object($"f.properties", "$.name").as("name"))
      .collect()
    assert(features.length == 2)
    assert(features.map(_.getString(0)).toSeq == Seq("MultiPoint", "MultiLineString"))
    assert(features.map(_.getString(1)).forall(_ != null))
  }

  test("st_contains / hex_cover / s2_cover as columns") {
    val poly = from_geojson_geom(lit(fixture("polygon.json")))
    val r = spark.range(1).select(
      st_contains(poly, lit(100.5), lit(0.5)).as("in"),
      st_contains(poly, lit(99.5), lit(0.5)).as("out"),
      size(hex_cover(poly, lit(6))).as("nhex"),
      size(s2_cover(poly, lit(10))).as("ns2")
    ).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getInt(2) > 0 && r.getInt(3) > 0)
  }

  test("cover+cell equi-join soundness inside Spark (the PIP join kernel)") {
    // every point inside the polygon must share a cell with the cover
    val polyJson = fixture("polygon.json")
    val pts = spark.range(500).select(
      (lit(99.5) + rand(1) * 2.0).as("lng"), (lit(-0.5) + rand(2) * 2.0).as("lat"))
    val res  = 7
    val poly = from_geojson_geom(lit(polyJson))
    val covered = pts
      .withColumn("cell", hex_cell($"lng", $"lat", lit(res)))
      .withColumn("inside", st_contains(poly, $"lng", $"lat"))
      .withColumn("in_cover", array_contains(hex_cover(poly, lit(res)), $"cell"))
      .where($"inside" && !$"in_cover")
    assert(covered.count() == 0, "a contained point's cell escaped the cover")
  }

  test("an overflowing number in properties or a foreign member renders as parsed, never throws") {
    // 1e400 parses to +infinity, stored and rendered as C printf prints it
    // (`inf`, as the coordinate path does); re-rendering the stored text
    // must not re-read it as JSON and throw
    val feature = """{"type":"Feature","properties":{"a":1e400,"b":-1e400},""" +
      """"geometry":{"type":"Point","coordinates":[1,2]}}"""
    val docs = Seq(feature,
      """{"type":"Feature","properties":null,"geometry":{"type":"Point","coordinates":[1,2]},"foo":[1e400]}""",
      s"""{"type":"FeatureCollection","features":[$feature]}""")
    val out = docs.toDF("d").select(to_geojson(from_geojson($"d")),
        with_feature_props($"d", lit(null).cast("string")))
      .as[(String, String)].collect()
    docs.zip(out).foreach { case (d, (rendered, mapped)) =>
      val tree = graft.geo.json.GeoJsonCodec.parse(d).map(graft.geo.json.GeoJsonCodec.render)
      assert(rendered != null && rendered.contains("inf") && tree == Right(rendered), s"$d -> $rendered")
      assert(mapped == rendered, d)
    }
  }
}
