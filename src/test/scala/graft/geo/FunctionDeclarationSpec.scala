package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions

/** Every engine SQL function is a RuntimeReplaceable over one static
  * kernel: numeric arguments are cast to the kernel's types, every function
  * compiles inside whole-stage codegen, and the generated and interpreted
  * paths agree. Inputs derive from `id`, so constant folding cannot erase
  * the function under test.
  */
class FunctionDeclarationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Six rows of geometry, document and coordinate columns, all from `id`. */
  private def base: DataFrame = spark.range(6).selectExpr(
    "id",
    "CAST(id AS DOUBLE) * 0.5 AS x",
    "CAST(id AS DOUBLE) * 0.25 + 0.1 AS y",
    """from_geojson_geom(concat('{"type":"Polygon","coordinates":[[[', id * 0.5, ',0.0],[',
      id * 0.5 + 3, ',0.0],[', id * 0.5 + 3, ',3.0],[', id * 0.5, ',3.0],[', id * 0.5,
      ',0.0]]]}')) AS g""",
    """from_geojson_geom(concat('{"type":"Polygon","coordinates":[[[1.0,1.0],[',
      id + 4, ',1.0],[2.0,', id + 4, '],[1.0,1.0]]]}')) AS g2""",
    """from_geojson_geom(concat('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,',
      id * 0.1, '],[2.0,0.0],[3.0,', id, ']]}')) AS ln""",
    """from_geojson_geom(concat('{"type":"MultiPoint","coordinates":[[', id,
      ',1.0],[2.0,', id, ']]}')) AS mp""",
    """concat('{"type":"Feature","properties":{"k":', id,
      '},"geometry":{"type":"Point","coordinates":[', id, ',1.5]}}') AS doc""",
    "array(CAST(id AS FLOAT), CAST(id * 0.5 AS FLOAT)) AS vec")

  private val books: Column = typedlit(Seq.tabulate(512)(i => (i % 17) / 4.0f))

  private val constClip =
    """from_geojson_geom('{"type":"Polygon","coordinates":[[[0.5,0.5],[2.5,0.5],[2.5,2.5],[0.5,2.5],[0.5,0.5]]]}')"""

  /** One call per registered geo function plus the four text/PQ functions
    * that share the declaration (keyed by SQL name; extra keys cover a
    * second argument shape). */
  private val calls: Seq[(String, Column)] = Seq(
    "from_geojson" -> "from_geojson(doc)",
    "geojson_error" -> "geojson_error(concat(doc, if(id % 2 = 0, '', '}')))",
    "to_geojson" -> "to_geojson(from_geojson(doc))",
    "to_geojson_pretty" -> "to_geojson_pretty(from_geojson(doc))",
    "from_geojson_geom" -> "from_geojson_geom(concat('{\"type\":\"Point\",\"coordinates\":[', id, ',2]}'))",
    "to_geojson_geom" -> "to_geojson_geom(g)",
    "with_feature_props" -> "with_feature_props(doc, if(id % 3 = 0, NULL, concat('{\"n\":', id, '}')))",
    "with_feature_geometry" -> "with_feature_geometry(doc, if(id % 3 = 0, NULL, g))",
    "random_geojson" -> "random_geojson(id, 7)",
    "json_update" -> "json_update(doc, 'properties.k', concat('[', id, ']'))",
    "json_remove" -> "json_remove(doc, 'properties.k')",
    "st_contains" -> "st_contains(g, x + 1.0, y + 1.0)",
    "st_intersects" -> "st_intersects(g, g2)",
    "st_distance_deg" -> "st_distance_deg(g, x - 5.0, y)",
    "st_bbox" -> "st_bbox(g)",
    "st_centroid" -> "st_centroid(g)",
    "st_area" -> "st_area(g)",
    "st_area_m2" -> "st_area_m2(g)",
    "st_simplify" -> "st_simplify(ln, 0.1)",
    "st_clip_box" -> "st_clip_box(g, 1.0, 1.0, 2.0 + x, 2.0)",
    "st_erase_box" -> "st_erase_box(g, 1.0, 1.0, 2.0, 2.0)",
    "st_clip_convex" -> "st_clip_convex(g, g2)",
    "st_clip_convex/constant clip" -> s"st_clip_convex(g, $constClip)",
    "st_intersection" -> "st_intersection(g, g2)",
    "st_difference" -> "st_difference(g, g2)",
    "st_union" -> "st_union(g, g2)",
    "st_buffer_deg" -> "st_buffer_deg(ln, 0.25)",
    "st_rings" -> "st_rings(g)",
    "st_is_valid" -> "st_is_valid(g2)",
    "st_valid_reason" -> "st_valid_reason(g2)",
    "st_union_rings" -> "st_union_rings(st_rings(g))",
    "st_convex_hull" -> "st_convex_hull(ln)",
    "st_parts" -> "st_parts(mp)",
    "st_length_m" -> "st_length_m(ln)",
    "st_geometry_type" -> "st_geometry_type(mp)",
    "haversine" -> "haversine(x, y, y, x)",
    "hex_cell" -> "hex_cell(x, y, 5)",
    "hex_kring" -> "hex_kring(hex_cell(x, y, 5), 1)",
    "hex_cover" -> "hex_cover(g, 2)",
    "s2_cell" -> "s2_cell(x, y, 10)",
    "s2_cover" -> "s2_cover(g, 5)",
    "s2_cover_multi" -> "s2_cover_multi(g, 3, 6)",
    "s2_ancestors" -> "s2_ancestors(x, y, 4, 8)",
    "s2_cover_box" -> "s2_cover_box(x, y, x + 1.0, y + 1.0, 4, 7)",
    "s2_cell_ancestors" -> "s2_cell_ancestors(s2_cell(x, y, 10), 4)",
    "tile_key" -> "tile_key(x, y, 6)",
    "tile_bounds" -> "tile_bounds(tile_key(x, y, 6))",
    "tile_cover" -> "tile_cover(g, 5)",
    "tile_cover_box" -> "tile_cover_box(x, y, x + 1.0, y + 1.0, 5)",
    "ngram_jaccard" -> "ngram_jaccard(concat('abcdef', id), concat('abcxyz', id), 3)",
    "common_substring" -> "common_substring(concat('hello world ', id), concat('say hello ', id), 5)"
  ).map { case (k, sql) => k -> expr(sql) } ++ Seq(
    "pq_encode" -> call_function("pq_encode", col("vec"), books, lit(1), lit(2)),
    "pq_encode/residual" -> call_function("pq_encode", col("vec"), books, lit(1), lit(2),
      array(lit(0.5f), col("y").cast("float"))),
    "pq_lut" -> call_function("pq_lut", col("vec"), books, lit(1), lit(2)))

  /** Value rendering that compares arrays, binaries and NaN by content. */
  private def render(v: Any): String = v match {
    case null              => "null"
    case r: Row            => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte]    => b.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: Double         => java.lang.Double.toString(d)
    case other             => other.toString
  }

  test("numeric arguments are cast implicitly: int, long, decimal, smallint and tinyint match double/int") {
    val polyG =
      """from_geojson_geom(concat('{"type":"Polygon","coordinates":[[[', id, ',0.0],[',
        id + 2, ',0.0],[', id + 2, ',2.0],[', id, ',2.0],[', id, ',0.0]]]}'))"""
    val pairs = Seq(
      "s2_ancestors(CAST(id AS INT), CAST(id AS INT), 4, 6)" ->
        "s2_ancestors(CAST(id AS DOUBLE), CAST(id AS DOUBLE), 4, 6)",
      "s2_ancestors(id, id, 4L, 6L)" ->
        "s2_ancestors(CAST(id AS DOUBLE), CAST(id AS DOUBLE), 4, 6)",
      "s2_ancestors(id + 0.5, id + 0.5, 4, 6)" ->
        "s2_ancestors(CAST(id AS DOUBLE) + 0.5D, CAST(id AS DOUBLE) + 0.5D, 4, 6)",
      s"s2_cover_multi($polyG, 4L, 8L)" -> s"s2_cover_multi($polyG, 4, 8)",
      s"hex_cover($polyG, CAST(3 AS SMALLINT))" -> s"hex_cover($polyG, 3)",
      s"s2_cover($polyG, CAST(8 AS TINYINT))" -> s"s2_cover($polyG, 8)")
    val df = spark.range(1, 6).selectExpr(pairs.flatMap { case (a, b) => Seq(a, b) }: _*)
    val rows = df.collect()
    assert(rows.length == 5)
    pairs.indices.foreach { i =>
      rows.foreach { r =>
        assert(!r.isNullAt(2 * i) && r.getSeq[Long](2 * i).nonEmpty, pairs(i)._1)
        assert(r.getSeq[Long](2 * i) == r.getSeq[Long](2 * i + 1), pairs(i)._1)
      }
    }
  }

  test("every engine SQL function compiles into whole-stage codegen and matches the interpreted path") {
    val swept = calls.map(_._1.takeWhile(_ != '/')).toSet
    val missing = GeoFunctions.builders.map(_._1).filterNot(swept)
    assert(missing.isEmpty, s"functions without a sweep case: $missing")

    calls.foreach { case (name, call) =>
      def run(): (String, Seq[String]) = {
        val df = base.select(call.as("r"))
        (df.queryExecution.executedPlan.toString, df.collect().toSeq.map(r => render(r.get(0))))
      }
      val (plan, generated) = withConf("spark.sql.codegen.fallback" -> "false")(run())
      val line = plan.linesIterator.find(_.contains(" AS r#")).getOrElse("")
      assert(line.dropWhile(c => " +-:".contains(c)).startsWith("*("),
        s"$name left whole-stage codegen:\n$plan")
      val (_, interpreted) = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
      assert(generated == interpreted, s"$name: generated vs interpreted rows")
      assert(generated.length == 6 && generated.exists(_ != "null"), s"$name: $generated")
    }
  }

  test("a constant clip and a PQ codebook enter the plan once, as planned objects") {
    val df = base.select(expr(s"st_clip_convex(g, $constClip)").as("c"),
      call_function("pq_lut", col("vec"), books, lit(1), lit(2)).as("l"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("GeoRuntime.stClipConvex(") && plan.contains("convex_clip"), plan)
    assert(plan.contains("PqKernels.lut(") && plan.contains("pq_books(512)"), plan)
    assert(df.collect().count(!_.isNullAt(0)) > 0)
  }

  test("GROUP BY a constant-clip or codebook call binds to its SELECT-list copy") {
    import spark.implicits._
    base.createOrReplaceTempView("fd_base")
    val booksSql = Seq.tabulate(512)(i => s"${(i % 17) / 4.0}F").mkString("array(", ",", ")")
    val clipped = spark.sql(
      s"""SELECT to_geojson_geom(st_clip_convex(g, $constClip)) AS c, count(*) AS n
         |FROM fd_base GROUP BY st_clip_convex(g, $constClip)""".stripMargin)
      .as[(String, Long)].collect().toMap
    val clippedRows = base.select(expr(s"to_geojson_geom(st_clip_convex(g, $constClip))"))
      .as[String].collect().toSeq
    assert(clipped == clippedRows.groupBy(identity).map { case (k, v) => k -> v.size.toLong })
    val luts = spark.sql(
      s"SELECT pq_lut(vec, $booksSql, 1, 2) AS l, count(*) AS n FROM fd_base GROUP BY pq_lut(vec, $booksSql, 1, 2)")
      .as[(Seq[Double], Long)].collect().toMap
    val lutRows = base.select(call_function("pq_lut", col("vec"), books, lit(1), lit(2)))
      .as[Seq[Double]].collect().toSeq
    assert(luts.size == 6 && luts == lutRows.groupBy(identity).map { case (k, v) => k -> v.size.toLong })
  }
}
