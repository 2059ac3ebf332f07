package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions
import graft.ops.{Multimodal, Sketches, TextFunctions}

/** Every engine SQL function, in every registry, is a RuntimeReplaceable
  * over one static kernel: numeric arguments are cast to the kernel's
  * types, every function compiles inside whole-stage codegen, and the
  * generated and interpreted paths agree. Inputs derive from `id`, so
  * constant folding cannot erase the function under test.
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

  /** Sketches from the sketch aggregators, one group per `id`; checkpointed,
    * so a probe call projects over a scan rather than merging into the
    * (never codegen'd) object aggregate. */
  private lazy val sketches: DataFrame = {
    import graft.ops.Sketches._
    spark.range(60).select((col("id") % 6).as("id"), col("id").as("v"))
      .groupBy("id").agg(
        hll_sketch(TextFunctions.mix64_col(col("v")), 6).as("hll"),
        bloom_sketch(TextFunctions.mix64_col(col("v")), 256, 3).as("bloom"),
        cms_sketch(TextFunctions.mix64_col(col("v")), 64, 2).as("cms"),
        kll_sketch(col("v") * 7 % 23, 8).as("kll"))
      .localCheckpoint()
  }

  // line breaks from a per-row char(10), so the plan string has no newline
  private val text =
    "concat('the cat sat on the mat ', id, ' the cat', char(id % 1 + 10), 'sat', char(id % 1 + 10), 'sat ', id % 2)"
  private val text2 = "concat('a cat sat on a mat ', id % 3, ' and the dog')"
  private val books: Column = typedlit(Seq.tabulate(512)(i => (i % 17) / 4.0f))

  private val constClip =
    """from_geojson_geom('{"type":"Polygon","coordinates":[[[0.5,0.5],[2.5,0.5],[2.5,2.5],[0.5,2.5],[0.5,0.5]]]}')"""

  private case class Call(name: String, call: Column, over: () => DataFrame)

  /** One call per function of every registry, keyed by SQL name (extra
    * keys after a `/` cover a second argument shape). */
  private val calls: Seq[Call] = (Seq(
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
    "mix64" -> "mix64(id)",
    "minhash_sig" -> s"minhash_sig($text, 8, 4)",
    "simhash64" -> s"simhash64($text, 4)",
    "ngram_jaccard" -> "ngram_jaccard(concat('abcdef', id), concat('abcxyz', id), 3)",
    "winnow_fp" -> s"winnow_fp($text, 4, 3)",
    "common_substring" -> "common_substring(concat('hello world ', id), concat('say hello ', id), 5)",
    "lang_id" -> s"lang_id(if(id % 2 = 0, $text, concat('der und die ', id)))",
    "token_count_bpe" -> s"token_count_bpe($text)",
    "dup_ngram_stats" -> s"dup_ngram_stats($text, 2)",
    "word_ngrams" -> s"word_ngrams(upper($text), 2)",
    "dup_line_stats" -> s"dup_line_stats($text)",
    "vec_cosine" -> "vec_cosine(vec, array(CAST(1.0 AS FLOAT), CAST(y AS FLOAT)))",
    "vec_quantize" -> "vec_quantize(vec)",
    "vec_dequantize" -> "vec_dequantize(vec_quantize(vec))",
    "vec_cosine_q" -> "vec_cosine_q(vec_quantize(vec), vec_quantize(array(CAST(y AS FLOAT), CAST(1.0 AS FLOAT))))",
    "hyperplane_sig" -> "hyperplane_sig(vec, 16, 42L)",
    "grb1_bytes" -> "grb1_bytes(id)",
    "grb1_phash" -> "grb1_phash(id)",
    "pca1_bytes" -> "pca1_bytes(id, 8000, 64)",
    "vid1_bytes" -> "vid1_bytes(id)",
    "image_meta" -> "image_meta(grb1_bytes(id))",
    "image_psnr" -> "image_psnr(grb1_bytes(id), grb1_bytes(id % 2))",
    "image_gray_mean" -> "image_gray_mean(grb1_bytes(id))",
    "image_resize" -> "image_resize(grb1_bytes(id), 4, 3)",
    "image_crop" -> "image_crop(grb1_bytes(id), id, 1, 5, 4)",
    "image_crop/empty window" -> "image_crop(grb1_bytes(id), 1, 1, id - 3, 4)",
    "image_ahash" -> "image_ahash(grb1_bytes(id))",
    "image_histogram" -> "image_histogram(grb1_bytes(id), 4)",
    "audio_meta" -> "audio_meta(pca1_bytes(id, 8000, 64))",
    "audio_energy" -> "audio_energy(pca1_bytes(id, 8000, 64))",
    "audio_peaks" -> "audio_peaks(pca1_bytes(id, 8000, 64))",
    "audio_zero_crossings" -> "audio_zero_crossings(pca1_bytes(id, 8000, 64))",
    "audio_rms" -> "audio_rms(pca1_bytes(id, 8000, 64))",
    "audio_downsample" -> "audio_downsample(pca1_bytes(id, 8000, 64), 3)",
    "video_meta" -> "video_meta(vid1_bytes(id))",
    "video_frame" -> "video_frame(vid1_bytes(id), id - 2)",
    "video_frames" -> "video_frames(vid1_bytes(id), 2)",
    "video_motion" -> "video_motion(vid1_bytes(id))",
    "video_cuts" -> "video_cuts(vid1_bytes(id), 20)",
    "pq_adc" -> "pq_adc(array(CAST(id AS DOUBLE), 0.5D, 2.0D, 1.0D), unhex(concat('0', id % 4)))",
    "pq_code_at" -> "pq_code_at(vec_quantize(vec), CAST(id % 4 AS INT))"
  ).map { case (k, sql) => Call(k, expr(sql), () => base) } ++ Seq(
    "pq_encode" -> call_function("pq_encode", col("vec"), books, lit(1), lit(2)),
    "pq_encode/residual" -> call_function("pq_encode", col("vec"), books, lit(1), lit(2),
      array(lit(0.5f), col("y").cast("float"))),
    "pq_lut" -> call_function("pq_lut", col("vec"), books, lit(1), lit(2))
  ).map { case (k, c) => Call(k, c, () => base) } ++ Seq(
    "hll_estimate" -> "hll_estimate(hll)",
    "hll_registers" -> "hll_registers(hll)",
    "bloom_contains" -> "bloom_contains(bloom, mix64(id + 7 * (id % 2)), 3)",
    "cms_estimate" -> "cms_estimate(cms.v, mix64(id), 2)",
    "kll_quantile" -> "kll_quantile(kll.v, 0.5)",
    "kll_rank" -> "kll_rank(kll.v, id * 3)",
    "kll_n" -> "kll_n(kll.v)"
  ).map { case (k, sql) => Call(k, expr(sql), () => sketches) })

  /** Every registry the engine registers, by name. */
  private val registries: Seq[(String, Seq[(String, Seq[Expression] => Expression)])] = Seq(
    "GeoFunctions" -> GeoFunctions.builders, "TextFunctions" -> TextFunctions.builders,
    "Multimodal" -> Multimodal.builders, "Sketches" -> Sketches.builders)

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
    val swept = calls.map(_.name.takeWhile(_ != '/')).toSet
    val missing = registries.flatMap { case (r, bs) => bs.map(_._1).filterNot(swept).map(n => s"$r.$n") }
    assert(missing.isEmpty, s"functions without a sweep case: $missing")
    val registered = registries.flatMap(_._2.map(_._1)).toSet
    assert(swept.subsetOf(registered), s"sweep cases of unregistered functions: ${swept -- registered}")

    calls.foreach { case Call(name, call, over) =>
      def run(): (String, Seq[String]) = {
        val df = over().select(col("id"), call.as("r"))
        (df.queryExecution.executedPlan.toString, df.collect().toSeq
          .sortBy(_.getLong(0)).map(r => render(r.get(1))))
      }
      // the call is the registered declaration: a RuntimeReplaceable, as is
      // every other engine function under it
      val analyzed = over().select(call.as("r")).queryExecution.analyzed.expressions.head
      val fn = analyzed.children.head
      assert(fn.isInstanceOf[RuntimeReplaceable], s"$name is not RuntimeReplaceable: ${fn.getClass}")
      val engine = analyzed.collect { case e if e.getClass.getName.startsWith("graft.") => e }
      engine.foreach(e => assert(e.isInstanceOf[RuntimeReplaceable],
        s"$name: ${e.getClass.getName} is not RuntimeReplaceable"))

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
