package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions
import graft.geo.sql.GeoFunctions._

/** The north-rule flagship job (BASELINE.json:2,6,14): spatial-join +
  * tile-assignment over the image+caption table against the GeoJSON fixture
  * geometries, as checkpoint-resumable stages with per-partition lineage.
  *
  * Stages:
  *   1. images   — synthetic image+caption table (input_hint schema)
  *   2. joined   — PIP join of image positions vs fixture polygons
  *                 (hex cover → int64 equi-join → st_contains refine)
  *   3. tiled    — ZXY tile assignment of ALL images, bucketed write
  *   4. mosaics  — z→z-1 pyramid rollup: one 16×16 mosaic per parent tile
  *                 (partial-agg binary canvases, Multimodal.mosaicTiles)
  *
  * Every stage is a declarative DataFrame plan (no RDDs in the dataflow;
  * since round 7 generation is codegen expressions too — grb1_bytes /
  * grb1_phash kernels — so the whole flagship pipeline is one fused
  * whole-stage-codegen pass and unused synth columns prune).
  */
object GeoImagePipeline {

  /** Fixture polygons shifted around the globe so the join has matches
    * across many cells: the reference corpus polygons plus translated
    * copies (translation keeps shape; the suffix records the offset).
    *
    * The (fixture, copy) rows — fixture-major, `copies` per fixture — are
    * built on the driver as a local Seq, so the DataFrame starts from a
    * `LocalRelation`: a query over it needs no cross join and no `Range`
    * broadcast job. Calling it runs no job.
    */
  def fixturePolygons(spark: SparkSession, copies: Int = 40): DataFrame = {
    GeoFunctions.register(spark)
    import spark.implicits._
    val raw = Seq("polygon.json", "multi_polygon.json", "geo_with_bbox.json").map { n =>
      val in = getClass.getResourceAsStream(s"/geo-fixtures/$n")
      require(in != null, s"missing bundled fixture $n")
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (n.stripSuffix(".json"), s)
    }
    val rows = for ((fixture, geojson) <- raw; copy <- 0L until copies) yield (fixture, geojson, copy)
    // deterministic translated copies: shift lng by 7.3°·i (wrapped), lat by 3.1°·i within ±70
    rows.toDF("fixture", "geojson", "copy")
      .withColumn("dlng", (col("copy") * 7.3 + 13.0) % 340.0 - 170.0)
      .withColumn("dlat", (col("copy") * 3.1) % 140.0 - 70.0)
      .withColumn("geom", translate_geom(from_geojson_geom($"geojson"), col("dlng"), col("dlat")))
      .withColumn("poly_id", concat($"fixture", lit("#"), $"copy"))
      .select("poly_id", "geom")
  }

  /** Translate a packed geometry by (dlng, dlat) — pure Column math over the
    * flat coords array (even indices get dlng, odd get dlat, wrapped to
    * [-180, 180) for lng). Keeps everything inside whole-stage codegen. */
  def translate_geom(geom: org.apache.spark.sql.Column, dlng: org.apache.spark.sql.Column,
                     dlat: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // NOTE: valid for 2-D geometries (the bundled fixtures are 2-D): even
    // offset = lng, odd = lat.
    val shifted = zip_with(
      geom.getField("coords"),
      sequence(lit(0), size(geom.getField("coords")) - 1),
      (c, i) => when(i % 2 === 0, pmod(c + dlng + lit(180.0), lit(360.0)) - 180.0)
        .otherwise(greatest(lit(-84.9), least(lit(84.9), c + dlat))))
    geom.withField("coords", shifted)
  }

  final case class Result(images: DataFrame, joined: DataFrame, tiled: DataFrame,
                          mosaics: DataFrame, infos: Seq[Stages.StageInfo])

  /** Run the pipeline (resuming completed stages found under workDir). */
  def run(spark: SparkSession, nImages: Long, workDir: String,
          z: Int = 10, res: Int = 5, partitions: Int = 0): Result = {
    GeoFunctions.register(spark)
    val (images, i1) = Stages.runStage(spark, workDir, "images") {
      ImageGen.table(spark, nImages, partitions)
    }
    val polys = fixturePolygons(spark)
    val (joined, i2) = Stages.runStage(spark, workDir, "joined") {
      val pts = ImageGen.withLngLat(images)
      SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res)
        .select(col("image_id"), col("caption"), col("phash"),
          col("lng"), col("lat"), col("poly_id"))
    }
    val (tiled, i3) = Stages.runStage(spark, workDir, "tiled") {
      SpatialJoins.assignTiles(ImageGen.withLngLat(images), "lng", "lat", z)
        .select("image_id", "tile_key", "tile_z", "tile_x", "tile_y", "phash", "caption")
    }
    val (mosaics, i4) = Stages.runStage(spark, workDir, "mosaics") {
      val withKeys = SpatialJoins.assignTiles(ImageGen.withLngLat(images), "lng", "lat", z)
        .select("tile_key", "bytes")
      graft.ops.Multimodal.mosaicTiles(withKeys, "tile_key", "bytes")
    }
    Result(images, joined, tiled, mosaics, Seq(i1, i2, i3, i4))
  }
}
