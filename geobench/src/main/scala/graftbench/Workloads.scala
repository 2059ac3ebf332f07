package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.join.SpatialJoins
import graft.geo.sources.GeoJsonWriter
import graft.geo.sql.Accessors
import graft.geo.sql.GeoFunctions
import graft.geo.sql.GeoFunctions._
import graft.pipeline.{GeoImagePipeline, ImageGen}
import graft.streaming.GeoStreams

/** Outcome of a workload's output check: operations attempted and failed. */
final case class Checked(attempted: Long, failed: Long)

/** One benchmark workload. `prepare` makes the inputs from the seed (part
  * of set-up), `pass` is one untraced unit of timed work, `traced` is the
  * same work with a span around each layer call and every layer's output
  * materialized before the next span starts, and `check` verifies the
  * program's output outside the timed passes. */
trait Workload {
  /** Input rows per pass: images, features or queries. */
  def rows: Long
  /** Typical wall time of one pass on a 4-core host, which sets how many
    * passes a run times. */
  def nominalPassS: Double
  def prepare(spark: SparkSession): Unit
  def pass(spark: SparkSession): Unit
  /** Runs one traced pass under the root span "pass"; returns the
    * workload's own per-layer counts. */
  def traced(spark: SparkSession, t: Tracer): Map[String, Double]
  def check(spark: SparkSession): Checked
}

object Workload {
  def apply(name: String, seed: Long, cores: Int, work: File): Workload = name match {
    case "flagship"    => new Flagship(seed, cores)
    case "geojson_etl" => new GeoJsonEtl(seed, cores, work)
    case "knn"         => new Knn(seed, cores)
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Persists `df` and materializes it; returns it with its row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

import Workload.{materialize, noop}

/** The north-star batch job in the shape of `graft.Bench.flagshipRowsPerSec`:
  * ImageGen → pipJoin against the 120 fixture polygons → assignTiles →
  * noop sink. The seed translates the polygons in longitude, so each seed
  * joins a different region; the image table itself is fixed by its ids. */
final class Flagship(seed: Long, cores: Int) extends Workload {
  val rows = 3000000L
  val nominalPassS = 1.5
  private val res = 5
  private val zoom = 12
  private var polys: DataFrame = _

  /** A seeded longitude shift under which no fixture polygon straddles the
    * antimeridian (a straddling ring would wrap into a globe-wide cover). */
  private def shiftedPolys(spark: SparkSession): DataFrame = {
    val base = GeoImagePipeline.fixturePolygons(spark)
    val r = new java.util.SplittableRandom(seed)
    Iterator.continually(r.nextDouble(0.0, 360.0)).map { dlng =>
      base.withColumn("geom", GeoImagePipeline.translate_geom(col("geom"), lit(dlng), lit(0.0)))
    }.find { p =>
      val lngs = filter(col("geom.coords"), (_, i) => i % 2 === 0)
      p.select(max(array_max(lngs) - array_min(lngs))).head().getDouble(0) < 90.0
    }.get
  }

  def prepare(spark: SparkSession): Unit = {
    GeoFunctions.register(spark)
    polys = shiftedPolys(spark)
  }

  private def images(spark: SparkSession): DataFrame =
    ImageGen.withLngLat(ImageGen.table(spark, rows, partitions = cores * 2))

  private def tiles(joined: DataFrame): DataFrame =
    SpatialJoins.assignTiles(joined, "lng", "lat", z = zoom)
      .select(col("image_id"), col("poly_id"), col("tile_key"), col("phash"))

  private def output(spark: SparkSession): DataFrame =
    tiles(SpatialJoins.pipJoin(images(spark), "lng", "lat", polys, "geom", res = res))

  def pass(spark: SparkSession): Unit = noop(output(spark))

  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(p: (DataFrame, Long)): (DataFrame, Long) = { held += p._1; p }
    val (cells, cover, matches) = t.span("pass") {
      val (polysM, _) = t.span("codec.parse")(keep(materialize(polys)))
      val (pts, _) = t.span("pipeline.imagegen")(keep(materialize(
        images(spark).select("image_id", "lng", "lat", "phash"))))
      val (cells, _) = t.span("index.cell")(keep(materialize(
        pts.select(col("image_id"), hex_cell(col("lng"), col("lat"), lit(res)).as("cell")))))
      val (cover, _) = t.span("index.cover")(keep(materialize(
        polysM.select(col("poly_id"), explode(hex_cover(col("geom"), lit(res))).as("cell")))))
      val (joined, matches) = t.span("join.pip")(keep(materialize(
        SpatialJoins.pipJoin(pts, "lng", "lat", polysM, "geom", res = res))))
      t.span("join.tiles")(noop(tiles(joined)))
      (cells, cover, matches)
    }
    // counted after the root span, so they add nothing to the traced time
    val coverCells = cover.count()
    val candidates = cells.join(cover, "cell").count()
    held.foreach(_.unpersist(blocking = true))
    Map(
      "index.cover_cells" -> coverCells.toDouble,
      "join.pip_candidates" -> candidates.toDouble,
      "join.pip_matches" -> matches.toDouble,
      "join.pip_refine_yield" -> (if (candidates > 0) matches.toDouble / candidates else 0.0))
  }

  /** (count, xor, sum) of a row hash over the whole output: order-free. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("image_id"), col("poly_id"), col("tile_key"), col("phash"))
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The output digest must repeat across two executions, and on a fixed
    * sample of image ids (random ids plus a hash-chosen share of the
    * matched ones) pipJoin must agree with a brute-force st_contains cross
    * join against every polygon. */
  def check(spark: SparkSession): Checked = {
    import spark.implicits._
    val (out, _) = materialize(output(spark))
    val d1 = digest(out)
    val d2 = digest(output(spark))
    val stride = math.max(1L, d1._1 / 500)
    val matched = out.where(pmod(xxhash64(col("image_id")), lit(stride)) === 0)
      .select("image_id").distinct().as[String].collect()
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val random = Seq.fill(1000)(s"img_${r.nextLong(rows)}")
    val sample = (matched.toSeq ++ random).distinct
    val sampleDf = ImageGen.withLngLat(sample.toDF("image_id"))
    def pairs(df: DataFrame): Map[String, Set[String]] =
      df.select("image_id", "poly_id").as[(String, String)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val actual = pairs(out.where(col("image_id").isin(sample: _*)))
    val brute = pairs(sampleDf.crossJoin(polys).where(st_contains(col("geom"), col("lng"), col("lat"))))
    out.unpersist(blocking = true)
    val wrong = sample.count(id => actual.getOrElse(id, Set.empty) != brute.getOrElse(id, Set.empty))
    System.err.println(s"[geobench] flagship check: digest $d1 vs $d2, " +
      s"${sample.size} sampled ids (${matched.length} matched), $wrong disagree")
    Checked(1L + sample.size, (if (d1 == d2) 0L else 1L) + wrong)
  }
}

/** A GeoJSON round trip: the `geojson` source reads FeatureCollection
  * files → from_geojson plus accessors → GeoStreams.mapProps →
  * to_geojson → GeoJsonWriter.writeFeatureCollections, one file per core. */
final class GeoJsonEtl(seed: Long, cores: Int, work: File) extends Workload {
  val rows = 64000L
  val nominalPassS = 1.8
  private val files = 16 // a multiple of the core count: one scan task per file
  private val bigShare = 0.005
  private val inDir = new File(work, "geojson-in")
  private val outDir = new File(work, "geojson-out")
  private var expected: GeoJsonInput.Written = _

  def prepare(spark: SparkSession): Unit = {
    GeoFunctions.register(spark)
    expected = GeoJsonInput.write(inDir, seed, rows, files, bigShare, cores)
  }

  private def read(spark: SparkSession): DataFrame =
    spark.read.format("geojson").load(inDir.getPath).select("feature_json")

  /** from_geojson plus accessors: geometry type and position count. */
  private def parse(src: DataFrame): DataFrame = {
    val g = Accessors.featureGeometry(Accessors.feature(from_geojson(col("feature_json"))))
    src.select(col("feature_json"), st_geometry_type(g).as("gtype"),
      Accessors.numPositions(g).as("npos"))
  }

  /** Appends the accessor results to each feature's properties. */
  private def mapProps(parsed: DataFrame): DataFrame =
    GeoStreams.mapProps(parsed, "feature_json", p =>
      concat(p.substr(lit(1), length(p) - 1), lit(""","gtype":""""), col("gtype"),
        lit("""","npos":"""), col("npos").cast("string"), lit("}")))

  private def render(mapped: DataFrame): DataFrame =
    mapped.select(to_geojson(from_geojson(col("feature_json"))).as("json"))

  private def write(rendered: DataFrame): Unit =
    GeoJsonWriter.writeFeatureCollections(rendered, "json", outDir.getPath, cores)

  def pass(spark: SparkSession): Unit = write(render(mapProps(parse(read(spark)))))

  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(p: (DataFrame, Long)): (DataFrame, Long) = { held += p._1; p }
    val (features, parsed) = t.span("pass") {
      val (src, features) = t.span("sources.read")(keep(materialize(read(spark))))
      val (parsed, _) = t.span("codec.parse")(keep(materialize(parse(src))))
      val (mapped, _) = t.span("streaming.map_props")(keep(materialize(mapProps(parsed))))
      val (rendered, _) = t.span("codec.render")(keep(materialize(render(mapped))))
      t.span("sources.write")(write(rendered))
      (features, parsed)
    }
    val errors = parsed.where(col("gtype").isNull).count()
    held.foreach(_.unpersist(blocking = true))
    val out = Files.parts(outDir, "part-")
    Map(
      "sources.features" -> features.toDouble,
      "sources.bytes_in" -> expected.bytes.toDouble,
      "codec.errors" -> errors.toDouble,
      "sources.bytes_out" -> out.map(_.length()).sum.toDouble,
      "sources.files_out" -> out.size.toDouble)
  }

  /** Re-reads the last pass's output: every generated feature must come
    * back once with its name, code, geometry type and position count, the
    * properties added by mapProps must match the geometry, and no feature
    * may carry a geojson_error. */
  def check(spark: SparkSession): Checked = {
    val back = spark.read.format("geojson").load(new File(outDir, "part-*").getPath)
    val top = from_geojson(col("feature_json"))
    val g = Accessors.featureGeometry(Accessors.feature(top))
    val p = Accessors.featureProperties(Accessors.feature(top))
    val rows = back.select(
      get_json_object(p, "$.name"), get_json_object(p, "$.code"),
      st_geometry_type(g), Accessors.numPositions(g),
      get_json_object(p, "$.gtype"), get_json_object(p, "$.npos"),
      geojson_error(col("feature_json")))
    val left = mutable.HashMap.empty[String, Int] ++= expected.keys
    var seen = 0L
    var unmatched = 0L
    var errors = 0L
    rows.toLocalIterator().forEachRemaining { r =>
      seen += 1
      if (!r.isNullAt(6)) errors += 1
      val ok = !r.isNullAt(3) && r.getString(4) == r.getString(2) &&
        r.getString(5) == r.getInt(3).toString && {
          val k = GeoJsonInput.key(r.getString(0), r.getString(1), r.getString(2), r.getInt(3))
          left.get(k) match {
            case Some(c) if c > 1 => left.update(k, c - 1); true
            case Some(_)          => left.remove(k); true
            case None             => false
          }
        }
      if (!ok) unmatched += 1
    }
    val missing = left.values.map(_.toLong).sum
    System.err.println(s"[geobench] geojson_etl check: $seen features read back, " +
      s"$missing missing, $unmatched unmatched, $errors with geojson_error")
    Checked(math.max(seen, expected.keys.values.map(_.toLong).sum),
      math.max(math.max(missing, unmatched), errors))
  }
}

/** A closed loop with one client: knnJoin batches issued back to back,
  * each collected by the client before it sends the next. Points are an
  * ImageGen point set (ids offset by the seed), cached in set-up; queries
  * are seeded positions with |lat| < 80, so every query takes the planar
  * hex-ring route. */
final class Knn(seed: Long, cores: Int) extends Workload {
  val rows = 500L // queries per batch
  val nominalPassS = 2.2
  private val points = 250000L
  private val k = 8
  private val res = 5
  private var pts: DataFrame = _
  private var queries: DataFrame = _
  private var queryRows: Array[(Long, Double, Double)] = _

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    GeoFunctions.register(spark)
    val off = new java.util.SplittableRandom(seed).nextLong(1L << 40)
    pts = materialize(ImageGen.withLngLat(
      spark.range(off, off + points, 1, cores * 2)
        .select(concat(lit("img_"), col("id").cast("string")).as("image_id")))
      .select("image_id", "lng", "lat"))._1
    val r = new java.util.SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    queryRows = Array.tabulate(rows.toInt)(i =>
      (i.toLong, r.nextDouble(-180.0, 180.0), r.nextDouble(-80.0, 80.0)))
    queries = queryRows.toSeq.toDF("qid", "qlng", "qlat")
  }

  private def batch: DataFrame =
    SpatialJoins.knnJoin(queries, "qid", "qlng", "qlat", pts, "lng", "lat", k = k, res = res)

  /** The client's last answers, kept for [[check]]. */
  private var answers: Array[(Long, Double)] = _

  def pass(spark: SparkSession): Unit = {
    import spark.implicits._
    answers = batch.select("qid", "dist_m").as[(Long, Double)].collect()
  }

  def traced(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val (found, n) = t.span("pass")(t.span("join.knn")(materialize(batch)))
    found.unpersist(blocking = true)
    Map("join.knn_results" -> n.toDouble)
  }

  private def haversine(lng1: Double, lat1: Double, lng2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLng = math.toRadians(lng2 - lng1)
    val h = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLng / 2), 2)
    2 * 6371008.8 * math.asin(math.min(1.0, math.sqrt(h)))
  }

  /** On a seeded sample of queries, the k neighbour distances the last
    * timed batch returned must equal a brute-force haversine top-k over all
    * points, compared by distance so that ties do not matter. */
  def check(spark: SparkSession): Checked = {
    import spark.implicits._
    val r = new java.util.SplittableRandom(seed ^ 0x7F4A7C15L)
    val sample = Seq.fill(32)(queryRows(r.nextInt(queryRows.length))).distinct
    val got = answers.groupBy(_._1).map { case (q, v) => q -> v.map(_._2).sorted }
    val all = pts.select("lng", "lat").as[(Double, Double)].collect()
    val wrong = sample.count { case (q, lng, lat) =>
      val top = new mutable.PriorityQueue[Double]() // max-heap of the k best
      all.foreach { case (plng, plat) =>
        val d = haversine(lng, lat, plng, plat)
        if (top.size < k) top.enqueue(d) else if (d < top.head) { top.dequeue(); top.enqueue(d) }
      }
      val want = top.toArray.sorted
      val have = got.getOrElse(q, Array.empty[Double])
      have.length != k || want.indices.exists(i => math.abs(want(i) - have(i)) > 1e-6 * math.max(1.0, want(i)))
    }
    System.err.println(s"[geobench] knn check: ${sample.size} sampled queries, $wrong disagree")
    Checked(sample.size, wrong)
  }
}
