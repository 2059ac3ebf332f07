package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.SparkTestBase
import graft.geo.join.SpatialJoins
import graft.geo.sql.GeoFunctions._

/** Join-level oracles (SURVEY.md §5): PIP join vs brute-force cross join,
  * kNN vs brute-force haversine sort — exact row-set equality at small
  * scale.
  */
class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // deterministic point cloud around the fixture polygons' area
  def points(n: Int) = spark.range(n).select(
    $"id",
    (pmod($"id" * 7919, lit(4000)) / 1000.0 + 99.0).as("lng"),   // 99.0 .. 103.0
    (pmod($"id" * 104729, lit(4000)) / 1000.0 - 1.0).as("lat"))  // -1.0 .. 3.0

  val polysJson = Seq(
    ("sq1", """{"type":"Polygon","coordinates":[[[100.0,0.0],[101.0,0.0],[101.0,1.0],[100.0,1.0],[100.0,0.0]]]}"""),
    ("sq2", """{"type":"Polygon","coordinates":[[[99.2,1.4],[102.3,1.4],[102.3,2.6],[99.2,2.6],[99.2,1.4]]]}"""),
    ("tri", """{"type":"Polygon","coordinates":[[[101.5,-0.8],[102.8,-0.8],[102.15,0.9],[101.5,-0.8]]]}"""),
    ("hole", """{"type":"Polygon","coordinates":[[[99.1,-0.9],[100.9,-0.9],[100.9,-0.1],[99.1,-0.1],[99.1,-0.9]],[[99.5,-0.7],[100.5,-0.7],[100.5,-0.3],[99.5,-0.3],[99.5,-0.7]]]}"""))

  def polys = polysJson.toDF("poly_id", "geojson")
    .select($"poly_id", from_geojson_geom($"geojson").as("geom"))

  test("PIP join equals brute-force st_contains cross join") {
    val pts = points(3000).cache()
    val pls = polys.cache()
    val fast = SpatialJoins.pipJoin(pts, "lng", "lat", pls, "geom", res = 5)
      .select("id", "poly_id")
    val brute = pts.crossJoin(pls)
      .where(st_contains($"geom", $"lng", $"lat"))
      .select("id", "poly_id")
    assert(fast.count() > 0, "PIP join produced no rows — bad test layout")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      s"fast=${fast.count()} brute=${brute.count()}")
  }

  test("PIP auto-resolution: resForPolys pins to the median span; default res ≡ explicit") {
    def boxes(span: Double, n: Int) = (0 until n).map { i =>
      val w = -150.0 + i * (span + 3); val s = -40.0 + i * 2.0
      (s"b$i", s"""{"type":"Polygon","coordinates":[[[$w,$s],[${w + span},$s],[${w + span},${s + span}],[$w,${s + span}],[$w,$s]]]}""")
    }.toDF("poly_id", "geojson").select($"poly_id", from_geojson_geom($"geojson").as("geom"))
    // homogeneous sets: chosen res == resForBoxDeg(span)
    assert(SpatialJoins.resForPolys(boxes(8.0, 6), "geom") == SpatialJoins.resForBoxDeg(8.0))
    assert(SpatialJoins.resForPolys(boxes(0.4, 6), "geom") == SpatialJoins.resForBoxDeg(0.4))
    // mixed set: one continent-sized outlier must not coarsen the grid for
    // a set of small polygons — the MEDIAN wins
    val mixed = boxes(0.4, 9).unionByName(boxes(60.0, 2))
    assert(SpatialJoins.resForPolys(mixed, "geom") == SpatialJoins.resForBoxDeg(0.4))
    // default (auto) res produces the same joined rows as a hand-tuned one
    val pts = points(2000)
    val auto = SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom")
      .select("id", "poly_id")
    val tuned = SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 5)
      .select("id", "poly_id")
    assert(auto.exceptAll(tuned).isEmpty && tuned.exceptAll(auto).isEmpty)
  }

  test("PIP join with salting produces identical rows") {
    val pts = points(3000)
    val salted = SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 5,
      broadcastPolys = false, saltBuckets = 4, hotCellThreshold = 10)
    val plain = SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 5)
    assert(salted.select("id", "poly_id").exceptAll(plain.select("id", "poly_id")).isEmpty)
    assert(plain.select("id", "poly_id").exceptAll(salted.select("id", "poly_id")).isEmpty)
  }

  test("PIP join across the antimeridian") {
    val seamPoly = Seq(("seam",
      """{"type":"Polygon","coordinates":[[[170.0,40.0],[-170.0,40.0],[-170.0,50.0],[170.0,50.0],[170.0,40.0]]]}"""))
      .toDF("poly_id", "geojson")
      .select($"poly_id", from_geojson_geom($"geojson").as("geom"))
    val pts = spark.range(1000).select(
      $"id",
      (pmod($"id" * 7919, lit(3000)) / 100.0 + 165.0).as("lng0"), // 165 .. 195
      (pmod($"id" * 104729, lit(2000)) / 100.0 + 35.0).as("lat"))
      .withColumn("lng", when($"lng0" > 180, $"lng0" - 360).otherwise($"lng0")).drop("lng0")
    val fast = SpatialJoins.pipJoin(pts, "lng", "lat", seamPoly, "geom", res = 3)
      .select("id").as[Long].collect().toSet
    val brute = pts.crossJoin(seamPoly)
      .where(st_contains($"geom", $"lng", $"lat"))
      .select("id").as[Long].collect().toSet
    assert(fast == brute && fast.nonEmpty)
  }

  test("kNN join equals brute-force top-k by haversine") {
    val pts = points(2000).withColumnRenamed("id", "pid").cache()
    val qs  = spark.range(40).select(
      $"id".as("qid"),
      (pmod($"id" * 31, lit(40)) / 10.0 + 99.5).as("qlng"),
      (pmod($"id" * 17, lit(30)) / 10.0 - 0.5).as("qlat")).cache()
    val k = 5
    val fast = SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k, res = 6)
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.count() == 40L * k)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  /** Runs `body` and returns its result with the descriptions of the Spark
    * jobs it launched, in start order (`""` for an unlabelled job). */
  def withJobs[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(1000) // listener delivery is async
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def roundLabels(jobs: Seq[String]): Set[String] = jobs.filter(_.startsWith("knnJoin round")).toSet

  test("hex kNN: null- and NaN-latitude query rows are not silently dropped by polar routing") {
    val pts = spark.range(100).select($"id".as("pid"),
      (pmod($"id" * 7, lit(100)) / 10.0).as("lng"), (pmod($"id" * 13, lit(80)) / 10.0).as("lat"))
    // NaN is the nastier sibling of null: comparisons with it are
    // plain-false, so a filter-based route can lose the row entirely
    val rows = Seq((1L, Some(5.0), Some(4.0)), (2L, Some(6.0), None),
        (3L, Some(7.0), Some(Double.NaN)), (4L, Some(Double.NaN), Some(3.0)))
    def queries(rs: Seq[(Long, Option[Double], Option[Double])]) = rs
      .toDF("qid", "qlng", "qlat")
      .select($"qid", $"qlng".cast("double").as("qlng"), $"qlat".cast("double").as("qlat"))
    def run(rs: Seq[(Long, Option[Double], Option[Double])]) = withJobs(
      SpatialJoins.knnJoin(queries(rs), "qid", "qlng", "qlat", pts, "lng", "lat", k = 2, res = 4)
        .select("qid", "pid", "rank").as[(Long, Long, Int)].collect().toSet)
    val (clean, cleanJobs) = run(rows.take(1))
    val (out, outJobs) = run(rows)
    // the null- and NaN-coordinate queries surface (through the brute tail)
    // instead of vanishing, and the finite query's answer is unchanged
    assert(out.map(_._1) == Set(1L, 2L, 3L, 4L))
    assert(out.filter(_._1 == 1L) == clean && clean.size == 2)
    // they skip the rounds: only the tail's jobs are added, never a round
    assert(roundLabels(cleanJobs).nonEmpty, s"no labelled round jobs: $cleanJobs")
    assert(roundLabels(outJobs) == roundLabels(cleanJobs),
      s"uncertifiable rows rode extra rounds: $outJobs vs $cleanJobs")
  }

  test("kNN batch that certifies in round 1 launches a pinned number of jobs") {
    // guards against eager counts, isEmpty probes or per-round
    // re-aggregation creeping back into the loop
    val pts = points(2000).withColumnRenamed("id", "pid").cache()
    pts.count()
    val qs = spark.range(40).select(
      $"id".as("qid"),
      (pmod($"id" * 31, lit(40)) / 10.0 + 99.5).as("qlng"),
      (pmod($"id" * 17, lit(30)) / 10.0 - 0.5).as("qlat"))
    val sc = spark.sparkContext
    sc.setJobDescription("knn spec caller")
    val ((n, jobs), callerAfter) = try {
      val counted = withJobs(
        SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k = 5, res = 6).count())
      (counted, sc.getLocalProperty("spark.job.description"))
    } finally sc.setJobDescription(null)
    // the caller's job description survives the labelled rounds
    assert(callerAfter == "knn spec caller")
    assert(n == 40L * 5)
    assert(roundLabels(jobs) == Set("knnJoin round 1"), s"jobs: $jobs")
    assert(jobs.size <= 7, s"${jobs.size} jobs: $jobs")
  }

  test("hex kNN auto-routes polar queries through S2 and equals brute force") {
    // pre-round-4 these queries fell to the brute-force tail (the planar
    // ring bound never certifies near the poles); now they route through
    // knnJoinS2 and the MIXED result must still equal brute force exactly
    val pts = spark.range(2500).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      when($"id" % 4 === 0, pmod($"id" * 131, lit(400)) / 100.0 + 86.0)
        .otherwise(pmod($"id" * 104729, lit(16000)) / 100.0 - 80.0).as("lat"))
      .cache()
    val qs = (Seq((1L, 10.0, 89.5), (2L, -120.0, 87.2), (3L, 45.0, 89.97)) ++
      (4L to 20L).map(i => (i, (i * 37 % 360) - 180.0, (i * 23 % 160) - 80.0)))
      .toDF("qid", "qlng", "qlat").cache()
    val k = 4
    val fast = SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k, res = 5)
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.count() == 20L * k)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("S2 kNN join equals brute force: uniform, POLAR and seam-crossing queries") {
    // world-wide points incl. dense polar caps — the hex kNN's weak corner
    val pts = spark.range(3000).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      when($"id" % 5 === 0, pmod($"id" * 131, lit(300)) / 100.0 + 87.0)        // 87..90 N
        .when($"id" % 5 === 1, lit(-87.0) - pmod($"id" * 131, lit(300)) / 100.0) // 87..90 S
        .otherwise(pmod($"id" * 104729, lit(16000)) / 100.0 - 80.0).as("lat"))
      .cache()
    val qs = (
      // polar queries (both poles, incl. lat 89.9+), seam queries, uniform
      Seq((1L, 10.0, 89.5), (2L, -120.0, 88.2), (3L, 45.0, 89.97), (4L, 0.0, -89.3),
          (5L, 179.9, -88.0), (6L, -179.95, 44.5), (7L, 180.0, 0.0)) ++
        (8L to 30L).map(i => (i, (i * 37 % 360) - 180.0, (i * 23 % 160) - 80.0))
      ).toDF("qid", "qlng", "qlat").cache()
    val k = 5
    val fast = SpatialJoins.knnJoinS2(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k,
        minLevel = 4, maxLevel = 9)
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.count() == 30L * k)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("persisted cover index: pipJoinWithIndex ≡ pipJoin, zero per-batch cover work") {
    val pts = spark.range(2000).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      (pmod($"id" * 104729, lit(16000)) / 100.0 - 80.0).as("lat"))
    val polys = (0 until 8).map { i =>
      val w = i * 40.0 - 165.0; val s = (i % 4) * 30.0 - 55.0
      (i.toLong, s"""{"type":"Polygon","coordinates":[[[$w,$s],[${w + 30},$s],[${w + 30},${s + 25}],[$w,${s + 25}],[$w,$s]]]}""")
    }.toDF("poly_id", "json")
      .select($"poly_id", from_geojson_geom($"json").as("geom"))
    val idx = java.nio.file.Files.createTempDirectory("graft_spidx").toString + "/spidx"
    graft.geo.join.SpatialJoins.writeCoverIndex(polys, "poly_id", "geom", idx, res = 3)
    val indexed = graft.geo.join.SpatialJoins.pipJoinWithIndex(pts, "lng", "lat", idx)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val inline = graft.geo.join.SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 3)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(indexed == inline && inline.nonEmpty, s"indexed=${indexed.size} inline=${inline.size}")
    // the batch plan computes NO covers (they're stored) and broadcasts the index
    val plan = graft.geo.join.SpatialJoins.pipJoinWithIndex(pts, "lng", "lat", idx)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("hexcover"), s"covers must be precomputed:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), "index side must broadcast")
  }

  test("a failed cover-index rebuild at another resolution leaves no params marker") {
    val polys = (0 until 4).map { i =>
      val w = i * 40.0 - 165.0
      (i.toLong, s"""{"type":"Polygon","coordinates":[[[$w,0.0],[${w + 30},0.0],[${w + 30},25.0],[$w,25.0],[$w,0.0]]]}""")
    }.toDF("poly_id", "json")
      .select($"poly_id", from_geojson_geom($"json").as("geom"))
    val idx = java.nio.file.Files.createTempDirectory("graft_spidx_rebuild").toString + "/spidx"
    graft.geo.join.SpatialJoins.writeCoverIndex(polys, "poly_id", "geom", idx, res = 3)
    assert(new java.io.File(s"$idx/params/_SUCCESS").exists())
    // a res-4 marker over the res-3 cells would key points at the wrong resolution
    val failing = polys.withColumn("geom",
      when($"poly_id" === 2L, raise_error(lit("geometry column failed"))).otherwise($"geom"))
    intercept[Exception](
      graft.geo.join.SpatialJoins.writeCoverIndex(failing, "poly_id", "geom", idx, res = 4))
    assert(!new java.io.File(s"$idx/params").exists(),
      "the previous index's params survived a failed rebuild")
  }

  test("distanceJoin equals brute force: uniform, polar and seam queries; no dup pairs") {
    val pts = spark.range(3000).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      when($"id" % 5 === 0, pmod($"id" * 131, lit(300)) / 100.0 + 87.0)
        .when($"id" % 5 === 1, lit(-87.0) - pmod($"id" * 131, lit(300)) / 100.0)
        .otherwise(pmod($"id" * 104729, lit(16000)) / 100.0 - 80.0).as("lat"))
      .cache()
    val qs = (
      Seq((1L, 10.0, 89.5), (2L, -120.0, 88.2), (3L, 45.0, 89.97), (4L, 0.0, -89.3),
          (5L, 179.9, -88.0), (6L, -179.95, 44.5), (7L, 180.0, 0.0)) ++
        (8L to 30L).map(i => (i, (i * 37 % 360) - 180.0, (i * 23 % 160) - 80.0))
      ).toDF("qid", "qlng", "qlat").cache()
    for (d <- Seq(120000.0, 900000.0)) {
      val fast = SpatialJoins.distanceJoin(qs, "qlng", "qlat", pts, "lng", "lat", d,
          minLevel = 4, maxLevel = 9)
        .select("qid", "pid")
      val brute = qs.crossJoin(pts)
        .where(haversine($"qlng", $"qlat", $"lng", $"lat") <= d)
        .select("qid", "pid")
      // exceptAll both ways also proves multiplicity 1 per pair (disjoint
      // normalized covers: no pair can match on two cells)
      assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
        s"d=$d: fast=${fast.count()} brute=${brute.count()}")
      assert(brute.count() > 30, s"degenerate sample at d=$d")
    }
  }

  test("streaming PIP join + tile rollup equals batch (flagship shape on a stream)") {
    // the north-rule plan (cover -> broadcast equi-join -> refine -> tile ->
    // rollup) is stateless up to the final agg, so it runs unchanged on a
    // readStream source; complete-mode counts must equal the batch run
    val pts = spark.range(4000).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      (pmod($"id" * 104729, lit(16800)) / 100.0 - 84.0).as("lat"))
    val polyJson = (r: Int) => {
      val w = -170.005 + r * 66.0; val e = w + 40.0
      val s0 = -60.005 + r * 25.0; val n = s0 + 35.0
      s"""{"type":"Polygon","coordinates":[[[$w,$s0],[$e,$s0],[$e,$n],[$w,$n],[$w,$s0]]]}"""
    }
    val polys = (0 until 5).map(r => (r, polyJson(r))).toDF("rk", "pj")
      .select($"rk", from_geojson_geom($"pj").as("geom"))
    def pipeline(points: org.apache.spark.sql.DataFrame) =
      SpatialJoins.assignTiles(
          SpatialJoins.pipJoin(points, "lng", "lat", polys, "geom", res = 2),
          "lng", "lat", z = 6)
        .groupBy($"rk", $"tile_x", $"tile_y").agg(count(lit(1)).as("n"))
    val dir = java.nio.file.Files.createTempDirectory("stream_pip")
    pts.write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(pts.schema).parquet(dir.toString + "/b1")
    val q = pipeline(stream).writeStream.format("memory")
      .queryName("pip_stream").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select * from pip_stream")
    val batch = pipeline(spark.read.parquet(dir.toString + "/b1"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("writeTiled: bucketed parquet, tiles contiguous within partitions") {
    val pts = spark.range(2000).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      (pmod($"id" * 104729, lit(16800)) / 100.0 - 84.0).as("lat"))
    val tiled = SpatialJoins.assignTiles(pts, "lng", "lat", z = 6)
    val dir = java.nio.file.Files.createTempDirectory("tiled_out").toString + "/t"
    SpatialJoins.writeTiled(tiled, dir, buckets = 4)
    val back = spark.read.parquet(dir)
    // content identical (bucketing is layout, not semantics)
    assert(back.exceptAll(tiled).isEmpty && tiled.exceptAll(back).isEmpty)
    // 4 buckets; each part file's tile keys arrive sorted (contiguous tiles)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.toString)
    assert(files.length == 4)
    files.foreach { f =>
      val keys = spark.read.parquet(f).select("tile_key")
        .collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), s"unsorted tiles in $f")
    }
  }

  test("auto-radius row estimate launches zero Spark jobs") {
    // the knnJoinS2 auto radius must come from plan statistics, never an
    // eager count() scan of the (possibly 100 TB) points input
    val pts = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select($"c_custkey", ($"c_custkey" % 360 - 180).cast("double").as("lng"),
        ($"c_custkey" % 160 - 80).cast("double").as("lat"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = SpatialJoins.planTimeRowEstimate(pts)
      Thread.sleep(1000) // listener delivery is async
      assert(jobs.get() == 0, s"row estimate ran ${jobs.get()} jobs")
      // order of magnitude only: true count is 1500 at sf0.001
      assert(n > 10 && n < 1500L * 1000, s"estimate $n implausible")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("S2 kNN exact within 100m of the pole (dLng clamp soundness)") {
    // a tight cluster straddling the 89.999+ band where a naive cos clamp
    // under-estimates the box width; brute-force equality must hold
    val pts = (
      Seq((1L, 10.0, 89.9994), (2L, 120.0, 89.9996), (3L, -60.0, 89.9997),
          (4L, 170.0, 89.9993), (5L, -179.0, 89.9995), (6L, 0.0, 89.95),
          (7L, 45.0, 89.90)) ++ (8L to 40L).map(i => (i, (i * 31 % 360) - 180.0, 80.0 + (i % 90) / 10.0))
      ).toDF("pid", "lng", "lat").cache()
    val qs = Seq((1L, -100.0, 89.9995), (2L, 60.0, 89.9992)).toDF("qid", "qlng", "qlat")
    val k = 4
    val fast = SpatialJoins.knnJoinS2(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k,
        initialRadiusM = 100.0, maxRounds = 8) // forces tiny first caps at the pole
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("S2 kNN sparse-neighborhood fallback stays exact") {
    val pts = spark.range(15).select(
      $"id".as("pid"),
      (pmod($"id" * 97, lit(360)) - 180.0 + 0.5).as("lng"),
      (pmod($"id" * 61, lit(160)) - 80.0 + 0.5).as("lat")).cache()
    val qs = Seq((1L, 0.0, 89.9), (2L, 12.0, 13.0)).toDF("qid", "qlng", "qlat")
    val k = 4
    val fast = SpatialJoins.knnJoinS2(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k,
        initialRadiusM = 1000.0, maxRounds = 2) // force the brute tail
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("kNN across the antimeridian finds neighbors on the other side of the seam") {
    // points on both sides of ±180 at similar latitudes
    val pts = spark.range(400).select(
      $"id".as("pid"),
      (pmod($"id" * 7919, lit(1000)) / 100.0 + lit(175.0)).as("lng0"), // 175..185
      (pmod($"id" * 104729, lit(1000)) / 100.0 + lit(40.0)).as("lat"))
      .withColumn("lng", when($"lng0" > 180, $"lng0" - 360).otherwise($"lng0")).drop("lng0")
      .cache()
    val qs = Seq((1L, -179.95, 44.5), (2L, 179.95, 44.5), (3L, 180.0, 44.7))
      .toDF("qid", "qlng", "qlat")
    val k = 7
    val fast = SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", pts, "lng", "lat", k, res = 7)
      .select("qid", "pid", "rank")
    val w = Window.partitionBy($"qid").orderBy($"dist_m", $"lng", $"lat")
    val brute = qs.crossJoin(pts)
      .withColumn("dist_m", haversine($"qlng", $"qlat", $"lng", $"lat"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= k)
      .select("qid", "pid", "rank")
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      s"fast=${fast.collect().mkString(",")}\nbrute=${brute.collect().mkString(",")}")
  }

  test("kNN brute-force fallback path (sparse points, huge rings)") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 50.0, 50.0), (3L, -120.0, -60.0))
      .toDF("pid", "lng", "lat")
    val qs = Seq((1L, 10.0, 10.0)).toDF("qid", "qlng", "qlat")
    val out = SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", pts, "lng", "lat",
      k = 2, res = 8)
      .select("pid").as[Long].collect().toSet
    assert(out == Set(1L, 2L)) // the two nearest of the three
  }

  test("multi-level cover: sound, and interior emits coarse cells") {
    import graft.geo.index.S2Cell
    val rng = new scala.util.Random(5)
    // big box: multi-level cover must be far smaller than fixed-level
    val (w0, s0, e0, n0) = (-60.0, -30.0, 40.0, 45.0)
    val multi = S2Cell.coverBoxMulti(w0, s0, e0, n0, 3, 12)
    val fixed = S2Cell.coverBox(w0, s0, e0, n0, 12)
    assert(multi.length.toLong * 50 < fixed.length,
      s"multi=${multi.length} fixed=${fixed.length}")
    val multiSet = multi.toSet
    // soundness: a contained point's ancestor at SOME level is in the cover
    for (_ <- 1 to 2000) {
      val px = w0 + rng.nextDouble() * (e0 - w0)
      val py = s0 + rng.nextDouble() * (n0 - s0)
      val anc = S2Cell.ancestors(px, py, 3, 12)
      assert(anc.exists(multiSet.contains), s"($px,$py) missed by multi-level cover")
      // and at EXACTLY one level (cells disjoint)
      assert(anc.count(multiSet.contains) == 1)
    }
  }

  test("multi-level PIP join equals brute force on mixed-size polygons") {
    val pts = points(3000).cache()
    val mixed = (polysJson :+
      ("huge", """{"type":"Polygon","coordinates":[[[60.0,-50.0],[170.0,-50.0],[170.0,60.0],[60.0,60.0],[60.0,-50.0]]]}"""))
      .toDF("poly_id", "geojson")
      .select($"poly_id", from_geojson_geom($"geojson").as("geom"))
    val bigPts = spark.range(3000).select(
      $"id" + 100000L as "id",
      (pmod($"id" * 7919, lit(24000)) / 100.0 + 50.0).as("lng"),
      (pmod($"id" * 104729, lit(12000)) / 100.0 - 60.0).as("lat"))
    val all = pts.unionByName(bigPts).cache()
    val fast = SpatialJoins.pipJoinMultiLevel(all, "lng", "lat", mixed, "geom",
      minLevel = 3, maxLevel = 11).select("id", "poly_id")
    val brute = all.crossJoin(mixed)
      .where(st_contains($"geom", $"lng", $"lat")).select("id", "poly_id")
    assert(fast.count() > 0)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      s"fast=${fast.count()} brute=${brute.count()}")
  }

  test("multi-level PIP join across the antimeridian") {
    val seamPolys = Seq(
      ("seam", """{"type":"Polygon","coordinates":[[[170.0,40.0],[-170.0,40.0],[-170.0,50.0],[170.0,50.0],[170.0,40.0]]]}"""),
      ("bigseam", """{"type":"Polygon","coordinates":[[[120.0,-20.0],[-120.0,-20.0],[-120.0,30.0],[120.0,30.0],[120.0,-20.0]]]}"""))
      .toDF("poly_id", "geojson")
      .select($"poly_id", from_geojson_geom($"geojson").as("geom"))
    val pts = spark.range(2000).select(
      $"id",
      (pmod($"id" * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      (pmod($"id" * 104729, lit(16000)) / 100.0 - 80.0).as("lat")).cache()
    val fast = SpatialJoins.pipJoinMultiLevel(pts, "lng", "lat", seamPolys, "geom",
      minLevel = 2, maxLevel = 10).select("id", "poly_id")
    val brute = pts.crossJoin(seamPolys)
      .where(st_contains($"geom", $"lng", $"lat")).select("id", "poly_id")
    assert(fast.count() > 0)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      s"fast=${fast.count()} brute=${brute.count()}")
  }

  test("tile assignment buckets and accessors") {
    val pts = points(1000)
    val tiled = SpatialJoins.assignTiles(pts, "lng", "lat", z = 10)
    val r = tiled.select("tile_z", "tile_x", "tile_y").distinct().collect()
    assert(r.forall(_.getInt(0) == 10))
    // closed form: lng 99..103 at z=10 → x in [793, 805]; lat -1..3 → y ∈ [502,514]
    assert(r.forall { row => val x = row.getLong(1); x >= 793 && x <= 805 })
    assert(r.forall { row => val y = row.getLong(2); y >= 502 && y <= 514 })
    // count preserved
    assert(tiled.count() == 1000)
  }
}
