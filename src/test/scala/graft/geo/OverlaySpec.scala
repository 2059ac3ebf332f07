package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions._

/** `st_intersection` / `st_difference` / `st_union` — general polygon
  * overlay. Rectilinear closed forms (interval arithmetic), the
  * shared-edge / vertex-on-edge degeneracies that break crossing-pairing
  * algorithms, hole and island-in-lake topologies, a 300-pair JTS
  * differential on random concave/holed polygons (intersection, union,
  * both differences, and the additivity identity), antimeridian frames,
  * and the mixed-dimension routings.
  */
class OverlaySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ringJson(pts: Seq[(Double, Double)]): String =
    (pts :+ pts.head).map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")

  private def polyJson(shell: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]] = Nil): String =
    s"""{"type":"Polygon","coordinates":[${(ringJson(shell) +: holes.map(ringJson)).mkString(",")}]}"""

  private def boxPts(w: Double, s: Double, e: Double, n: Double) =
    Seq((w, s), (e, s), (e, n), (w, n))

  /** (intersection, unionArea, aMinusB, bMinusA) planar areas; null → 0. */
  private def areas(aJson: String, bJson: String): (Double, Double, Double, Double) = {
    val r = Seq((aJson, bJson)).toDF("a", "b")
      .select(
        coalesce(st_area(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_difference(from_geojson_geom($"b"), from_geojson_geom($"a"))), lit(0.0)))
      .head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  private def approx(got: Double, want: Double, tol: Double = 1e-9, ctx: => String = ""): Unit =
    assert(math.abs(got - want) <= tol * math.max(1.0, math.abs(want)), s"$got vs $want $ctx")

  test("overlapping boxes: closed-form interval arithmetic for all three ops") {
    val a = polyJson(boxPts(0, 0, 10, 10))
    val b = polyJson(boxPts(5, 5, 15, 15))
    val (i, u, d1, d2) = areas(a, b)
    approx(i, 25.0); approx(u, 175.0); approx(d1, 75.0); approx(d2, 75.0)
    // nested: B strictly inside A — difference punches a HOLE
    val inner = polyJson(boxPts(3, 3, 5, 5))
    val (i2, u2, d3, d4) = areas(a, inner)
    approx(i2, 4.0); approx(u2, 100.0); approx(d3, 96.0); approx(d4, 0.0)
    val holed = Seq((a, inner)).toDF("a", "b")
      .select(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .select(st_geometry_type($"g"), st_area($"g"),
        st_area_m2($"g") / st_area_m2(from_geojson_geom(lit(a)))).head()
    assert(holed.getString(0) == "Polygon")
    approx(holed.getDouble(1), 96.0) // planar: |shell| − |hole| exactly
    // spherical ratio differs from planar in the 4th decimal (cos-lat
    // weighting of the hole's band) — sanity-bound only
    approx(holed.getDouble(2), 0.96, 2e-4)
    // part structure: overlapping and ABUTTING unions are ONE Polygon (no
    // seam-split parts — interior edges the predicate survives must not
    // emit walls), disjoint unions are MultiPolygon
    val structure = Seq((a, b, polyJson(boxPts(10, 0, 20, 10)))).toDF("a", "b", "c")
      .select(st_geometry_type(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))),
        st_geometry_type(st_union(from_geojson_geom($"a"), from_geojson_geom($"c")))).head()
    assert(structure.getString(0) == "Polygon", s"overlap union split: ${structure.getString(0)}")
    assert(structure.getString(1) == "Polygon", s"abutting union split: ${structure.getString(1)}")
    // disjoint: intersection NULL, difference unchanged, union = both parts
    val far = polyJson(boxPts(40, 40, 44, 44))
    val (i3, u3, d5, _) = areas(a, far)
    approx(i3, 0.0); approx(u3, 116.0); approx(d5, 100.0)
    val parts = Seq((a, far)).toDF("a", "b")
      .select(st_geometry_type(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))))
      .head().getString(0)
    assert(parts == "MultiPolygon")
  }

  test("L-shaped concave subject: exact rectilinear overlay") {
    // L: 10x4 base + 4x6 upright = 64
    val l = polyJson(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0), (4.0, 10.0), (0.0, 10.0)))
    val b = polyJson(boxPts(3, 3, 6, 6))
    // B ∩ L: [3,6]x[3,4] = 3 plus [3,4]x[4,6] = 2
    val (i, u, d1, d2) = areas(l, b)
    approx(i, 5.0); approx(u, 64.0 + 9.0 - 5.0); approx(d1, 59.0); approx(d2, 4.0)
    // two interlocking Ls: rectilinear concave × concave
    val l2 = polyJson(Seq((6.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
      (0.0, 6.0), (6.0, 6.0)))
    // l2 area = 10*4 (x 6..10 full height? no) — compute: rect x6..10 y0..10 = 40 plus rect x0..6 y6..10 = 24 → 64
    // l ∩ l2: [6,10]x[0,4] = 16, [0,4]x[6,10] = 16 → 32
    val (i2, u2, d3, d4) = areas(l, l2)
    approx(i2, 32.0); approx(u2, 96.0); approx(d3, 32.0); approx(d4, 32.0)
  }

  test("shared-edge and vertex-on-edge degeneracies (the Greiner-Hormann killers)") {
    val a = polyJson(boxPts(0, 0, 10, 10))
    // share the full edge x=10: zero-area contact
    val (i1, u1, d1, _) = areas(a, polyJson(boxPts(10, 0, 20, 10)))
    approx(i1, 0.0); approx(u1, 200.0); approx(d1, 100.0)
    // B overlaps and shares boundary runs top+bottom
    val (i2, u2, d2, _) = areas(a, polyJson(boxPts(5, 0, 15, 10)))
    approx(i2, 50.0); approx(u2, 150.0); approx(d2, 50.0)
    // identical operands
    val (i3, u3, d3, d4) = areas(a, a)
    approx(i3, 100.0); approx(u3, 100.0); approx(d3, 0.0); approx(d4, 0.0)
    // vertex-on-edge touch: diamond kissing the box edge at one point
    val kiss = polyJson(Seq((10.0, 5.0), (14.0, 2.0), (14.0, 8.0)))
    val (i4, u4, d5, _) = areas(a, kiss)
    approx(i4, 0.0); approx(u4, 112.0); approx(d5, 100.0)
    // collinear overlap without area overlap: staircase edges along y=x grid
    val st1 = polyJson(Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (8.0, 4.0), (8.0, 8.0), (0.0, 8.0)))
    val st2 = polyJson(Seq((4.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0)))
    val (i5, u5, d6, _) = areas(st1, st2)
    approx(i5, 0.0); approx(u5, 48.0 + 16.0); approx(d6, 48.0)
  }

  test("holes and island-in-lake topology") {
    val annulus = polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(2, 2, 8, 8).reverse))
    // island fully inside the lake: union is a 2-part MultiPolygon
    val island = polyJson(boxPts(4, 4, 6, 6))
    val (i1, u1, d1, d2) = areas(annulus, island)
    approx(i1, 0.0); approx(u1, 68.0); approx(d1, 64.0); approx(d2, 4.0)
    val uGeom = Seq((annulus, island)).toDF("a", "b")
      .select(st_union(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .select(st_geometry_type($"g"), size(st_parts($"g"))).head()
    assert(uGeom.getString(0) == "MultiPolygon" && uGeom.getInt(1) == 2)
    // B swallows the hole: A∩B is B minus the hole; A∪B plugs the lake
    val big = polyJson(boxPts(1, 1, 9, 9))
    val (i2, u2, d3, d4) = areas(annulus, big)
    approx(i2, 64.0 - 36.0); approx(u2, 100.0); approx(d3, 36.0); approx(d4, 36.0)
    // hole partially overlapping B: rectilinear closed form
    val shifted = polyJson(boxPts(5, 5, 12, 12))
    // annulus ∩ shifted: [5,12]x[5,12] ∩ annulus = [5,10]x[5,10] minus hole∩ = 25 - [5,8]x[5,8]=9 → 16
    val (i3, _, _, _) = areas(annulus, shifted)
    approx(i3, 16.0)
  }

  test("differential vs JTS: 300 random concave/holed pairs, all ops + additivity") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf  = new GeometryFactory()
    val rnd = new scala.util.Random(20260818L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val cases = (0 until 300).map { i =>
      val cx = rnd.nextDouble() * 100 - 50; val cy = rnd.nextDouble() * 60 - 30
      val sa = star(cx, cy, 4.0, 12.0, 5 + rnd.nextInt(12))
      val ha = if (i % 3 == 0) Seq(star(cx, cy, 0.5, 1.8, 4 + rnd.nextInt(5)).reverse) else Nil
      val dx = rnd.nextDouble() * 12 - 6; val dy = rnd.nextDouble() * 12 - 6
      val sb = star(cx + dx, cy + dy, 3.0, 10.0, 5 + rnd.nextInt(10))
      val hb = if (i % 4 == 0) Seq(star(cx + dx, cy + dy, 0.4, 1.5, 4).reverse) else Nil
      (polyJson(sa, ha), polyJson(sb, hb), sa, ha, sb, hb)
    }
    val got = cases.map { case (a, b, _, _, _, _) => (a, b) }.toDF("a", "b")
      .select(
        coalesce(st_area(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area(st_difference(from_geojson_geom($"b"), from_geojson_geom($"a"))), lit(0.0)))
      .as[(Double, Double, Double, Double)].collect()
    def ring(pts: Seq[(Double, Double)]) =
      gf.createLinearRing((pts :+ pts.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    cases.zip(got).zipWithIndex.foreach {
      case (((_, _, sa, ha, sb, hb), (gi, gu, gd1, gd2)), idx) =>
        val ja = gf.createPolygon(ring(sa), ha.map(ring).toArray)
        val jb = gf.createPolygon(ring(sb), hb.map(ring).toArray)
        val tol = 1e-6
        approx(gi, ja.intersection(jb).getArea, tol, s"case $idx intersection")
        approx(gu, ja.union(jb).getArea, tol, s"case $idx union")
        approx(gd1, ja.difference(jb).getArea, tol, s"case $idx a-b")
        approx(gd2, jb.difference(ja).getArea, tol, s"case $idx b-a")
        // additivity: ∩ + (A∖B) + (B∖A) = ∪ (the partition identity)
        approx(gi + gd1 + gd2, gu, tol, s"case $idx additivity")
    }
  }

  test("spherical areas: st_area_m2 additivity — ∩ + (A∖B) + (B∖A) = ∪") {
    // areaM2's |shell| − Σ|holes| per-part convention: the identity only
    // holds when every hole is attached to the right shell — pins the
    // classification/assignment stage on curved-metric ground
    val rnd = new scala.util.Random(41L)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val cases = (0 until 40).map { i =>
      val cx = rnd.nextDouble() * 80 - 40; val cy = rnd.nextDouble() * 80 - 40
      val sa = star(cx, cy, 3.0, 9.0, 6 + rnd.nextInt(8))
      val ha = if (i % 2 == 0) Seq(star(cx, cy, 0.5, 1.5, 4).reverse) else Nil
      val sb = star(cx + rnd.nextDouble() * 8 - 4, cy + rnd.nextDouble() * 8 - 4,
        2.5, 8.0, 5 + rnd.nextInt(8))
      (polyJson(sa, ha), polyJson(sb))
    }
    cases.toDF("a", "b")
      .select(
        coalesce(st_area_m2(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area_m2(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area_m2(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
        coalesce(st_area_m2(st_difference(from_geojson_geom($"b"), from_geojson_geom($"a"))), lit(0.0)))
      .as[(Double, Double, Double, Double)].collect()
      .zipWithIndex.foreach { case ((i2, u2, d1, d2), idx) =>
        approx(i2 + d1 + d2, u2, 1e-6, s"case $idx m2 additivity")
      }
  }

  test("antimeridian: frames align through ±360° translates") {
    // ring over lngs 170 → -170 (10° each side of the antimeridian), lats 0..10
    val a = """{"type":"Polygon","coordinates":[[[170.0,0.0],[-170.0,0.0],[-170.0,10.0],[170.0,10.0],[170.0,0.0]]]}"""
    val west = polyJson(boxPts(-180, 0, -170, 10))
    val east = polyJson(boxPts(170, 0, 180, 10))
    val (i1, _, _, _) = areas(a, west)
    approx(i1, 100.0)
    val (i2, _, _, _) = areas(a, east)
    approx(i2, 100.0)
    // union across frames: B overlapping the east half in its own frame
    val b = polyJson(boxPts(165, 0, 175, 10))
    val (i3, u3, _, _) = areas(a, b)
    approx(i3, 50.0); approx(u3, 200.0 + 100.0 - 50.0)
    // LINEAL across the seam: a crossing line clipped by a west-side box
    // emits the half-degree run ONCE (the interval union dedupes by
    // construction — the translate double-emission bug's exact repro)
    val seam = """{"type":"LineString","coordinates":[[179.5,0],[-179.5,0]]}"""
    val ref  = """{"type":"LineString","coordinates":[[0,0],[0.5,0]]}"""
    val lr = Seq((seam, west, ref)).toDF("a", "b", "r")
      .select(st_length_m(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))) /
        st_length_m(from_geojson_geom($"r"))).head().getDouble(0)
    approx(lr, 1.0, 1e-9)
  }

  test("mixed dimensions: points and lines against areal operands") {
    val box = polyJson(boxPts(0, 0, 10, 10))
    val pts = """{"type":"MultiPoint","coordinates":[[5,5],[15,5],[-3,2],[9,9]]}"""
    val keep = Seq((pts, box)).toDF("a", "b")
      .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .select(st_geometry_type($"g"), st_bbox($"g")).head()
    assert(keep.getString(0) == "MultiPoint")
    assert(keep.getSeq[Double](1) == Seq(5.0, 5.0, 9.0, 9.0))
    val drop = Seq((pts, box)).toDF("a", "b")
      .select(st_bbox(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b")))).head()
    assert(drop.getSeq[Double](0) == Seq(-3.0, 2.0, 15.0, 5.0))
    // line across the box: clipped run [0,10] at lat 5
    val line = """{"type":"LineString","coordinates":[[-5,5],[15,5]]}"""
    val lres = Seq((line, box)).toDF("a", "b")
      .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .select(st_geometry_type($"g"), st_bbox($"g")).head()
    assert(lres.getString(0) == "LineString" || lres.getString(0) == "MultiLineString")
    assert(lres.getSeq[Double](1) == Seq(0.0, 5.0, 10.0, 5.0))
    // line through a holed polygon: the hole splits the run in two — kept
    // length is the 4° outside the hole (vs 10° through the plain box)
    val annulus = polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(2, 2, 8, 8).reverse))
    val lres2 = Seq((line, annulus, box)).toDF("a", "b", "c")
      .select(st_geometry_type(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))),
        st_length_m(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))) /
          st_length_m(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"c")))).head()
    assert(lres2.getString(0) == "MultiLineString")
    // great-circle length is slightly non-linear in lon span (asin), so the
    // 4°/10° ratio sits ~4e-6 off exactly 0.4
    approx(lres2.getDouble(1), 0.4, 1e-5)
    // areal minus a line: measure-zero subtrahend, unchanged
    val unchanged = Seq((box, line)).toDF("a", "b")
      .select(st_area(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b")))).head().getDouble(0)
    approx(unchanged, 100.0)
    // areal ∩ point set: symmetric routing
    val sym = Seq((box, pts)).toDF("a", "b")
      .select(st_bbox(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")))).head()
    assert(sym.getSeq[Double](0) == Seq(5.0, 5.0, 9.0, 9.0))
    // union of mixed dimensions throws (loud, never silently wrong)
    val err = intercept[Throwable] {
      Seq((box, line)).toDF("a", "b")
        .select(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("union of mixed dimensions")), msgs(err).mkString(" | "))
  }

  test("membership fuzz: p ∈ A∩B ⇔ p ∈ A ∧ p ∈ B (and ∪/∖) on 100 random pairs") {
    // the point-set semantics check the area differentials can't see:
    // random probes agree with the boolean of the operand memberships
    // (probes land on a snapped boundary with probability ~1e-8 — none of
    // the 6000 seeded draws do)
    val rnd = new scala.util.Random(20260818L + 7)
    def star(cx: Double, cy: Double, rMin: Double, rMax: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = rMin + rnd.nextDouble() * (rMax - rMin)
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    def multiJson(parts: Seq[(Seq[(Double, Double)], Seq[Seq[(Double, Double)]])]): String =
      s"""{"type":"MultiPolygon","coordinates":[${
        parts.map { case (sh, hs) =>
          s"[${(ringJson(sh) +: hs.map(ringJson)).mkString(",")}]"
        }.mkString(",")}]}"""
    val rows = (0 until 100).flatMap { i =>
      val cx = rnd.nextDouble() * 60 - 30; val cy = rnd.nextDouble() * 60 - 30
      // every 4th A is a two-part MultiPolygon (disjoint stars)
      val aj =
        if (i % 4 == 0)
          multiJson(Seq(
            (star(cx, cy, 3.0, 7.0, 6 + rnd.nextInt(6)), Nil),
            (star(cx + 18, cy, 2.0, 5.0, 5 + rnd.nextInt(5)), Nil)))
        else polyJson(star(cx, cy, 3.0, 9.0, 6 + rnd.nextInt(8)),
          if (i % 3 == 0) Seq(star(cx, cy, 0.5, 1.5, 4).reverse) else Nil)
      val bj = polyJson(star(cx + rnd.nextDouble() * 8 - 4, cy + rnd.nextDouble() * 8 - 4,
        2.5, 8.0, 5 + rnd.nextInt(7)))
      (0 until 60).map { _ =>
        (i, aj, bj, cx - 12 + rnd.nextDouble() * 42, cy - 12 + rnd.nextDouble() * 24)
      }
    }
    val bad = rows.toDF("pair", "a", "b", "px", "py")
      .select($"pair", $"px", $"py",
        st_contains(from_geojson_geom($"a"), $"px", $"py").as("inA"),
        st_contains(from_geojson_geom($"b"), $"px", $"py").as("inB"),
        coalesce(st_contains(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")), $"px", $"py"), lit(false)).as("inI"),
        coalesce(st_contains(st_union(from_geojson_geom($"a"), from_geojson_geom($"b")), $"px", $"py"), lit(false)).as("inU"),
        coalesce(st_contains(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b")), $"px", $"py"), lit(false)).as("inD"))
      .where($"inI" =!= ($"inA" && $"inB") ||
             $"inU" =!= ($"inA" || $"inB") ||
             $"inD" =!= ($"inA" && !$"inB"))
      .collect()
    assert(bad.isEmpty, s"${bad.length} membership mismatches, first: ${bad.headOption}")
  }

  test("line × line: crossing points, shared runs, difference cuts, union cover") {
    def line(pts: (Double, Double)*) =
      s"""{"type":"LineString","coordinates":[${pts.map { case (x, y) => s"[$x,$y]" }.mkString(",")}]}"""
    def inter(a: String, b: String) = Seq((a, b)).toDF("a", "b")
      .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
    // proper crossing: one point at the closed-form intersection
    val x1 = inter(line((0, 0), (10, 10)), line((0, 10), (10, 0)))
      .select(st_geometry_type($"g"), st_bbox($"g")).head()
    assert(x1.getString(0) == "Point" && x1.getSeq[Double](1) == Seq(5.0, 5.0, 5.0, 5.0))
    // exact shared run: collinear overlap [4,6] on the x-axis
    val x2 = inter(line((0, 0), (10, 0)), line((4, 0), (6, 0)))
      .select(st_geometry_type($"g"), st_bbox($"g")).head()
    assert(x2.getString(0) == "LineString" && x2.getSeq[Double](1) == Seq(4.0, 0.0, 6.0, 0.0))
    // mixed: a shared run AND a separate crossing → GeometryCollection
    val x3 = inter(line((0, 0), (10, 0), (10, 10)),
        line((4, 0), (6, 0), (6, -5), (12, 5)))
      .select(st_geometry_type($"g")).head().getString(0)
    assert(x3 == "GeometryCollection", x3)
    // disjoint parallels → NULL
    assert(inter(line((0, 0), (10, 0)), line((0, 1), (10, 1))).where($"g".isNotNull).count() == 0)
    // difference: the shared run is cut out, length drops by exactly 2°
    val d = Seq((line((0, 0), (10, 0)), line((4, 0), (6, 0)))).toDF("a", "b")
      .select(st_length_m(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))) /
        st_length_m(from_geojson_geom($"a"))).head().getDouble(0)
    approx(d, 0.8, 1e-12)
    // difference by a merely CROSSING line: unchanged (points don't cut)
    val d2 = Seq((line((0, 0), (10, 0)), line((5, -5), (5, 5)))).toDF("a", "b")
      .select(st_length_m(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))) /
        st_length_m(from_geojson_geom($"a"))).head().getDouble(0)
    approx(d2, 1.0, 1e-12)
    // union: both operands' full length (point-set cover); the second line
    // sits on the same latitude so the great-circle lengths match exactly
    val u = Seq((line((0, 0), (10, 0)), line((20, 0), (30, 0)))).toDF("a", "b")
      .select(st_geometry_type(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))),
        st_length_m(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))) /
          st_length_m(from_geojson_geom($"a"))).head()
    assert(u.getString(0) == "MultiLineString")
    approx(u.getDouble(1), 2.0, 1e-9)
  }

  test("point × point / point × line membership ops") {
    val a = """{"type":"MultiPoint","coordinates":[[1,1],[2,2],[3,3]]}"""
    val b = """{"type":"MultiPoint","coordinates":[[2,2],[3,3],[4,4]]}"""
    val r = Seq((a, b)).toDF("a", "b").select(
      st_bbox(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("i"),
      st_bbox(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("d"),
      st_bbox(st_union(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("u"),
      st_geometry_type(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("dt")).head()
    assert(r.getSeq[Double](0) == Seq(2.0, 2.0, 3.0, 3.0))
    assert(r.getSeq[Double](1) == Seq(1.0, 1.0, 1.0, 1.0) && r.getString(3) == "Point")
    assert(r.getSeq[Double](2) == Seq(1.0, 1.0, 4.0, 4.0))
    // point × line: members exactly ON the segment stay (∩) / leave (∖)
    val pts  = """{"type":"MultiPoint","coordinates":[[5,0],[5,1],[0,0],[10,0]]}"""
    val line = """{"type":"LineString","coordinates":[[0,0],[10,0]]}"""
    val pl = Seq((pts, line)).toDF("a", "b").select(
      st_bbox(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("i"),
      st_bbox(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))).as("d")).head()
    assert(pl.getSeq[Double](0) == Seq(0.0, 0.0, 10.0, 0.0))
    assert(pl.getSeq[Double](1) == Seq(5.0, 1.0, 5.0, 1.0))
    // line minus points: measure-zero subtrahend, unchanged
    val lp = Seq((line, pts)).toDF("a", "b")
      .select(st_bbox(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b")))).head()
    assert(lp.getSeq[Double](0) == Seq(0.0, 0.0, 10.0, 0.0))
  }

  test("line × line differential vs JTS: crossing-point counts on random polylines") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf  = new GeometryFactory()
    val rnd = new scala.util.Random(424242L)
    def walk(x0: Double, y0: Double, n: Int): Seq[(Double, Double)] = {
      var x = x0; var y = y0
      (0 until n).map { _ =>
        x += rnd.nextDouble() * 6 - 3; y += rnd.nextDouble() * 6 - 3
        (x, y)
      }
    }
    (0 until 80).foreach { i =>
      val pa = walk(0, 0, 5 + rnd.nextInt(6))
      val pb = walk(rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2, 5 + rnd.nextInt(6))
      def json(p: Seq[(Double, Double)]) =
        s"""{"type":"LineString","coordinates":[${p.map { case (x, y) => s"[$x,$y]" }.mkString(",")}]}"""
      val got = Seq((json(pa), json(pb))).toDF("a", "b")
        .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
        .select(coalesce(size(st_parts($"g")), lit(0)),
          coalesce(st_geometry_type($"g"), lit("null"))).head()
      def ls(p: Seq[(Double, Double)]) =
        gf.createLineString(p.map { case (x, y) => new Coordinate(x, y) }.toArray)
      val want = ls(pa).intersection(ls(pb))
      val wantPts = want.getGeometryType match {
        case "Point"      => 1
        case "MultiPoint" => want.getNumGeometries
        case "GeometryCollection" | "LineString" | "MultiLineString" => -1 // runs: compared by type only
        case _ => 0
      }
      if (wantPts == 0) assert(got.getString(1) == "null", s"case $i: expected empty, got ${got.getString(1)}")
      else if (wantPts > 0) {
        // random walks have no collinear overlaps: point results only
        assert(got.getString(1) == (if (wantPts == 1) "Point" else "MultiPoint"),
          s"case $i: type ${got.getString(1)} vs JTS ${want.getGeometryType}")
        val n = if (got.getString(1) == "Point") 1 else got.getInt(0)
        assert(n == wantPts, s"case $i: $n crossings vs JTS $wantPts")
      }
    }
  }

  test("collection subjects recurse; st_intersects consistency") {
    val box = polyJson(boxPts(0, 0, 10, 10))
    val coll = """{"type":"GeometryCollection","geometries":[""" +
      """{"type":"Point","coordinates":[5,5]},""" +
      """{"type":"LineString","coordinates":[[-5,5],[15,5]]},""" +
      polyJson(boxPts(8, 8, 14, 14)) + "]}"
    val r = Seq((coll, box)).toDF("a", "b")
      .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .select(st_geometry_type($"g"), size(st_parts($"g")), st_area($"g")).head()
    // all three children survive: the point, the clipped line, the 2x2 corner
    assert(r.getString(0) == "GeometryCollection" && r.getInt(1) == 3)
    approx(r.getDouble(2), 4.0) // only the polygon child contributes area
    // a child that vanishes drops; all-vanish → NULL
    val far = polyJson(boxPts(50, 50, 60, 60))
    assert(Seq((coll, far)).toDF("a", "b")
      .select(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).as("g"))
      .where($"g".isNotNull).count() == 0)
    // cross-operator consistency: a non-null areal intersection implies
    // st_intersects (the converse can fail on zero-area boundary touches)
    val rnd = new scala.util.Random(11L)
    def star(cx: Double, cy: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = 2.0 + rnd.nextDouble() * 6.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val pairs = (0 until 60).map { _ =>
      val cx = rnd.nextDouble() * 40 - 20; val cy = rnd.nextDouble() * 40 - 20
      (polyJson(star(cx, cy, 7)),
       polyJson(star(cx + rnd.nextDouble() * 14 - 7, cy + rnd.nextDouble() * 14 - 7, 6)))
    }
    val bad = pairs.toDF("a", "b")
      .select(
        st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b")).isNotNull.as("hasI"),
        st_intersects(from_geojson_geom($"a"), from_geojson_geom($"b")).as("touches"))
      .where($"hasI" && !$"touches").count()
    assert(bad == 0, s"$bad pairs with a non-null intersection but st_intersects=false")
  }

  test("st_buffer_deg: distance soundness, closed forms, erosion, JTS differential") {
    // point buffer: an inscribed 32-gon disc — area = (k/2)·sin(2π/k)·d²
    val pt = """{"type":"Point","coordinates":[3,4]}"""
    val discArea = Seq(Tuple1(pt)).toDF("g")
      .select(st_area(st_buffer_deg(from_geojson_geom($"g"), lit(2.0)))).head().getDouble(0)
    approx(discArea, 16.0 * math.sin(2 * math.Pi / 32) * 4.0, 1e-9)
    // line buffer: a straight segment's capsule = 2dL + inscribed-disc area
    val seg = """{"type":"LineString","coordinates":[[0,0],[10,0]]}"""
    val capArea = Seq(Tuple1(seg)).toDF("g")
      .select(st_area(st_buffer_deg(from_geojson_geom($"g"), lit(1.0)))).head().getDouble(0)
    approx(capArea, 2.0 * 10.0 + 16.0 * math.sin(2 * math.Pi / 32), 1e-9)
    // distance-soundness fuzz: for random concave subjects, probes within
    // d·cos(π/32) of the subject are INSIDE the buffer; probes farther
    // than d are OUTSIDE (the inscribed-arc sandwich)
    val rnd = new scala.util.Random(31337L)
    def star(cx: Double, cy: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = 2.0 + rnd.nextDouble() * 5.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    (0 until 25).foreach { i =>
      val cx = rnd.nextDouble() * 30 - 15; val cy = rnd.nextDouble() * 30 - 15
      val shell = star(cx, cy, 7 + rnd.nextInt(6))
      val d = 0.5 + rnd.nextDouble() * 2.0
      val probes = (0 until 40).map { _ =>
        (cx - 12 + rnd.nextDouble() * 24, cy - 12 + rnd.nextDouble() * 24)
      }
      val jts = gf.createPolygon((shell :+ shell.head)
        .map { case (x, y) => new Coordinate(x, y) }.toArray)
      val rows = probes.map { case (px, py) => (polyJson(shell), d, px, py) }
        .toDF("g", "d", "px", "py")
        .select($"px", $"py",
          st_contains(st_buffer_deg(from_geojson_geom($"g"), $"d"), $"px", $"py").as("inB"))
        .collect()
      rows.foreach { r =>
        val px = r.getDouble(0); val py = r.getDouble(1)
        val dist = jts.distance(gf.createPoint(new Coordinate(px, py)))
        if (dist <= d * math.cos(math.Pi / 32) - 1e-9)
          assert(r.getBoolean(2), s"case $i: probe at dist $dist not in buffer(d=$d)")
        if (dist > d + 1e-9)
          assert(!r.getBoolean(2), s"case $i: probe at dist $dist inside buffer(d=$d)")
      }
      // JTS area differential: same inscribed discretization (8 segments
      // per quadrant = 32 per circle) — tight tolerance
      val got = Seq((polyJson(shell), d)).toDF("g", "d")
        .select(st_area(st_buffer_deg(from_geojson_geom($"g"), $"d"))).head().getDouble(0)
      val want = jts.buffer(d, 8).getArea
      approx(got, want, 5e-3, s"case $i buffer area")
    }
    // erosion: shrink ⊂ subject; dilate∘erode sandwich; thin subject → null
    val holed = polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(4, 4, 6, 6).reverse))
    val er = Seq(Tuple1(holed)).toDF("g")
      .select(st_area(st_buffer_deg(from_geojson_geom($"g"), lit(-1.0))).as("a"),
        st_geometry_type(st_buffer_deg(from_geojson_geom($"g"), lit(-1.0))).as("t")).head()
    // erode the 10×10-minus-2×2 frame by 1: outer square shrinks to [1,9]²
    // with SQUARE corners (64), the hole dilates to the [3,7] square with
    // ROUNDED corners — inscribed 32-gon arcs exactly: the removed region
    // is 16 − (4 − 16·sin(2π/32)), so the closed form is
    // 64 − 16 + (4 − 16·sin(2π/32))
    assert(er.getString(1) == "Polygon")
    approx(er.getDouble(0), 64.0 - 16.0 + (4.0 - 16.0 * math.sin(2 * math.Pi / 32)), 1e-9)
    val thin = Seq(Tuple1(seg)).toDF("g")
      .select(st_buffer_deg(from_geojson_geom($"g"), lit(-0.5)).as("b")).head()
    assert(thin.isNullAt(0))
    // identity at d = 0
    val same = Seq(Tuple1(holed)).toDF("g")
      .select(st_area(st_buffer_deg(from_geojson_geom($"g"), lit(0.0)))).head().getDouble(0)
    approx(same, 96.0)
  }

  test("dissolve: tile → dissolve round-trips the polygon; rectangle unions exact") {
    // the flagship construction loop closed: exact per-tile pieces
    // (tilePolygons) dissolve back to the ORIGINAL region — area equal and
    // membership identical at random probes
    val rnd = new scala.util.Random(5150L)
    def star(cx: Double, cy: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { i =>
        val a = 2 * math.Pi * i / k
        val r = 2.0 + rnd.nextDouble() * 8.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    val polys = (0 until 10).map { i =>
      val cx = rnd.nextDouble() * 120 - 60; val cy = rnd.nextDouble() * 80 - 40
      (i.toLong, polyJson(star(cx, cy, 7 + rnd.nextInt(6))), cx, cy)
    }
    val src = polys.map { case (id, j, _, _) => (id, j) }.toDF("pid", "json")
      .select($"pid", from_geojson_geom($"json").as("geom"))
    val tiled = graft.geo.join.SpatialJoins.tilePolygons(src, "geom", z = 6)
    val back = graft.geo.sql.GeoFunctions.dissolve(
      tiled.select($"pid", $"tile_geom".as("geom")), "geom", "pid")
    val areas = back.join(src.withColumnRenamed("geom", "orig"), Seq("pid"))
      .select($"pid", st_area($"geom").as("a1"), st_area($"orig").as("a0"),
        st_geometry_type($"geom").as("t")).collect()
    assert(areas.length == 10)
    areas.foreach { r =>
      approx(r.getDouble(1), r.getDouble(2), 1e-6, s"pid ${r.getLong(0)}")
      // a single polygon's tiles dissolve back to ONE part (no seam splits)
      assert(r.getString(3) == "Polygon", s"pid ${r.getLong(0)} split: ${r.getString(3)}")
    }
    // membership: 40 probes per polygon agree between original and dissolved
    val probeRows = polys.flatMap { case (id, j, cx, cy) =>
      (0 until 40).map { _ =>
        (id, j, cx - 11 + rnd.nextDouble() * 22, cy - 11 + rnd.nextDouble() * 22)
      }
    }
    val bad = probeRows.toDF("pid", "json", "px", "py")
      .join(back, Seq("pid"))
      .where(st_contains(from_geojson_geom($"json"), $"px", $"py") =!=
             st_contains($"geom", $"px", $"py"))
      .count()
    assert(bad == 0, s"$bad membership mismatches after tile → dissolve")
    // rectangle-union closed form: 3 overlapping integer boxes per group
    val boxes = Seq(
      (1L, polyJson(boxPts(0, 0, 10, 10))), (1L, polyJson(boxPts(5, 5, 15, 15))),
      (1L, polyJson(boxPts(20, 0, 24, 4))),
      (2L, polyJson(boxPts(0, 0, 4, 4))), (2L, polyJson(boxPts(0, 0, 4, 4))))
      .toDF("g", "json").select($"g", from_geojson_geom($"json").as("geom"))
    val m = graft.geo.sql.GeoFunctions.dissolve(boxes, "geom", "g")
      .select($"g", st_area($"geom"), st_geometry_type($"geom"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getString(2)))).toMap
    approx(m(1L)._1, 100.0 + 100.0 - 25.0 + 16.0) // two overlapping + one island
    assert(m(1L)._2 == "MultiPolygon")
    approx(m(2L)._1, 16.0) // identical duplicates dissolve to one
    assert(m(2L)._2 == "Polygon")
  }

  test("dissolve is two-phase: shard-grouped partial unions ≡ holistic, any shardRes") {
    // nonzero-winding union is associative/commutative, so regrouping the
    // members by spatial shard must not change the union's point set —
    // pinned by area + membership probes across shard resolutions (res 0
    // forces many shards per group, res 9 collapses to ~one: both ends of
    // the phase-1/phase-2 trade must agree)
    val rnd = new scala.util.Random(7331L)
    val boxes = (0 until 60).map { i =>
      val g  = i % 4L
      val x0 = rnd.nextDouble() * 100 - 50; val y0 = rnd.nextDouble() * 60 - 30
      (g, polyJson(boxPts(x0, y0, x0 + 3 + rnd.nextDouble() * 9, y0 + 2 + rnd.nextDouble() * 7)))
    }.toDF("g", "json").select($"g", from_geojson_geom($"json").as("geom"))
    val refR = graft.geo.sql.GeoFunctions.dissolveSharded(boxes, "geom", 9, "g")
      .select($"g", st_area($"geom").as("a")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    for (res <- Seq(0, 2, 5)) {
      val got = graft.geo.sql.GeoFunctions.dissolveSharded(boxes, "geom", res, "g")
      val areas = got.select($"g", st_area($"geom").as("a")).collect()
      assert(areas.length == 4)
      areas.foreach(r => approx(r.getDouble(1), refR(r.getLong(0)), 1e-8, s"res=$res g=${r.getLong(0)}"))
      // membership at random probes agrees with the per-member OR
      val probes = (0 until 300).map(_ =>
        (rnd.nextInt(4).toLong, rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 80 - 40))
        .toDF("g", "px", "py")
      val bad = probes.join(got, Seq("g"))
        .join(boxes.groupBy("g").agg(org.apache.spark.sql.functions.collect_list($"geom").as("gs")), Seq("g"))
        .where(st_contains($"geom", $"px", $"py") =!=
          org.apache.spark.sql.functions.exists($"gs", m => st_contains(m, $"px", $"py")))
        .count()
      assert(bad == 0, s"res=$res: $bad membership mismatches vs member OR")
    }
    // a ring with a hole in one shard and the member filling the hole in
    // another (their centroids share a res-0 cell but not a res-9 one):
    // phase 1 keeps the hole, phase 2 must still fill it as the holistic
    // union does
    val holed = Seq(
      (9L, polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(4, 4, 6, 6).reverse))),
      (9L, polyJson(boxPts(4, 4, 30, 6))))
      .toDF("g", "json").select($"g", from_geojson_geom($"json").as("geom"))
    val cells = (res: Int) => holed.select(st_centroid($"geom").as("c"))
      .select(hex_cell(element_at($"c", 1), element_at($"c", 2), lit(res)))
      .as[Long].collect().distinct.length
    assert(cells(0) == 1 && cells(9) == 2)
    val holistic = holed.groupBy("g")
      .agg(st_union_rings(flatten(collect_list(st_rings($"geom")))).as("whole"))
    for (res <- Seq(0, 9)) {
      val got = graft.geo.sql.GeoFunctions.dissolveSharded(holed, "geom", res, "g")
        .join(holistic, Seq("g"))
      val r = got.select(st_area($"geom"), st_area($"whole")).head()
      approx(r.getDouble(0), r.getDouble(1), 1e-9, s"res=$res")
      approx(r.getDouble(0), 100.0 + 52.0 - 12.0, 1e-9, s"res=$res")
      val probes = (0 until 300).map(_ => (9L, rnd.nextDouble() * 40 - 5, rnd.nextDouble() * 20 - 5)) ++
        Seq((9L, 5.0, 5.0), (9L, 4.5, 5.5))
      val bad = probes.toDF("g", "px", "py").join(got, Seq("g"))
        .where(st_contains($"geom", $"px", $"py") =!= st_contains($"whole", $"px", $"py"))
        .count()
      assert(bad == 0, s"res=$res: $bad membership mismatches vs the holistic union")
      assert(got.where(st_contains($"geom", lit(5.0), lit(5.0))).count() == 1, s"res=$res: hole left open")
    }
    // plan pin: phase 1 groups by (key, __dshard) — no group ever collects
    // the whole boundary's rings in one row
    val plan = graft.geo.sql.GeoFunctions.dissolve(boxes, "geom", "g")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__dshard"), s"dissolve lost its shard key:\n${plan.take(2000)}")
  }

  test("st_is_valid: reason codes for the classic invalidity families") {
    val cases = Seq(
      (polyJson(boxPts(0, 0, 10, 10)), true, "valid"),
      (polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(2, 2, 8, 8).reverse)), true, "valid"),
      // bowtie: proper self-crossing
      ("""{"type":"Polygon","coordinates":[[[0,0],[10,10],[10,0],[0,10],[0,0]]]}""",
        false, "ring self-intersection"),
      // zero-area sliver
      ("""{"type":"Polygon","coordinates":[[[0,0],[10,0],[0,0],[0,0]]]}""",
        false, "zero-area ring"),
      // hole outside the shell
      (polyJson(boxPts(0, 0, 10, 10), Seq(boxPts(20, 20, 24, 24).reverse)),
        false, "hole outside shell"),
      // unclosed ring (hand-built JSON the codec accepts structurally)
      ("""{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[5,5]]]}""",
        false, "unclosed or short ring"),
      // valid concave star stays valid; lines and points are trivially valid
      ("""{"type":"LineString","coordinates":[[0,0],[5,5],[9,2]]}""", true, "valid"),
      ("""{"type":"Point","coordinates":[3,4]}""", true, "valid"))
    val rows = cases.map(_._1).toDF("json")
      .select($"json", st_is_valid(from_geojson_geom($"json")).as("v"),
        st_valid_reason(from_geojson_geom($"json")).as("r")).collect()
    rows.zip(cases).foreach { case (row, (_, wantV, wantR)) =>
      assert(row.getBoolean(1) == wantV && row.getString(2) == wantR,
        s"${row.getString(0).take(60)}: got (${row.getBoolean(1)}, ${row.getString(2)})")
    }
    // validity gates the overlay meaningfully: every random star used
    // across this suite audits valid
    val rnd = new scala.util.Random(77L)
    val stars = (0 until 40).map { _ =>
      val cx = rnd.nextDouble() * 40 - 20; val cy = rnd.nextDouble() * 30 - 15
      polyJson((0 until 9).map { i =>
        val a = 2 * math.Pi * i / 9
        val r = 2.0 + rnd.nextDouble() * 6.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      })
    }
    assert(stars.toDF("json")
      .where(!st_is_valid(from_geojson_geom($"json"))).count() == 0)
  }

  test("overlay composes with the clip family: erase ≡ difference on boxes") {
    val rnd = new scala.util.Random(99L)
    (0 until 40).foreach { _ =>
      val cx = rnd.nextDouble() * 40 - 20; val cy = rnd.nextDouble() * 30 - 15
      val shell = (0 until 9).map { i =>
        val a = 2 * math.Pi * i / 9
        val r = 2.0 + rnd.nextDouble() * 7.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val w = cx - 4 + rnd.nextDouble() * 6; val s = cy - 4 + rnd.nextDouble() * 6
      val e = w + 2 + rnd.nextDouble() * 6; val n = s + 2 + rnd.nextDouble() * 6
      val r = Seq((polyJson(shell), polyJson(boxPts(w, s, e, n)), w, s, e, n)).toDF("a", "b", "w", "s", "e", "n")
        .select(
          coalesce(st_area(st_erase_box(from_geojson_geom($"a"), $"w", $"s", $"e", $"n")), lit(0.0)),
          coalesce(st_area(st_difference(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)),
          coalesce(st_area(st_clip_box(from_geojson_geom($"a"), $"w", $"s", $"e", $"n")), lit(0.0)),
          coalesce(st_area(st_intersection(from_geojson_geom($"a"), from_geojson_geom($"b"))), lit(0.0)))
        .head()
      approx(r.getDouble(1), r.getDouble(0), 1e-8, "erase vs difference")
      approx(r.getDouble(3), r.getDouble(2), 1e-8, "clip vs intersection")
    }
  }
}
