package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.json.{GeoJsonCodec, JValue}
import graft.geo.sql.{GeoParse, GeoRender, GeoRuntime, GeoStruct}

/** Differential specs for the per-number and per-row codec kernels: the
  * integer %.16g kernel against an exact BigDecimal reference, coordinates
  * read by from_geojson against `Double.parseDouble`, and the packed-row
  * renderer and map_props kernel against the JValue-tree codec. */
class CodecKernelSpec extends AnyFunSuite {

  /** C %.16g by definition: the exact binary expansion rounded HALF_EVEN
    * to 16 significant digits, %g notation rules. */
  private def exactG16(d: Double): String = {
    val neg = java.lang.Double.doubleToRawLongBits(d) < 0
    if (d == 0.0) return if (neg) "-0" else "0"
    val bd = new java.math.BigDecimal(Math.abs(d))
      .round(new java.math.MathContext(16, java.math.RoundingMode.HALF_EVEN))
    val raw = bd.unscaledValue.toString
    val e = raw.length - 1 - bd.scale
    val digits = raw.reverse.dropWhile(_ == '0').reverse match { case "" => "0"; case t => t }
    val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
    val s =
      if (e < -4 || e >= 16) mant + "e" + (if (e < 0) "-" else "+") + f"${Math.abs(e)}%02d"
      else if (e >= 0) {
        if (digits.length <= e + 1) digits + "0" * (e + 1 - digits.length)
        else digits.substring(0, e + 1) + "." + digits.substring(e + 1)
      } else "0." + "0" * (-e - 1) + digits
    if (neg) "-" + s else s
  }

  private def checkG16(d: Double): Unit = {
    val s = JValue.formatG16(d)
    assert(s == exactG16(d), s"mismatch for $d (bits=${java.lang.Double.doubleToRawLongBits(d)})")
    // re-reading the output and printing again is stable: the renderer may
    // re-canonicalize text it produced itself
    assert(JValue.formatG16(java.lang.Double.parseDouble(s)) == s, s"unstable for $d: $s")
  }

  test("formatG16 equals exact rounding densely where the double grid is coarser than 16 digits") {
    // |x| in [0.8,1), [8,10), [64,100), [512,1000): a double's ulp there is
    // wider than (or close to) the 16-digit decimal step, the region a
    // shortest-repr shortcut cannot decide
    val rng = new scala.util.Random(5)
    for ((lo, hi) <- Seq((0.8, 1.0), (8.0, 10.0), (64.0, 100.0), (512.0, 1000.0))) {
      (1 to 20000).foreach { _ =>
        val d = lo + rng.nextDouble() * (hi - lo)
        checkG16(d); checkG16(-d)
      }
      // consecutive doubles from each end of the band
      var a = lo; var b = Math.nextDown(hi)
      (1 to 2000).foreach { _ => checkG16(a); checkG16(-b); a = Math.nextUp(a); b = Math.nextDown(b) }
    }
  }

  test("formatG16 at the integer kernel's range edges and on exact 17th-digit ties") {
    for (edge <- Seq(1e-4, 1e16, 1e-3, 0.1, 1.0, 10.0, 1e15, 9007199254740992.0)) {
      var lo = edge; var hi = edge
      (1 to 50).foreach { _ =>
        Seq(lo, hi).foreach { d => checkG16(d); checkG16(-d) }
        lo = Math.nextDown(lo); hi = Math.nextUp(hi)
      }
    }
    // doubles whose exact expansion has 17 significant digits ending in 5:
    // N + odd/2^k with (17 - k) integer digits sits exactly halfway between
    // two 16-digit neighbours, so only ties-to-even decides the last digit
    val rng = new scala.util.Random(17)
    var ties = 0
    for (k <- 1 to 16; _ <- 1 to 200) {
      val intDigits = 17 - k
      val low = BigInt(10).pow(intDigits - 1)
      val n = low + BigInt(intDigits * 4, rng.self) % (low * 9)
      val frac = BigDecimal(2 * rng.nextInt(1 << (k - 1).min(20)) + 1) / BigDecimal(2).pow(k)
      val v = BigDecimal(n) + frac
      val d = v.toDouble
      if (new java.math.BigDecimal(d).compareTo(v.bigDecimal) == 0 && v.precision == 17) {
        ties += 1
        checkG16(d); checkG16(-d)
      }
    }
    assert(ties > 500, s"only $ties exact ties generated")
  }

  test("coordinates read by from_geojson are bit-equal to Double.parseDouble") {
    val rng = new scala.util.Random(9)
    def literal(): String = {
      val nd = 9 + rng.nextInt(9) // 9..17 significant digits
      val digits = (1 to nd).map(i => if (i == 1) ('1' + rng.nextInt(9)).toChar else ('0' + rng.nextInt(10)).toChar).mkString
      val point = rng.nextInt(nd + 1)
      val mant =
        if (point == nd) digits
        else if (point == 0) "0." + digits
        else digits.substring(0, point) + "." + digits.substring(point)
      val exp = rng.nextInt(3) match {
        case 0 => ""
        case 1 => "e" + (rng.nextInt(61) - 30)
        case _ => "E+" + rng.nextInt(20)
      }
      (if (rng.nextBoolean()) "-" else "") + mant + exp
    }
    (1 to 4000).foreach { _ =>
      val (x, y) = (literal(), literal())
      for (doc <- Seq(
          s"""{"type":"Point","coordinates":[$x,$y]}""",
          s"""{"type":"Feature","geometry":{"type":"LineString","coordinates":[[$x,$y],[$y,$x]]},"properties":null}""")) {
        val top = GeoRuntime.fromGeoJson(UTF8String.fromString(doc))
        assert(top != null, doc)
        val g = if (top.getByte(0) == 0) top.getStruct(2, 7) else top.getStruct(3, 5).getStruct(2, 7)
        val coords = g.getArray(1).toDoubleArray()
        assert(java.lang.Double.doubleToRawLongBits(coords(0)) ==
          java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(x)), s"$x in $doc")
        assert(java.lang.Double.doubleToRawLongBits(coords(1)) ==
          java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(y)), s"$y in $doc")
      }
    }
  }

  test("packed-row renderer and map_props kernel equal the JValue-tree codec") {
    val extra = Seq(
      """{"type":"Feature","properties":{"a":[1,-0,123456789012345678,0.07,"x\"\n""" + "\\u0001" +
        """é"],"b":{"c":null,"c":true}},"id":7.5,"bbox":[0,1,2,3]}""",
      """{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],[[[5,5],[6,5],[6,6],[5,5]]]]},"properties":8.000000000000003,"id":"s"}""",
      """{"type":"Polygon","coordinates":[[[0.1,0.2,0.3],[1,0],[1,1],[0.1,0.2,0.3]]],"bbox":[0,0,1,1]}""",
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1,2],"k":{"z":1.0}},"properties":{},"f":[1.5]}""",
      """{"type":"Feature","geometry":{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[1,2]}]},"properties":null}""",
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"n":1}}]}""")
    val docs = extra ++ (0L until 600L).map(id => GeoJsonCodec.render(graft.geo.gen.GeoGen.docFor(id, 21L)))
    val newProps = UTF8String.fromString("""{"q":[9.999999999999999e22,1e-7,"\t"],"r":-0.0}""")
    docs.foreach { doc =>
      val text = UTF8String.fromString(doc)
      val g = GeoJsonCodec.parse(doc).toOption.get
      val row = GeoStruct.packTop(g)
      assert(GeoRender.renderTop(row) == GeoJsonCodec.render(GeoStruct.unpackTop(row)), doc)
      val fast = GeoParse.parseTopFast(text)
      if (fast ne GeoParse.Fallback)
        assert(GeoRender.renderTop(fast.asInstanceOf[InternalRow]) == GeoJsonCodec.render(g), doc)
      // map_props kernel against the tree formulation, replacement and skip
      val tree = g.body match {
        case graft.geo.model.GeoModel.GFeature(f) =>
          GeoJsonCodec.render(g.copy(body = graft.geo.model.GeoModel.GFeature(
            f.copy(properties = Some(JValue.parseUnsafe(newProps.toString))))))
        case _ => GeoJsonCodec.render(g)
      }
      val top = GeoRuntime.fromGeoJson(text)
      assert(GeoRuntime.renderWithFeatureProps(top, newProps).toString == tree, doc)
      assert(GeoRuntime.renderWithFeatureProps(top, null).toString == GeoJsonCodec.render(g), doc)
      assert(GeoRuntime.renderWithFeatureProps(top, UTF8String.fromString("{")) == null ||
        !g.body.isInstanceOf[graft.geo.model.GeoModel.GFeature], doc)
    }
  }
}
