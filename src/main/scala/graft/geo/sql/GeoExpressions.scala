package graft.geo.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.algo.{GeoAlgo, Overlay}
import graft.geo.index.{HexCell, S2Cell}
import graft.geo.json.{GeoJsonCodec, JValue}
import graft.geo.model.GeoModel.GType

/* Catalyst expressions for the engine's spatial surface (SURVEY.md §2.9,
 * §7.3). Every SQL function is declared the way Spark declares its own
 * built-ins: a case class holding the function's children and their
 * `inputTypes` (numeric arguments are cast implicitly; geometry and
 * top-level struct arguments are typed `StructType`, so never cast), made
 * `RuntimeReplaceable` by a [[StaticCall]] into one static kernel — in
 * [[GeoRuntime]], or straight into GeoAlgo/HexCell/S2Cell/GeomAccess where
 * a method already has the Catalyst signature. The optimizer swaps the
 * call in before any other rule, so the one kernel serves the interpreted
 * and the generated path, and every function compiles inside whole-stage
 * codegen (one CodegenFallback in a projection ejects the whole Project
 * and kills subexpression elimination). The case class name
 * stays the default column name (`starea(g)`).
 */

/** The replacement every engine SQL function declares, and the helpers
  * that plan it. */
object StaticCall {

  /** The replacement call `obj.name(args)`. A null argument gives a null
    * result unless `propagateNull` is off (the kernel then sees the null);
    * a primitive result is never null, nor is the result of a kernel
    * declared `neverNull` (a payload generator that always returns an
    * array), so such a call is nullable only when an argument is. A
    * null-propagating call is null-intolerant: Catalyst infers `isnotnull`
    * filters on the attributes under it and pushes them below the
    * projections that derive them. */
  def apply(obj: AnyRef, dataType: DataType, name: String, args: Seq[Expression],
            propagateNull: Boolean = true, neverNull: Boolean = false): Expression =
    StaticInvoke(obj.getClass, dataType, name, args, propagateNull = propagateNull,
      returnNullable = !(neverNull || dataType == BooleanType || dataType == IntegerType ||
        dataType == LongType || dataType == DoubleType))

  /** Whether `e` is the replacement call `obj.name(...)` — how an optimizer
    * rule, which runs after the replacement, recognizes a function. */
  def isCall(e: Expression, obj: AnyRef, name: String): Boolean = e match {
    case si: StaticInvoke => si.staticObject == obj.getClass && si.functionName == name
    case _                => false
  }

  /** The value of a constant argument, computed once when its function is
    * planned (engine functions inside it replaced first: a
    * RuntimeReplaceable cannot eval); None for a per-row argument. */
  def constant(e: Expression): Option[Any] = {
    val r = e.transformDown { case rr: RuntimeReplaceable => rr.replacement }
    if (r.foldable) Some(r.eval(null)) else None
  }

  /** Registers each (SQL name, builder) of a function registry in the
    * session and installs [[graft.geo.plans.NumberRoundTripRule]]
    * (idempotent: a re-register replaces them). */
  def register(spark: SparkSession, builders: Seq[(String, Seq[Expression] => Expression)]): Unit = {
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }
    graft.geo.plans.NumberRoundTripRule.install(spark)
  }
}

/** Accessors and shared helpers over a packed geometry InternalRow
  * (GeoStruct.geometryType). */
object GeomAccess {
  @inline def gtype(r: InternalRow): Int              = r.getByte(0).toInt
  @inline def coords(r: InternalRow): Array[Double]   = r.getArray(1).toDoubleArray()
  @inline def posOff(r: InternalRow): Array[Int]      = r.getArray(2).toIntArray()
  @inline def ringOff(r: InternalRow): Array[Int]     = r.getArray(3).toIntArray()
  @inline def partOff(r: InternalRow): Array[Int]     = r.getArray(4).toIntArray()
  @inline def fm(r: InternalRow): ArrayData           = r.getArray(6)

  /** The members of a GeometryCollection row, each parsed and packed. */
  def children(r: InternalRow): IndexedSeq[InternalRow] = {
    val a = r.getArray(5)
    (0 until a.numElements()).map(i => GeoStruct.packGeometry(
      GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(a.getUTF8String(i).toString))
        .fold(e => throw new IllegalArgumentException(e), identity)))
  }

  /** A kernel's output geometry as a packed row carrying the foreign
    * members `fm` (null stays null). */
  def pack(c: GeoAlgo.Clipped, fm: ArrayData): InternalRow =
    if (c == null) null
    else {
      val out = new GenericInternalRow(7)
      out.update(0, c.gtype.toByte)
      out.update(1, new GenericArrayData(c.coords))
      out.update(2, new GenericArrayData(c.posOff))
      out.update(3, new GenericArrayData(c.ringOff))
      out.update(4, new GenericArrayData(c.partOff))
      out.update(6, fm)
      out
    }

  /** A GeometryCollection row of packed members (stored as GeoJSON text). */
  def packCollection(kids: Seq[InternalRow], fm: ArrayData): InternalRow = {
    val out = new GenericInternalRow(7)
    out.update(0, GType.Collection.toByte)
    out.update(5, new GenericArrayData(kids.map(k => UTF8String.fromString(
      GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(k)).render): Any).toArray))
    out.update(6, fm)
    out
  }

  /** Applies a geometry → geometry kernel the clip-family way: a collection
    * maps each member (recursively), drops the emptied (null) ones and is
    * null when none remain; it keeps its own foreign members. */
  def eachPart(r: InternalRow)(f: InternalRow => InternalRow): InternalRow =
    if (gtype(r) != GType.Collection) f(r)
    else {
      val kids = children(r).map(eachPart(_)(f)).filter(_ != null)
      if (kids.isEmpty) null else packCollection(kids, fm(r))
    }

  /** Sorted distinct union of `cover(box)` over the row's wrapped boxes. */
  def coverCells(r: InternalRow)(cover: Array[Double] => Array[Long]): Array[Long] = {
    val cells = wrappedBoxes(r).flatMap(cover).distinct
    java.util.Arrays.sort(cells)
    cells
  }

  /** Per-ring wrapped boxes of a geometry row (recursing into collections). */
  def wrappedBoxes(r: InternalRow): Array[Array[Double]] =
    if (gtype(r) == GType.Collection) children(r).toArray.flatMap(wrappedBoxes)
    else GeoAlgo.ringWrappedBoxes(coords(r), posOff(r), ringOff(r))

  /** General intersects over packed rows — any dimension pair (point/line/
    * polygon); recurses into collections. */
  def intersects(a: InternalRow, b: InternalRow): Boolean =
    if (gtype(a) == GType.Collection) children(a).exists(intersects(_, b))
    else if (gtype(b) == GType.Collection) children(b).exists(intersects(a, _))
    else GeoAlgo.intersectsGeoms(
      gtype(a), coords(a), posOff(a), ringOff(a), partOff(a),
      gtype(b), coords(b), posOff(b), ringOff(b), partOff(b))

  /** Planar degree distance over the packed row (collections: min over
    * children). */
  def distanceDeg(r: InternalRow, lng: Double, lat: Double): Double =
    if (gtype(r) == GType.Collection)
      children(r).map(distanceDeg(_, lng, lat))
        .foldLeft(Double.NaN)((a, b) => if (a.isNaN || b < a) b else a)
    else GeoAlgo.distanceDeg(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r), lng, lat)

  /** st_contains kernel over the packed row (recursing into collections). */
  def contains(r: InternalRow, lng: Double, lat: Double): Boolean =
    if (gtype(r) == GType.Collection) children(r).exists(contains(_, lng, lat))
    else GeoAlgo.contains(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r), lng, lat)
}

/** The window of `st_clip_convex`: the clip polygon's shell, extracted and
  * convexity-checked on first use. A constant clip rides into the plan as
  * one instance, so its shell is built once per task, never per row.
  * Windows over equal clip rows are equal, so the SELECT-list and GROUP BY
  * copies of one call stay semantically equal (a constant clip is held as
  * an UnsafeRow, whose equality is byte equality). */
final class ConvexClip(val clip: InternalRow) extends Serializable {
  @transient lazy val shell: (Array[Double], Array[Double]) = {
    import GeomAccess._
    GeoAlgo.convexShell(gtype(clip), coords(clip), posOff(clip), ringOff(clip), partOff(clip))
  }
  override def equals(o: Any): Boolean = o match {
    case c: ConvexClip => c.clip == clip
    case _             => false
  }
  override def hashCode: Int = clip.hashCode
  override def toString: String = "convex_clip"
}

/** The static kernels behind the SQL functions, each named after the
  * expression it serves (a Scala object = static forwarders, so generated
  * code calls them directly). */
object GeoRuntime {
  import GeomAccess._

  // ------------------------------------------------------------- codec

  def fromGeoJson(s: UTF8String): InternalRow = {
    val fast = GeoParse.parseTopFast(s)
    if (fast ne GeoParse.Fallback) fast.asInstanceOf[InternalRow]
    else GeoJsonCodec.parse(s.toString).fold(_ => null, GeoStruct.packTop)
  }

  def geoJsonError(s: UTF8String): InternalRow =
    GeoJsonCodec.parseWithError(s.toString)
      .fold(e => InternalRow(UTF8String.fromString(e.msg), e.line, e.col), _ => null)

  def fromGeoJsonGeom(s: UTF8String): InternalRow = {
    val fast = GeoParse.parseGeometryFast(s)
    if (fast ne GeoParse.Fallback) fast.asInstanceOf[InternalRow]
    else
      JValue.parse(s.toString).flatMap(GeoJsonCodec.geometryOfJson)
        .fold(_ => null, GeoStruct.packGeometry)
  }

  def toGeoJson(r: InternalRow): UTF8String =
    UTF8String.fromString(GeoRender.renderTop(r))

  def toGeoJsonPretty(r: InternalRow): UTF8String =
    UTF8String.fromString(GeoJsonCodec.renderPretty(GeoStruct.unpackTop(r)))

  def toGeoJsonGeom(r: InternalRow): UTF8String = {
    val b = new StringBuilder(128)
    GeoRender.writeGeometry(b, r, null)
    UTF8String.fromString(b.toString)
  }

  def stGeometryType(r: InternalRow): UTF8String =
    UTF8String.fromString(GType.name(gtype(r)))

  def randomGeoJson(id: Long, seed: Long): UTF8String =
    UTF8String.fromString(GeoJsonCodec.render(graft.geo.gen.GeoGen.docFor(id, seed)))

  /** map_props kernel over the parsed document: `top` is
    * `from_geojson(json)`, the same expression the replacement is usually
    * derived from, so the document is parsed once. Null `top` (null or
    * unparseable document, PERMISSIVE) → null; `props` null = absent-member
    * skip (the document renders as `to_geojson(from_geojson(json))`); an
    * unparseable replacement → null. */
  def renderWithFeatureProps(top: InternalRow, props: UTF8String): UTF8String =
    if (top == null) null
    else try UTF8String.fromString(GeoRender.renderTop(top, props))
    catch { case _: IllegalArgumentException => null }

  /** map_geometry kernel over the parsed document, as
    * [[renderWithFeatureProps]]: `geom` null = absent-member skip. */
  def renderWithFeatureGeometry(top: InternalRow, geom: InternalRow): UTF8String =
    if (top == null) null else UTF8String.fromString(GeoRender.renderTop(top, geom = geom))

  def jsonUpdate(json: UTF8String, path: UTF8String, value: UTF8String): UTF8String =
    (JValue.parse(json.toString), JValue.parse(value.toString)) match {
      // scala.Right explicitly: catalyst's expressions.Right is in scope
      case (scala.Right(d), scala.Right(x)) =>
        graft.geo.json.JsonPath
          .update(d, graft.geo.json.JsonPath.parsePath(path.toString), x)
          .map(r => UTF8String.fromString(r.render)).orNull
      case _ => null
    }

  def jsonRemove(json: UTF8String, path: UTF8String): UTF8String =
    JValue.parse(json.toString).fold(_ => null, d =>
      graft.geo.json.JsonPath.remove(d, graft.geo.json.JsonPath.parsePath(path.toString))
        .map(r => UTF8String.fromString(r.render)).orNull)

  // ---------------------------------------------------------- measures

  def stBBox(r: InternalRow): ArrayData =
    if (gtype(r) == GType.Collection) {
      val boxes = wrappedBoxes(r)
      if (boxes.isEmpty) null
      else new GenericArrayData(Array(
        boxes.map(_(0)).min, boxes.map(_(1)).min, boxes.map(_(2)).max, boxes.map(_(3)).max))
    } else new GenericArrayData(GeoAlgo.bbox(coords(r), posOff(r)))

  def stCentroid(r: InternalRow): ArrayData =
    if (gtype(r) == GType.Collection) null // dimension mix: undefined here
    else {
      val (x, y) = GeoAlgo.centroid(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r))
      new GenericArrayData(Array(x, y))
    }

  def stArea(r: InternalRow): Double =
    if (gtype(r) == GType.Collection) children(r).map(stArea).sum
    else GeoAlgo.area(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r))

  def stAreaM2(r: InternalRow): Double =
    if (gtype(r) == GType.Collection) children(r).map(stAreaM2).sum
    else GeoAlgo.areaM2(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r))

  def stLengthM(r: InternalRow): Double =
    if (gtype(r) == GType.Collection) children(r).map(stLengthM).sum
    else GeoAlgo.lengthMeters(gtype(r), coords(r), posOff(r), ringOff(r))

  def stParts(r: InternalRow): ArrayData = {
    val gt = gtype(r)
    def part(gt: Int, c: Array[Double], p: Array[Int], ro: Array[Int]): Any =
      pack(GeoAlgo.Clipped(gt, c, p, ro, Array(0, ro.length - 1)), null)
    val parts: Array[Any] = gt match {
      case GType.Collection => children(r).toArray
      case GType.MultiPoint =>
        val c = coords(r); val p = posOff(r)
        Array.tabulate[Any](p.length - 1) { i =>
          part(GType.Point, java.util.Arrays.copyOfRange(c, p(i), p(i + 1)),
            Array(0, p(i + 1) - p(i)), Array(0, 1))
        }
      case GType.MultiLineString | GType.MultiPolygon =>
        val c = coords(r); val p = posOff(r); val ro = ringOff(r); val fo = partOff(r)
        val single = if (gt == GType.MultiLineString) GType.LineString else GType.Polygon
        Array.tabulate[Any](fo.length - 1) { i =>
          val r0 = fo(i); val r1 = fo(i + 1)
          val posBase = ro(r0); val posEnd = ro(r1)
          val coordBase = p(posBase); val coordEnd = p(posEnd)
          part(single,
            java.util.Arrays.copyOfRange(c, coordBase, coordEnd),
            Array.tabulate(posEnd - posBase + 1)(j => p(posBase + j) - coordBase),
            Array.tabulate(r1 - r0 + 1)(j => ro(r0 + j) - posBase))
        }
      case _ => Array[Any](r)
    }
    new GenericArrayData(parts)
  }

  def stConvexHull(r: InternalRow): InternalRow = {
    def positions(r: InternalRow): Array[(Double, Double)] =
      if (gtype(r) == GType.Collection) children(r).toArray.flatMap(positions)
      else {
        val c = coords(r); val p = posOff(r)
        Array.tabulate(p.length - 1)(i => (c(p(i)), c(p(i) + 1)))
      }
    val hull = GeoAlgo.convexHull(positions(r))
    if (hull.isEmpty) null
    else {
      val ring = hull :+ hull(0) // closed
      pack(GeoAlgo.Clipped(GType.Polygon, ring.flatMap { case (x, y) => Array(x, y) },
        Array.tabulate(ring.length + 1)(_ * 2), Array(0, ring.length), Array(0, 1)), null)
    }
  }

  def stIsValid(r: InternalRow): Boolean = validityCode(r) == 0

  private val validityReasons = Array("valid", "non-finite coordinate",
    "unclosed or short ring", "zero-area ring", "ring self-intersection",
    "hole outside shell", "short lineal path")

  def stValidReason(r: InternalRow): UTF8String =
    UTF8String.fromString(validityReasons(validityCode(r)))

  private def validityCode(r: InternalRow): Int =
    if (gtype(r) == GType.Collection) children(r).map(validityCode).find(_ != 0).getOrElse(0)
    else Overlay.validityCode(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r))

  // ------------------------------------------------------ construction

  def stSimplify(r: InternalRow, tol: Double): InternalRow =
    if (gtype(r) == GType.Collection)
      packCollection(children(r).map(stSimplify(_, tol)), fm(r))
    else {
      val (c, p, ro, f) =
        GeoAlgo.simplify(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r), tol)
      pack(GeoAlgo.Clipped(gtype(r), c, p, ro, f), fm(r))
    }

  def stClipBox(g: InternalRow, w: Double, s: Double, e: Double, n: Double): InternalRow =
    eachPart(g)(r => pack(GeoAlgo.clipBox(gtype(r), coords(r), posOff(r), ringOff(r),
      partOff(r), w, s, e, n), fm(r)))

  def stEraseBox(g: InternalRow, w: Double, s: Double, e: Double, n: Double): InternalRow =
    eachPart(g)(r => pack(GeoAlgo.eraseBox(gtype(r), coords(r), posOff(r), ringOff(r),
      partOff(r), w, s, e, n), fm(r)))

  def stClipConvex(g: InternalRow, clip: InternalRow): InternalRow =
    stClipConvex(g, new ConvexClip(clip))

  def stClipConvex(g: InternalRow, clip: ConvexClip): InternalRow = {
    val (xs, ys) = clip.shell
    eachPart(g)(r => pack(GeoAlgo.clipConvex(gtype(r), coords(r), posOff(r), ringOff(r),
      partOff(r), xs, ys), fm(r)))
  }

  def stBufferDeg(g: InternalRow, d: Double): InternalRow =
    eachPart(g)(r => pack(Overlay.buffer(gtype(r), coords(r), posOff(r), ringOff(r),
      partOff(r), d), fm(r)))

  def stRings(r: InternalRow): ArrayData =
    new GenericArrayData(Overlay.orientedRings(gtype(r), coords(r), posOff(r), ringOff(r),
      partOff(r)).map(ring => new GenericArrayData(ring): Any).toArray)

  def stUnionRings(rings: ArrayData): InternalRow =
    pack(Overlay.unionRings((0 until rings.numElements()).map(i => rings.getArray(i).toDoubleArray())),
      null)

  /** st_intersection / st_difference / st_union by `op`: a collection
    * SECOND operand throws; a collection subject maps each member (∩/∖,
    * the clip-family discipline) and throws for ∪. */
  def stOverlay(a: InternalRow, b: InternalRow, op: Int): InternalRow = {
    val name = op match {
      case Overlay.OpIntersection => "st_intersection"
      case Overlay.OpDifference   => "st_difference"
      case _                      => "st_union"
    }
    require(gtype(b) != GType.Collection,
      s"$name: a GeometryCollection SECOND operand is not supported")
    require(gtype(a) != GType.Collection || op != Overlay.OpUnion,
      s"$name: union with a GeometryCollection subject is not defined")
    eachPart(a)(overlayPair(_, b, op, name))
  }

  private def overlayPair(ra: InternalRow, rb: InternalRow, op: Int, name: String): InternalRow = {
    def areal(gt: Int)  = gt == 5 || gt == 6
    def lineal(gt: Int) = gt == 3 || gt == 4
    def pointy(gt: Int) = gt == 1 || gt == 2
    val ga = gtype(ra); val gb = gtype(rb)
    // the SUBJECT's foreign members survive (the operand the output
    // geometry derives from: A for areal ops, the thin operand on the
    // swapped mixed-dimension routes) — the clip-family convention
    def packed(subject: InternalRow)(c: GeoAlgo.Clipped) = pack(c, fm(subject))
    def pointOn(p: InternalRow, q: InternalRow) =
      packed(p)(Overlay.pointOverlay(op, gtype(p), coords(p), posOff(p),
        gtype(q), coords(q), posOff(q), ringOff(q), partOff(q)))
    def pointAlong(p: InternalRow, q: InternalRow) =
      packed(p)(Overlay.pointLinealOverlay(op, gtype(p), coords(p), posOff(p),
        gtype(q), coords(q), posOff(q), ringOff(q), partOff(q)))
    def lineOn(p: InternalRow, q: InternalRow) =
      packed(p)(Overlay.linealOverlay(op,
        gtype(p), coords(p), posOff(p), ringOff(p), partOff(p),
        gtype(q), coords(q), posOff(q), ringOff(q), partOff(q)))
    if (areal(ga) && areal(gb))
      packed(ra)(Overlay.overlayGeoms(op,
        ga, coords(ra), posOff(ra), ringOff(ra), partOff(ra),
        gb, coords(rb), posOff(rb), ringOff(rb), partOff(rb)))
    else if (pointy(ga) && areal(gb) && op != Overlay.OpUnion) pointOn(ra, rb)
    else if (lineal(ga) && areal(gb) && op != Overlay.OpUnion) lineOn(ra, rb)
    else if (lineal(ga) && lineal(gb))
      Overlay.linealLinealOverlay(op,
        ga, coords(ra), posOff(ra), ringOff(ra), partOff(ra),
        gb, coords(rb), posOff(rb), ringOff(rb), partOff(rb)) match {
        case (null, null) => null
        case (p, null)    => packed(ra)(p)
        case (null, l)    => packed(ra)(l)
        case (p, l)       => // mixed ∩: JTS's shape
          packCollection(Seq(packed(ra)(p), packed(ra)(l)), fm(ra))
      }
    else if (pointy(ga) && pointy(gb))
      packed(ra)(Overlay.pointPointOverlay(op,
        ga, coords(ra), posOff(ra), gb, coords(rb), posOff(rb)))
    else if (pointy(ga) && lineal(gb) && op != Overlay.OpUnion) pointAlong(ra, rb)
    else if ((areal(ga) && (pointy(gb) || lineal(gb))) || (lineal(ga) && pointy(gb)))
      op match {
        case Overlay.OpIntersection => // symmetric: route the thin side as subject
          if (pointy(gb) && areal(ga)) pointOn(rb, ra)
          else if (pointy(gb)) pointAlong(rb, ra)
          else lineOn(rb, ra)
        case Overlay.OpDifference => // measure-zero subtrahend: subject unchanged
          packed(ra)(GeoAlgo.Clipped(ga, coords(ra), posOff(ra), ringOff(ra), partOff(ra)))
        case _ =>
          throw new IllegalArgumentException(
            s"$name: union of mixed dimensions (gtype $ga × $gb) is not defined")
      }
    else
      throw new IllegalArgumentException(
        s"$name: unsupported operand dimensions (gtype $ga × $gb) — union needs equal dimensions")
  }

  // ------------------------------------------------------------- index

  def s2CellAncestors(id: Long, minLevel: Int): ArrayData = {
    val lvl = S2Cell.level(id)
    val out = new Array[Long](math.max(1, lvl - minLevel + 1))
    var i = 0
    var l = lvl
    while (l >= minLevel && i < out.length) { out(i) = S2Cell.parent(id, l); i += 1; l -= 1 }
    if (i == 0) { out(0) = id; i = 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, i))
  }

  def hexKRing(cell: Long, k: Int): ArrayData = new GenericArrayData(HexCell.kRing(cell, k))

  def hexCover(g: InternalRow, res: Int): ArrayData =
    new GenericArrayData(coverCells(g)(b => HexCell.coverBox(b(0), b(1), b(2), b(3), res)))

  def s2Cover(g: InternalRow, level: Int): ArrayData =
    new GenericArrayData(coverCells(g)(b => S2Cell.coverBox(b(0), b(1), b(2), b(3), level)))

  def s2CoverMulti(g: InternalRow, minLevel: Int, maxLevel: Int): ArrayData =
    new GenericArrayData(S2Cell.normalizeCover(coverCells(g)(b =>
      S2Cell.coverBoxMulti(b(0), b(1), b(2), b(3), minLevel, maxLevel))))

  def s2CoverBox(w: Double, s: Double, e: Double, n: Double,
                 minLevel: Int, maxLevel: Int): ArrayData =
    new GenericArrayData(S2Cell.normalizeCover(S2Cell.coverBoxMulti(w, s, e, n, minLevel, maxLevel)))

  def s2Ancestors(lng: Double, lat: Double, minLevel: Int, maxLevel: Int): ArrayData =
    new GenericArrayData(S2Cell.ancestors(lng, lat, minLevel, maxLevel))

  def tileBounds(key: Long): ArrayData = new GenericArrayData(GeoAlgo.tileBounds(key))

  def tileCover(r: InternalRow, z: Int): ArrayData = {
    // per-ring WRAPPED boxes (1-2 in-range intervals per ring): an
    // antimeridian-crossing ring covers its two seam-side slivers instead
    // of the whole zoom row a naive min/max box would span
    val boxes = wrappedBoxes(r)
    if (boxes.isEmpty) return null
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    boxes.foreach { b =>
      out ++= GeoAlgo.tileCoverBox(math.max(-180.0, b(0)), b(1), math.min(180.0, b(2)), b(3), z)
    }
    new GenericArrayData(out.toArray)
  }

  def tileCoverBox(w: Double, s: Double, e: Double, n: Double, z: Int): ArrayData =
    new GenericArrayData(GeoAlgo.tileCoverBox(w, s, e, n, z))
}

/** `from_geojson(str)` — parse a GeoJSON text to the packed top-level struct
  * (SURVEY.md §2.1, geojson.ml:485-510). Parse errors → null (PERMISSIVE
  * mode, the documented divergence from jsone's resync recovery).
  */
case class FromGeoJson(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.topType, "fromGeoJson", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `geojson_error(str)` — the reference's `result` error channel with its
  * location (geojson.ml `Msg + geojsone.ml:27-37 Err.location):
  * struct<msg, line, col> (1-based), or null if the text parses. Lexer
  * failures carry the failure point; semantic decode failures carry the
  * end-of-value position (eager analogue of the streaming decoder's
  * decoded_range). */
case class GeoJsonError(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    StructType(Seq(StructField("msg", StringType), StructField("line", IntegerType),
      StructField("col", IntegerType))), "geoJsonError", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `with_feature_props(json, new_props_json)` — rewrite of a Feature
  * document's properties: `from_geojson(json)` rendered with the new
  * properties, straight from the packed row (the moral twin of geojsone's
  * streaming map_props, geojsone.ml:198-221). The parse is an ordinary
  * `from_geojson(json)` argument, so when the replacement is derived from
  * the same `from_geojson(json)` (as [[graft.streaming.GeoStreams.mapProps]]
  * derives it) subexpression elimination parses the document once.
  * Non-Feature documents pass through re-rendered; unparseable inputs →
  * null (PERMISSIVE). A null REPLACEMENT (the feature had no properties
  * and the rewrite produced null) passes the document through, like the
  * reference's streaming rewrite skipping an absent member — so the kernel
  * sees both arguments, nulls included. The replacement is evaluated for
  * every row (plain Spark Column semantics): derive it null-safely
  * (from_geojson is PERMISSIVE, so doc-derived expressions yield null, not
  * errors); a raise_error-style replacement fires on malformed and null
  * rows too. */
case class WithFeatureProps(json: Expression, newProps: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(json, newProps)
  override def inputTypes = Seq(StringType, StringType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "renderWithFeatureProps", Seq(FromGeoJson(json), newProps),
      propagateNull = false)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `with_feature_geometry(json, geom_struct)` — rewrite of a Feature
  * document's geometry from a packed geometry struct (streaming
  * map_geometry twin, geojsone.ml:165-196), rendered from
  * `from_geojson(json)` as [[WithFeatureProps]] is, so a geometry derived
  * from the same parse shares it. Non-Feature documents pass through
  * re-rendered; a null geometry (the feature had none) passes the document
  * through, as in map_props. */
case class WithFeatureGeometry(json: Expression, geom: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(json, geom)
  override def inputTypes = Seq(StringType, StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "renderWithFeatureGeometry", Seq(FromGeoJson(json), geom),
      propagateNull = false)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `json_update(json, path, value_json)` — set the member at a dotted path
  * to the given JSON value: the engine twin of `Ezjsone.update` with `Some`
  * (ezjsone.ml:297-307 via [[graft.geo.json.JsonPath]]), with its exact
  * semantics: in-place replace, append on missing leaf, no-op on missing
  * intermediate, member REMOVAL when the path descends into a non-object
  * value, and null (the reference's `Not_found`) when the top level is not
  * an object. Unparseable `json` or `value_json` → null (PERMISSIVE).
  * Output is re-serialized canonically (minified, %.16g floats). */
case class JsonUpdate(json: Expression, path: Expression, value: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(json, path, value)
  override def inputTypes = Seq(StringType, StringType, StringType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "jsonUpdate", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `json_remove(json, path)` — remove the member at a dotted path:
  * `Ezjsone.update` with `None` (same `map_dict` semantics as
  * [[JsonUpdate]]; removing a missing member is a no-op; an empty path is
  * `Not_found` → null, as in the reference). */
case class JsonRemove(json: Expression, path: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(json, path)
  override def inputTypes = Seq(StringType, StringType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "jsonRemove", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `random_geojson(id, seed)` — deterministic skeleton-driven random
  * document (the engine surface of the reference's `Random.random`,
  * geojson.ml:625-678): skeleton rotates on id % 7, coordinates from a
  * seeded splitmix64 stream, text rendered in canonical %.16g form (so
  * `to_geojson(from_geojson(x)) = x` byte-for-byte). Generate corpora with
  * `spark.range(n).select(random_geojson(col("id"), lit(seed)))`. */
case class RandomGeoJson(id: Expression, seed: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(id, seed)
  override def inputTypes = Seq(LongType, LongType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "randomGeoJson", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `to_geojson(top_struct)` — serialize back to minified GeoJSON text with
  * reference key order and %.16g floats (geojson.ml:512-516, jsone.ml:818).
  */
case class ToGeoJson(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "toGeoJson", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `to_geojson_pretty(top_struct)` — the reference encoder's ~minify:false
  * mode: 2-space indent, one member/value per line (jsone.ml:751-767,
  * 839-900). */
case class ToGeoJsonPretty(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "toGeoJsonPretty", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `from_geojson_geom(str)` — parse a bare geometry object to the packed
  * geometry struct; the hot-path input for joins. Plain documents stream
  * through [[GeoParse.parseGeometryFast]] (single pass, no intermediate
  * trees); everything else (foreign members, bbox, collections, unusual key
  * order, errors) takes the general codec path — byte-identical results
  * asserted differentially in GeoParseSpec. */
case class FromGeoJsonGeom(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "fromGeoJsonGeom", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `to_geojson_geom(geom_struct)` — serialize a bare geometry. */
case class ToGeoJsonGeom(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "toGeoJsonGeom", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_contains(geom, lng, lat)` — ray-casting PIP with winding-number
  * fallback on antimeridian-crossing rings (BASELINE.json:6); the
  * join-refinement hot path. [[graft.geo.plans.PipPrefilterRule]] finds
  * its replacement call. */
case class StContains(geom: Expression, lng: Expression, lat: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, lng, lat)
  override def inputTypes = Seq(StructType, DoubleType, DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeomAccess, BooleanType, "contains", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `st_intersects(geomA, geomB)` — planar intersects for EVERY dimension
  * pair: point/line/polygon and their multis (vertex containment, boundary
  * contact, segment crossing, collinear overlap; holes honored); the
  * intersects-join refinement hot path. */
case class StIntersects(a: Expression, b: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b)
  override def inputTypes = Seq(StructType, StructType)
  override lazy val replacement: Expression =
    StaticCall(GeomAccess, BooleanType, "intersects", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `s2_cell_ancestors(cell, minLevel)` → the cell plus its ancestors down
  * to minLevel (the containment-key side of the intersects join). */
case class S2CellAncestorsExpr(cell: Expression, minLevel: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(cell, minLevel)
  override def inputTypes = Seq(LongType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "s2CellAncestors", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `st_distance_deg(geom, lng, lat)` — planar point-to-geometry distance in
  * degrees (0 inside; JTS `distance` semantics; NaN for non-areal). */
case class StDistanceDeg(geom: Expression, lng: Expression, lat: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, lng, lat)
  override def inputTypes = Seq(StructType, DoubleType, DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeomAccess, DoubleType, "distanceDeg", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `st_bbox(geom)` → [w, s, e, n] (naive min/max; see hex_cover/s2_cover for
  * the antimeridian-aware boxes used by joins). */
case class StBBox(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(DoubleType, containsNull = false), "stBBox", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_centroid(geom)` → [lng, lat] (planar, JTS-matching semantics per
  * dimension class; null for collections). */
case class StCentroid(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(DoubleType, containsNull = false), "stCentroid", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_area(geom)` → planar square degrees (|shell| - Σ|holes|). */
case class StArea(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, DoubleType, "stArea", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_area_m2(geom)` → GEODESIC (spherical) area in square metres — the
  * metric twin of the planar [[StArea]], next to [[StLengthM]]'s metric
  * length. Exact line integral R²∮sin(φ)dλ with edges linear in degree
  * space (the engine's st_contains edge model); |shell| − Σ|holes|;
  * collections sum their areal children; non-areal → 0. */
case class StAreaM2(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, DoubleType, "stAreaM2", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_parts(geom)` → the geometry's parts as an array of geometry structs
  * (the PostGIS ST_Dump analogue — `explode(st_parts(g))` turns Multi*
  * rows into one row per member): MultiPoint → Points, MultiLineString →
  * LineStrings, MultiPolygon → Polygons (holes travel with their shell),
  * GeometryCollection → its children, single geometries → [self]. Parts
  * keep part order; container foreign members stay on the container (a
  * part's fm is its own only for collection children). */
case class StParts(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(GeoStruct.geometryType, containsNull = false), "stParts", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_convex_hull(geom)` → the minimal convex hull of ALL the geometry's
  * positions as a Polygon (monotone chain; ring CCW from the
  * lexicographically smallest vertex, closed, collinear boundary points
  * dropped — JTS's minimal-hull convention). Collections pool their
  * children's positions. Fewer than 3 non-collinear distinct points have no
  * areal hull → null (Optional semantics; JTS degrades to Point/LineString
  * instead — callers wanting that keep the original geometry). */
case class StConvexHull(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stConvexHull", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_simplify(geom, tol)` → Douglas-Peucker simplification at `tol`
  * degrees: lineal paths keep their endpoints, polygon rings keep the first
  * vertex and fall back to the original ring when fewer than 4 positions
  * would survive; point types pass through; collections recurse. Survivors
  * are a subset of the original vertices (altitudes ride along untouched)
  * and every dropped vertex lies within `tol` of the simplified chain —
  * both spec-pinned. */
case class StSimplify(geom: Expression, tol: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, tol)
  override def inputTypes = Seq(StructType, DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stSimplify", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `st_clip_box(geom, w, s, e, n)` — clip a geometry to an axis-aligned
  * box (inclusive boundary): the CONSTRUCTION half of the tiling story —
  * clip polygons to their ZXY tile so tiled writes carry exact per-tile
  * geometry. Sutherland–Hodgman per ring (holes clipped in their shell's
  * frame), Liang–Barsky per lineal segment with run stitching, point
  * filtering; antimeridian-aware via the per-part unwrap + ±360° box
  * translates ([[GeoAlgo.clipBox]]). Returns NULL for an empty clip
  * (Optional semantics — filter `.isNotNull`). The output type can
  * promote: a split LineString → MultiLineString, a Polygon split across
  * the antimeridian → MultiPolygon. Collections clip each child and drop
  * the empties (null when all children vanish). The box must not cross
  * the antimeridian (w <= e; clip twice for a crossing box). */
case class StClipBox(geom: Expression, w: Expression, s: Expression,
                     e: Expression, n: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, w, s, e, n)
  override def inputTypes = StructType +: Seq.fill(4)(DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stClipBox", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** `st_erase_box(geom, w, s, e, n)` — the set-DIFFERENCE sibling of
  * [[StClipBox]]: subject minus the box (cut a restricted zone out of a
  * coverage polygon, carve a tile's already-written window out of the
  * remainder). Realized as at most four [[GeoAlgo.clipBox]] slabs against
  * the box's complement bounded by the subject's own bbox, merged into one
  * geometry ([[GeoAlgo.eraseBox]]) — so clip(g,box) and erase(g,box)
  * exactly tile g: st_area(clip) + st_area(erase) = st_area(g). NULL when
  * the box covers the subject; the subject unchanged when the box misses
  * it. Boundary semantics: areal/lineal erases keep the box's boundary
  * lines (edge-inclusive clips, measure zero); POINTS on the closed box
  * drop (exact complement of the st_clip_box point test). Output type can
  * promote (a carved Polygon → MultiPolygon). Collections erase each child
  * and drop the emptied ones. Box must not cross the antimeridian. */
case class StEraseBox(geom: Expression, w: Expression, s: Expression,
                      e: Expression, n: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, w, s, e, n)
  override def inputTypes = StructType +: Seq.fill(4)(DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stEraseBox", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

/** `st_clip_convex(geom, clip)` — clip a geometry against an arbitrary
  * CONVEX clip polygon (the general-window sibling of [[StClipBox]]):
  * Sutherland–Hodgman per areal ring against the clip's edges, Cyrus–Beck
  * per lineal segment with run stitching, half-plane point filtering;
  * antimeridian-aware on the subject side via the per-part unwrap + ±360°
  * clip translates ([[GeoAlgo.clipConvex]]). The clip must be a hole-free
  * CONVEX Polygon (either winding; collinear vertices tolerated) that does
  * not cross the antimeridian — a non-convex or non-Polygon clip THROWS
  * (never a silently-wrong geometry). NULL for an empty clip (Optional
  * semantics); output type can promote (split LineString →
  * MultiLineString, antimeridian-split Polygon → MultiPolygon); subject
  * collections clip each child and drop the empties. A rectangle clip ring
  * reproduces st_clip_box exactly up to ring rotation. A constant clip
  * polygon is evaluated here, once per expression instance, into one
  * [[ConvexClip]] literal that extracts its shell once per task, not per
  * row. */
case class StClipConvex(geom: Expression, clip: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, clip)
  override def inputTypes = Seq(StructType, StructType)
  override lazy val replacement: Expression = {
    val window = StaticCall.constant(clip).fold(clip)(c => Literal(
      if (c == null) null
      else new ConvexClip(UnsafeProjection.create(clip.dataType.asInstanceOf[StructType])
        .apply(c.asInstanceOf[InternalRow]).copy()),
      ObjectType(classOf[ConvexClip])))
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stClipConvex", Seq(geom, window))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `st_intersection(a, b)` / `st_difference(a, b)` / `st_union(a, b)` —
  * GENERAL polygon overlay for arbitrary (concave, holed, multi-part)
  * polygon pairs: the construction family [[StClipBox]] (axis boxes),
  * [[StEraseBox]] (box complements) and [[StClipConvex]] (convex windows)
  * cannot express. Slab-decomposition boolean with even-odd parity
  * ([[graft.geo.algo.Overlay]]) — robust on the degenerate inputs
  * (shared edges, vertex-on-edge, collinear overlaps) that break
  * crossing-pairing walks; antimeridian-aware via unwrap + ±360° operand
  * translates. Semantics:
  *
  *  - areal × areal: all three ops; NULL when the result region is empty
  *    (Optional semantics, like the clip family); output promotes
  *    Polygon ↔ MultiPolygon as the part count dictates; output is 2D
  *    (altitudes are not propagated through region reconstruction).
  *  - point/line subject × areal operand: intersection and difference
  *    route through containment / trapezoid clipping; an areal (or
  *    lineal) subject minus a lower-dimensional operand is the subject
  *    UNCHANGED (measure-zero subtrahend), and higher ∩ lower swaps
  *    operands.
  *  - line × line: intersection = the exact-collinear shared runs plus
  *    proper/touch crossing points — a GeometryCollection when both
  *    arise (JTS's mixed shape); difference removes the shared runs
  *    (crossing points don't cut a line); union is the point-set cover
  *    as concatenated paths (not a dissolved noding — documented).
  *  - point × point: coordinate-exact membership ops (all three);
  *    point × line: exact on-segment membership (∩/∖).
  *  - GeometryCollection SUBJECTS recurse per child for ∩/∖ (the
  *    [[StClipBox]] discipline — empties drop, null when all children
  *    vanish); union needs equal dimensions, and mixed-dimension unions,
  *    collection unions, or a collection SECOND operand THROW (loud,
  *    never silently wrong — the [[StClipConvex]] discipline).
  *
  * A stand-alone scalar kernel: at scale it runs row-local AFTER the
  * cell-cover equi-join has reduced candidate pairs, so the plan shape of
  * q03/q58 is unchanged — no exchange is introduced by construction. */
case class StOverlay(a: Expression, b: Expression, op: Int)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b)
  override def inputTypes = Seq(StructType, StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stOverlay", Seq(a, b, Literal(op)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), op)
}

/** `st_buffer_deg(geom, d)` — planar-degree BUFFER: dilate any geometry
  * (d > 0) or erode an areal one (d < 0) by d degrees, with round
  * joins/caps as inscribed 32-gon arcs (≤ 0.5%·d under-reach —
  * [[graft.geo.algo.Overlay.buffer]]). Dilation is ONE n-ary winding
  * union over the subject's rings + per-segment capsules + per-vertex
  * discs (never an O(N) pairwise fold); erosion subtracts the dilated
  * boundary. d = 0 is the identity; a negative d on a point/line subject
  * → NULL (it erodes to nothing); collections buffer each child and drop
  * the emptied ones. Planar JTS-style semantics: buffer in a locally sane
  * longitude frame (no ±360° translate machinery). A row-local scalar
  * kernel, like the overlay family. */
case class StBufferDeg(geom: Expression, dist: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, dist)
  override def inputTypes = Seq(StructType, DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stBufferDeg", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `st_rings(geom)` → ARRAY<ARRAY<DOUBLE>> of the areal subject's flat
  * OPEN rings, orientation-normalized for the winding union (shells CCW,
  * holes CW) — the per-row half of DISSOLVE aggregation: explode/collect
  * these and feed [[StUnionRings]]. Non-areal input → empty array. */
case class StRings(geom: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
    "stRings", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_union_rings(rings)` — the N-ary DISSOLVE: union of MANY oriented
  * rings (from [[StRings]], typically `flatten(collect_list(...))` per
  * group) in ONE slab pass under the nonzero winding rule — the union
  * aggregation a pairwise `st_union` fold would pay O(N) passes for.
  * NULL on an empty list. The collected ring mass must fit one row
  * (dissolve is a genuinely holistic aggregate); dissolve hierarchically
  * (e.g. by tile, then by region) when a single group's boundary is
  * huge. */
case class StUnionRings(rings: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(rings)
  override def inputTypes = Seq(ArrayType(ArrayType(DoubleType)))
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, GeoStruct.geometryType, "stUnionRings", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_is_valid(geom)` / `st_valid_reason(geom)` — pragmatic validity
  * audit ([[graft.geo.algo.Overlay.validityCode]]): non-finite
  * coordinates, unclosed/short/zero-area rings, ring self-intersection
  * (proper crossings or collinear overlaps of non-adjacent segments),
  * holes outside their shell, short lineal paths. Collections audit each
  * child (first failure wins). NOT full OGC: cross-ring/cross-part
  * interior overlap is an overlay-sized computation — probe it with
  * `st_area(st_intersection(...))` when it matters. */
case class StIsValid(geom: Expression, asReason: Boolean)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    if (asReason) StaticCall(GeoRuntime, StringType, "stValidReason", children)
    else StaticCall(GeoRuntime, BooleanType, "stIsValid", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), asReason)
}

/** `st_length_m(geom)` → great-circle metres of all segments (perimeter for
  * polygons). */
case class StLengthM(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, DoubleType, "stLengthM", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_geometry_type(geom)` → "Point" | ... | "GeometryCollection"; it
  * appears in parse-heavy projections (q01 shape). */
case class StGeometryType(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(StructType)
  override lazy val replacement: Expression =
    StaticCall(GeoRuntime, StringType, "stGeometryType", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `haversine(lng1, lat1, lng2, lat2)` — great-circle metres (the kNN
  * refinement hot path). */
case class Haversine(lng1: Expression, lat1: Expression, lng2: Expression, lat2: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lng1, lat1, lng2, lat2)
  override def inputTypes = Seq.fill(4)(DoubleType)
  override lazy val replacement: Expression =
    StaticCall(GeoAlgo, DoubleType, "haversine", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

/** `hex_cell(lng, lat, res)` — H3-style hex cell id (int64); the per-point
  * indexing hot path of every join. */
case class HexCellExpr(lng: Expression, lat: Expression, res: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lng, lat, res)
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override lazy val replacement: Expression = StaticCall(HexCell, LongType, "cellId", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `hex_kring(cell, k)` → all cells within grid distance k. */
case class HexKRingExpr(cell: Expression, k: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(cell, k)
  override def inputTypes = Seq(LongType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "hexKRing", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `hex_cover(geom, res)` → hex cells covering the geometry's per-ring
  * wrapped boxes — a guaranteed superset of {hex_cell(p) : p ∈ geom}, the
  * soundness contract of the PIP join (SURVEY.md §2.9). */
case class HexCoverExpr(geom: Expression, res: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, res)
  override def inputTypes = Seq(StructType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "hexCover", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `s2_cell(lng, lat, level)` — S2-style cell id (int64, Hilbert-ordered,
  * trailing-one level encoding → children are contiguous id ranges). */
case class S2CellExpr(lng: Expression, lat: Expression, level: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lng, lat, level)
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override lazy val replacement: Expression = StaticCall(S2Cell, LongType, "cellId", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `s2_cover(geom, level)` → S2 cells (exact rect-bound quadtree descent)
  * covering the geometry's wrapped boxes. */
case class S2CoverExpr(geom: Expression, level: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, level)
  override def inputTypes = Seq(StructType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "s2Cover", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `s2_cover_multi(geom, minLevel, maxLevel)` → multi-level cover cells
  * (interior at coarse levels, boundary refined to maxLevel — O(perimeter)
  * covers for arbitrarily large geometries). */
case class S2CoverMultiExpr(geom: Expression, minLevel: Expression, maxLevel: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, minLevel, maxLevel)
  override def inputTypes = Seq(StructType, IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "s2CoverMulti", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `s2_cover_box(w, s, e, n, minLevel, maxLevel)` → normalized multi-level
  * S2 cover of a lat/lng box given as COLUMNS (per-row boxes — the probe
  * side of the S2 kNN join). w > e means the box wraps the antimeridian;
  * S2 cube faces handle poles natively. */
case class S2CoverBoxExpr(w: Expression, s: Expression, e: Expression, n: Expression,
                          minLevel: Expression, maxLevel: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(w, s, e, n, minLevel, maxLevel)
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "s2CoverBox", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4), c(5))
}

/** `s2_ancestors(lng, lat, minLevel, maxLevel)` → the point's cell at each
  * level (the point side of the multi-level join). */
case class S2AncestorsExpr(lng: Expression, lat: Expression, minLevel: Expression, maxLevel: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lng, lat, minLevel, maxLevel)
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "s2Ancestors", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

/** `tile_key(lng, lat, z)` — packed Web-Mercator ZXY tile key
  * ([z:6][x:29][y:29]); the raster→vector tile-assignment kernel. */
case class TileKeyExpr(lng: Expression, lat: Expression, z: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lng, lat, z)
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override lazy val replacement: Expression =
    StaticCall(GeoAlgo, LongType, "tileKeyPacked", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `tile_bounds(key)` → [w, s, e, n] lng/lat bounds of a packed ZXY tile
  * key (the inverse of `tile_key`); it sits on the per-(row, tile) hot
  * path of exact-geometry tiled writes. */
case class TileBoundsExpr(key: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(key)
  override def inputTypes = Seq(LongType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(DoubleType, containsNull = false), "tileBounds", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `tile_cover(geom, z)` → packed keys of every z-tile intersecting the
  * geometry's per-ring wrapped boxes (sound cover). One expression, one
  * bbox scan — four separate `element_at(st_bbox(g), i)` arguments would
  * re-scan the coords four times. */
case class TileCoverExpr(geom: Expression, z: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, z)
  override def inputTypes = Seq(StructType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "tileCover", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `tile_cover_box(w, s, e, n, z)` → packed keys of every z-tile
  * intersecting the box (sound cover; throws past 2^20 tiles — lower z). */
case class TileCoverBoxExpr(w: Expression, s: Expression, e: Expression,
                            n: Expression, z: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(w, s, e, n, z)
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  override lazy val replacement: Expression = StaticCall(GeoRuntime,
    ArrayType(LongType, containsNull = false), "tileCoverBox", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}
