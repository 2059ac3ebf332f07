package graft.geo.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.algo.{GeoAlgo, Overlay}
import graft.geo.index.{HexCell, S2Cell}
import graft.geo.json.{GeoJsonCodec, JValue}
import graft.geo.model.GeoModel.GType

/** Catalyst expressions for the engine's spatial surface (SURVEY.md §2.9,
  * §7.3). Everything on a hot path generates REAL code (static kernel
  * calls): the codec kernels (GeoKernelUnary), the join kernels (hex_cell,
  * s2_cell, st_contains, st_intersects, st_distance_deg, haversine,
  * tile_key) and the generator/rewrite trio (random_geojson,
  * with_feature_props, with_feature_geometry) — one CodegenFallback in a
  * projection ejects the whole Project from whole-stage codegen and kills
  * subexpression elimination (CLAUDE.md). Cold-path expressions (covers,
  * measures, error channel) stay interpreted GeoExpressions.
  */
abstract class GeoExpression extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  // literal-argument calls participate in constant folding (and the
  // PipPrefilterRule's foldable-geometry detection)
  override def foldable: Boolean = children.forall(_.foldable)
  protected def evalNotNull(values: Array[Any]): Any
  final override def eval(input: InternalRow): Any = {
    val cs   = children
    val vals = new Array[Any](cs.length)
    var i    = 0
    while (i < cs.length) {
      val v = cs(i).eval(input)
      if (v == null) return null
      vals(i) = v
      i += 1
    }
    evalNotNull(vals)
  }
}

/** Accessors over a packed geometry InternalRow (GeoStruct.geometryType). */
object GeomAccess {
  @inline def gtype(r: InternalRow): Int              = r.getByte(0).toInt
  @inline def coords(r: InternalRow): Array[Double]   = r.getArray(1).toDoubleArray()
  @inline def posOff(r: InternalRow): Array[Int]      = r.getArray(2).toIntArray()
  @inline def ringOff(r: InternalRow): Array[Int]     = r.getArray(3).toIntArray()
  @inline def partOff(r: InternalRow): Array[Int]     = r.getArray(4).toIntArray()
  def childStrings(r: InternalRow): IndexedSeq[String] = {
    val a = r.getArray(5)
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  /** Per-ring wrapped boxes of a geometry row (recursing into collections). */
  def wrappedBoxes(r: InternalRow): Array[Array[Double]] =
    if (gtype(r) == GType.Collection)
      childStrings(r).toArray.flatMap { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        wrappedBoxes(GeoStruct.packGeometry(g))
      }
    else GeoAlgo.ringWrappedBoxes(coords(r), posOff(r), ringOff(r))

  /** General intersects over packed rows — any dimension pair (point/line/
    * polygon); recurses into collections. */
  def intersects(a: InternalRow, b: InternalRow): Boolean = {
    if (gtype(a) == GType.Collection)
      return childStrings(a).exists { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        intersects(GeoStruct.packGeometry(g), b)
      }
    if (gtype(b) == GType.Collection)
      return childStrings(b).exists { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        intersects(a, GeoStruct.packGeometry(g))
      }
    GeoAlgo.intersectsGeoms(
      gtype(a), coords(a), posOff(a), ringOff(a), partOff(a),
      gtype(b), coords(b), posOff(b), ringOff(b), partOff(b))
  }

  /** Planar degree distance over the packed row (collections: min over
    * children). */
  def distanceDeg(r: InternalRow, lng: Double, lat: Double): Double =
    if (gtype(r) == GType.Collection)
      childStrings(r).map { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        distanceDeg(GeoStruct.packGeometry(g), lng, lat)
      }.foldLeft(Double.NaN)((a, b) => if (a.isNaN || b < a) b else a)
    else GeoAlgo.distanceDeg(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r), lng, lat)

  /** st_contains kernel over the packed row (recursing into collections). */
  def contains(r: InternalRow, lng: Double, lat: Double): Boolean =
    if (gtype(r) == GType.Collection)
      childStrings(r).exists { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        contains(GeoStruct.packGeometry(g), lng, lat)
      }
    else GeoAlgo.contains(gtype(r), coords(r), posOff(r), ringOff(r), partOff(r), lng, lat)
}

/** Static kernel entry points for generated code (Scala object = static
  * forwarders, same pattern as GeoAlgo/HexCell calls in codegen). */
object GeoRuntime {
  def fromGeoJson(s: UTF8String): InternalRow = {
    val fast = GeoParse.parseTopFast(s)
    if (fast ne GeoParse.Fallback) fast.asInstanceOf[InternalRow]
    else GeoJsonCodec.parse(s.toString).fold(_ => null, GeoStruct.packTop)
  }

  def fromGeoJsonGeom(s: UTF8String): InternalRow = {
    val fast = GeoParse.parseGeometryFast(s)
    if (fast ne GeoParse.Fallback) fast.asInstanceOf[InternalRow]
    else
      JValue.parse(s.toString).flatMap(GeoJsonCodec.geometryOfJson)
        .fold(_ => null, GeoStruct.packGeometry)
  }

  def toGeoJson(r: InternalRow): UTF8String =
    UTF8String.fromString(GeoRender.renderTop(r))

  def toGeoJsonGeom(r: InternalRow): UTF8String = {
    val b = new StringBuilder(128)
    GeoRender.writeGeometry(b, r, null)
    UTF8String.fromString(b.toString)
  }

  def geometryTypeName(r: InternalRow): UTF8String =
    UTF8String.fromString(GType.name(GeomAccess.gtype(r)))

  def randomGeoJson(id: Long, seed: Long): UTF8String =
    UTF8String.fromString(GeoJsonCodec.render(graft.geo.gen.GeoGen.docFor(id, seed)))

  /** map_props kernel: `props` null = absent-member skip (document passes
    * through unchanged); returns null on an unparseable document (PERMISSIVE)
    * or unparseable replacement. Plain documents go through
    * [[GeoParse.parseTopFast]] — which only syntax-checks the properties
    * being replaced — and render from the packed row; the rest take the
    * JValue-tree codec. */
  def withFeatureProps(json: UTF8String, props: UTF8String): UTF8String = {
    val fast = GeoParse.parseTopFast(json, skipProperties = props != null)
    if (fast ne GeoParse.Fallback) {
      val top = fast.asInstanceOf[InternalRow]
      try UTF8String.fromString(GeoRender.renderTop(top, props))
      catch { case _: IllegalArgumentException => null } // unparseable replacement
    } else {
      import graft.geo.model.GeoModel._
      GeoJsonCodec.parse(json.toString).fold(_ => null, {
        case GeoJson(GFeature(f), bbox) if props != null =>
          JValue.parse(props.toString).fold(_ => null,
            pj => UTF8String.fromString(
              GeoJsonCodec.render(GeoJson(GFeature(f.copy(properties = Some(pj))), bbox))))
        case other => UTF8String.fromString(GeoJsonCodec.render(other))
      })
    }
  }

  /** map_geometry kernel: `geom` null = absent-member skip, as map_props.
    * The old geometry is still parsed (not skipped): its decode errors null
    * the row, as in the codec. */
  def withFeatureGeometry(json: UTF8String, geom: InternalRow): UTF8String = {
    val fast = GeoParse.parseTopFast(json)
    if (fast ne GeoParse.Fallback) {
      val top = fast.asInstanceOf[InternalRow]
      if (geom != null && top.getByte(0) == 1) top.getStruct(3, 5).update(2, geom)
      UTF8String.fromString(GeoRender.renderTop(top))
    } else {
      import graft.geo.model.GeoModel._
      GeoJsonCodec.parse(json.toString).fold(_ => null, {
        case GeoJson(GFeature(f), bbox) if geom != null =>
          val nf = f.copy(geometry = Some(GeoStruct.unpackGeometry(geom)))
          UTF8String.fromString(GeoJsonCodec.render(GeoJson(GFeature(nf), bbox)))
        case other => UTF8String.fromString(GeoJsonCodec.render(other))
      })
    }
  }
}

/** Base for the codec kernels: REAL codegen (a static GeoRuntime call), so
  * projections containing them stay inside WholeStageCodegen and Spark's
  * subexpression elimination collapses repeated parses of the same column —
  * with CodegenFallback the Project is kicked out of whole-stage codegen and
  * each field extraction re-parses (measured ~Nx for N fields). */
abstract class GeoKernelUnary extends UnaryExpression {
  override def nullable: Boolean = true
  /** fully-qualified static method UTF8String/InternalRow → value-or-null */
  protected def kernel: String
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kernel($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
}

/** `from_geojson(str)` — parse a GeoJSON text to the packed top-level struct
  * (SURVEY.md §2.1, geojson.ml:485-510). Parse errors → null (PERMISSIVE
  * mode, the documented divergence from jsone's resync recovery).
  */
case class FromGeoJson(child: Expression) extends GeoKernelUnary {
  override def dataType: DataType = GeoStruct.topType
  override protected def kernel   = "graft.geo.sql.GeoRuntime.fromGeoJson"
  override protected def nullSafeEval(v: Any): Any =
    GeoRuntime.fromGeoJson(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `geojson_error(str)` — the reference's `result` error channel with its
  * location (geojson.ml `Msg + geojsone.ml:27-37 Err.location):
  * struct<msg, line, col> (1-based), or null if the text parses. Lexer
  * failures carry the failure point; semantic decode failures carry the
  * end-of-value position (eager analogue of the streaming decoder's
  * decoded_range). */
case class GeoJsonError(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = StructType(Seq(
    StructField("msg", StringType), StructField("line", IntegerType),
    StructField("col", IntegerType)))
  override protected def evalNotNull(v: Array[Any]): Any =
    GeoJsonCodec.parseWithError(v(0).asInstanceOf[UTF8String].toString)
      .fold(e => InternalRow(UTF8String.fromString(e.msg), e.line, e.col), _ => null)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `with_feature_props(json, new_props_json)` — single-pass rewrite of a
  * Feature document's properties: parse → replace → serialize, never
  * materializing the typed struct in a row (the moral twin of geojsone's
  * streaming map_props, geojsone.ml:198-221, which rewrites the token
  * stream in one pass). Non-Feature documents pass through unchanged;
  * unparseable inputs → null (PERMISSIVE). */
case class WithFeatureProps(json: Expression, newProps: Expression)
    extends Expression {
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def children: Seq[Expression] = Seq(json, newProps)
  override def dataType: DataType        = StringType
  // custom null semantics: a null REPLACEMENT (feature had no properties and
  // the rewrite produced null) passes the document through unchanged, like
  // the reference's streaming rewrite skipping an absent member — so the
  // kernel receives a possibly-null second argument in BOTH modes below.
  // NOTE (round-4 codegen promotion): the replacement argument is evaluated
  // for every non-null-document row — plain Spark Column semantics — where
  // the old interpreted path incidentally skipped it for unparseable and
  // non-Feature docs. Derive replacements null-safely (from_geojson is
  // PERMISSIVE, so doc-derived expressions yield null, not errors — the
  // common path is spec-pinned); a raise_error-style replacement now fires
  // on malformed rows too.
  override def eval(input: InternalRow): Any = {
    val j = json.eval(input)
    if (j == null) null
    else GeoRuntime.withFeatureProps(j.asInstanceOf[UTF8String],
      newProps.eval(input).asInstanceOf[UTF8String])
  }
  // real codegen (static GeoRuntime call): one CodegenFallback in a Project
  // ejects the WHOLE projection from whole-stage codegen and disables
  // subexpression elimination for every sibling (CLAUDE.md; the measured
  // ~3x re-parse pathology the codec kernels already avoid)
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val jc = json.genCode(ctx)
    val pc = newProps.genCode(ctx)
    ev.copy(code = code"""
      ${jc.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${jc.isNull}) {
        ${pc.code}
        ${ev.value} = graft.geo.sql.GeoRuntime.withFeatureProps(
          ${jc.value}, ${pc.isNull} ? null : ${pc.value});
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `with_feature_geometry(json, geom_struct)` — single-pass rewrite of a
  * Feature document's geometry from a packed geometry struct (streaming
  * map_geometry twin, geojsone.ml:165-196). Non-Feature documents pass
  * through unchanged. */
case class WithFeatureGeometry(json: Expression, geom: Expression)
    extends Expression {
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def children: Seq[Expression] = Seq(json, geom)
  override def dataType: DataType        = StringType
  // null replacement (feature had no geometry) → pass through, as map_props
  override def eval(input: InternalRow): Any = {
    val j = json.eval(input)
    if (j == null) null
    else GeoRuntime.withFeatureGeometry(j.asInstanceOf[UTF8String],
      geom.eval(input).asInstanceOf[InternalRow])
  }
  // real codegen — see WithFeatureProps
  override protected def doGenCode(ctx: codegen.CodegenContext,
                                   ev: codegen.ExprCode): codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val jc = json.genCode(ctx)
    val gc = geom.genCode(ctx)
    ev.copy(code = code"""
      ${jc.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${jc.isNull}) {
        ${gc.code}
        ${ev.value} = graft.geo.sql.GeoRuntime.withFeatureGeometry(
          ${jc.value},
          ${gc.isNull} ? null : (org.apache.spark.sql.catalyst.InternalRow) ${gc.value});
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }
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
    extends GeoExpression {
  override def children: Seq[Expression] = Seq(json, path, value)
  override def dataType: DataType        = StringType
  override protected def evalNotNull(v: Array[Any]): Any = {
    val doc = JValue.parse(v(0).asInstanceOf[UTF8String].toString)
    val nv  = JValue.parse(v(2).asInstanceOf[UTF8String].toString)
    (doc, nv) match {
      // scala.Right explicitly: catalyst's expressions.Right is in scope
      case (scala.Right(d), scala.Right(x)) =>
        graft.geo.json.JsonPath
          .update(d, graft.geo.json.JsonPath.parsePath(v(1).asInstanceOf[UTF8String].toString), x)
          .map(r => UTF8String.fromString(r.render)).orNull
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `json_remove(json, path)` — remove the member at a dotted path:
  * `Ezjsone.update` with `None` (same `map_dict` semantics as
  * [[JsonUpdate]]; removing a missing member is a no-op; an empty path is
  * `Not_found` → null, as in the reference). */
case class JsonRemove(json: Expression, path: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(json, path)
  override def dataType: DataType        = StringType
  override protected def evalNotNull(v: Array[Any]): Any =
    JValue.parse(v(0).asInstanceOf[UTF8String].toString).fold(_ => null, d =>
      graft.geo.json.JsonPath
        .remove(d, graft.geo.json.JsonPath.parsePath(v(1).asInstanceOf[UTF8String].toString))
        .map(r => UTF8String.fromString(r.render)).orNull)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `random_geojson(id, seed)` — deterministic skeleton-driven random
  * document (the engine surface of the reference's `Random.random`,
  * geojson.ml:625-678): skeleton rotates on id % 7, coordinates from a
  * seeded splitmix64 stream, text rendered in canonical %.16g form (so
  * `to_geojson(from_geojson(x)) = x` byte-for-byte). Generate corpora with
  * `spark.range(n).select(random_geojson(col("id"), lit(seed)))`. */
case class RandomGeoJson(id: Expression, seed: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression  = id
  override def right: Expression = seed
  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(i: Any, s: Any): Any =
    GeoRuntime.randomGeoJson(i.asInstanceOf[Long], s.asInstanceOf[Long])
  // real codegen: deterministic generators get inlined into EVERY use site by
  // CollapseProject, so staying inside whole-stage codegen (where
  // subexpression elimination shares the one call) matters — q34 uses the
  // generated text three times
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (i, s) => s"graft.geo.sql.GeoRuntime.randomGeoJson($i, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `to_geojson(top_struct)` — serialize back to minified GeoJSON text with
  * reference key order and %.16g floats (geojson.ml:512-516, jsone.ml:818).
  */
case class ToGeoJson(child: Expression) extends GeoKernelUnary {
  override def dataType: DataType = StringType
  override protected def kernel   = "graft.geo.sql.GeoRuntime.toGeoJson"
  override protected def nullSafeEval(v: Any): Any =
    GeoRuntime.toGeoJson(v.asInstanceOf[InternalRow])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `to_geojson_pretty(top_struct)` — the reference encoder's ~minify:false
  * mode: 2-space indent, one member/value per line (jsone.ml:751-767,
  * 839-900). */
case class ToGeoJsonPretty(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = StringType
  override protected def evalNotNull(v: Array[Any]): Any =
    UTF8String.fromString(
      GeoJsonCodec.renderPretty(GeoStruct.unpackTop(v(0).asInstanceOf[InternalRow])))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `from_geojson_geom(str)` — parse a bare geometry object to the packed
  * geometry struct; the hot-path input for joins. Plain documents stream
  * through [[GeoParse.parseGeometryFast]] (single pass, no intermediate
  * trees); everything else (foreign members, bbox, collections, unusual key
  * order, errors) takes the general codec path — byte-identical results
  * asserted differentially in GeoParseSpec. */
case class FromGeoJsonGeom(child: Expression) extends GeoKernelUnary {
  override def dataType: DataType = GeoStruct.geometryType
  override protected def kernel   = "graft.geo.sql.GeoRuntime.fromGeoJsonGeom"
  override protected def nullSafeEval(v: Any): Any =
    GeoRuntime.fromGeoJsonGeom(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `to_geojson_geom(geom_struct)` — serialize a bare geometry. */
case class ToGeoJsonGeom(child: Expression) extends GeoKernelUnary {
  override def dataType: DataType = StringType
  override protected def kernel   = "graft.geo.sql.GeoRuntime.toGeoJsonGeom"
  override protected def nullSafeEval(v: Any): Any =
    GeoRuntime.toGeoJsonGeom(v.asInstanceOf[InternalRow])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `st_contains(geom, lng, lat)` — ray-casting PIP with winding-number
  * fallback on antimeridian-crossing rings (BASELINE.json:6).
  * Codegen-enabled: the join-refinement hot path stays inside whole-stage
  * codegen (the generated code calls the static kernel). */
case class StContains(geom: Expression, lng: Expression, lat: Expression)
    extends TernaryExpression {
  override def first: Expression  = geom
  override def second: Expression = lng
  override def third: Expression  = lat
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(g: Any, x: Any, y: Any): Any =
    GeomAccess.contains(g.asInstanceOf[InternalRow],
      x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (g, x, y) =>
      s"graft.geo.sql.GeomAccess.contains((org.apache.spark.sql.catalyst.InternalRow)$g, $x, $y)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** `st_intersects(geomA, geomB)` — planar intersects for EVERY dimension
  * pair: point/line/polygon and their multis (vertex containment, boundary
  * contact, segment crossing, collinear overlap; holes honored).
  * Codegen-enabled: the intersects-join refinement hot path. */
case class StIntersects(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression  = a
  override def right: Expression = b
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(x: Any, y: Any): Any =
    GeomAccess.intersects(x.asInstanceOf[InternalRow], y.asInstanceOf[InternalRow])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.geo.sql.GeomAccess.intersects((org.apache.spark.sql.catalyst.InternalRow)$x, (org.apache.spark.sql.catalyst.InternalRow)$y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `s2_cell_ancestors(cell, minLevel)` → the cell plus its ancestors down
  * to minLevel (the containment-key side of the intersects join). */
case class S2CellAncestorsExpr(cell: Expression, minLevel: Expression)
    extends GeoExpression with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(cell, minLevel)
  override def inputTypes = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val id   = v(0).asInstanceOf[Long]
    val minL = v(1).asInstanceOf[Int]
    val lvl  = S2Cell.level(id)
    val out  = new Array[Long](math.max(1, lvl - minL + 1))
    var i = 0
    var l = lvl
    while (l >= minL && i < out.length) { out(i) = S2Cell.parent(id, l); i += 1; l -= 1 }
    if (i == 0) { out(0) = id; i = 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, i))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `st_distance_deg(geom, lng, lat)` — planar point-to-geometry distance in
  * degrees (0 inside; JTS `distance` semantics; NaN for non-areal).
  * Codegen-enabled. */
case class StDistanceDeg(geom: Expression, lng: Expression, lat: Expression)
    extends TernaryExpression {
  override def first: Expression  = geom
  override def second: Expression = lng
  override def third: Expression  = lat
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(g: Any, x: Any, y: Any): Any =
    GeomAccess.distanceDeg(g.asInstanceOf[InternalRow],
      x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (g, x, y) =>
      s"graft.geo.sql.GeomAccess.distanceDeg((org.apache.spark.sql.catalyst.InternalRow)$g, $x, $y)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** `st_bbox(geom)` → [w, s, e, n] (naive min/max; see hex_cover/s2_cover for
  * the antimeridian-aware boxes used by joins). */
case class StBBox(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = ArrayType(DoubleType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    if (GeomAccess.gtype(r) == GType.Collection) {
      val boxes = GeomAccess.wrappedBoxes(r)
      if (boxes.isEmpty) return null
      new GenericArrayData(Array(
        boxes.map(_(0)).min, boxes.map(_(1)).min, boxes.map(_(2)).max, boxes.map(_(3)).max))
    } else
      new GenericArrayData(GeoAlgo.bbox(GeomAccess.coords(r), GeomAccess.posOff(r)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_centroid(geom)` → [lng, lat] (planar, JTS-matching semantics per
  * dimension class; collections via children). */
case class StCentroid(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = ArrayType(DoubleType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    if (GeomAccess.gtype(r) == GType.Collection) return null // dimension mix: undefined here
    val (x, y) = GeoAlgo.centroid(GeomAccess.gtype(r), GeomAccess.coords(r),
      GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r))
    new GenericArrayData(Array(x, y))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_area(geom)` → planar square degrees (|shell| - Σ|holes|). */
case class StArea(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = DoubleType
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    if (GeomAccess.gtype(r) == GType.Collection)
      GeomAccess.childStrings(r).map { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        StArea(Literal(GeoStruct.packGeometry(g), GeoStruct.geometryType))
          .eval(null).asInstanceOf[Double]
      }.sum
    else
      GeoAlgo.area(GeomAccess.gtype(r), GeomAccess.coords(r), GeomAccess.posOff(r),
        GeomAccess.ringOff(r), GeomAccess.partOff(r))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_area_m2(geom)` → GEODESIC (spherical) area in square metres — the
  * metric twin of the planar [[StArea]], next to [[StLengthM]]'s metric
  * length. Exact line integral R²∮sin(φ)dλ with edges linear in degree
  * space (the engine's st_contains edge model); |shell| − Σ|holes|;
  * collections sum their areal children; non-areal → 0. */
case class StAreaM2(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = DoubleType
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    if (GeomAccess.gtype(r) == GType.Collection)
      GeomAccess.childStrings(r).map { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        StAreaM2(Literal(GeoStruct.packGeometry(g), GeoStruct.geometryType))
          .eval(null).asInstanceOf[Double]
      }.sum
    else
      GeoAlgo.areaM2(GeomAccess.gtype(r), GeomAccess.coords(r), GeomAccess.posOff(r),
        GeomAccess.ringOff(r), GeomAccess.partOff(r))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_parts(geom)` → the geometry's parts as an array of geometry structs
  * (the PostGIS ST_Dump analogue — `explode(st_parts(g))` turns Multi*
  * rows into one row per member): MultiPoint → Points, MultiLineString →
  * LineStrings, MultiPolygon → Polygons (holes travel with their shell),
  * GeometryCollection → its children, single geometries → [self]. Parts
  * keep part order; container foreign members stay on the container (a
  * part's fm is its own only for collection children). */
case class StParts(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(GeoStruct.geometryType, containsNull = false)
  private def mk(gt: Int, coords: Array[Double], posOff: Array[Int],
                 ringOff: Array[Int]): InternalRow = {
    val out = new GenericInternalRow(7)
    out.update(0, gt.toByte)
    out.update(1, new GenericArrayData(coords))
    out.update(2, new GenericArrayData(posOff))
    out.update(3, new GenericArrayData(ringOff))
    out.update(4, new GenericArrayData(Array(0, ringOff.length - 1)))
    out
  }
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r  = v(0).asInstanceOf[InternalRow]
    val gt = GeomAccess.gtype(r)
    val parts: Array[Any] = gt match {
      case GType.Collection =>
        GeomAccess.childStrings(r).map { s =>
          val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
            .fold(e => throw new IllegalArgumentException(e), identity)
          GeoStruct.packGeometry(g): Any
        }.toArray
      case GType.MultiPoint =>
        val c = GeomAccess.coords(r); val p = GeomAccess.posOff(r)
        Array.tabulate[Any](p.length - 1) { i =>
          val dims = p(i + 1) - p(i)
          mk(GType.Point, java.util.Arrays.copyOfRange(c, p(i), p(i + 1)),
            Array(0, dims), Array(0, 1))
        }
      case GType.MultiLineString | GType.MultiPolygon =>
        val c = GeomAccess.coords(r); val p = GeomAccess.posOff(r)
        val ro = GeomAccess.ringOff(r); val fo = GeomAccess.partOff(r)
        val single = if (gt == GType.MultiLineString) GType.LineString else GType.Polygon
        Array.tabulate[Any](fo.length - 1) { part =>
          val r0 = fo(part); val r1 = fo(part + 1)
          val posBase = ro(r0); val posEnd = ro(r1)
          val coordBase = p(posBase); val coordEnd = p(posEnd)
          mk(single,
            java.util.Arrays.copyOfRange(c, coordBase, coordEnd),
            Array.tabulate(posEnd - posBase + 1)(i => p(posBase + i) - coordBase),
            Array.tabulate(r1 - r0 + 1)(i => ro(r0 + i) - posBase))
        }
      case _ => Array[Any](r)
    }
    new GenericArrayData(parts)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_convex_hull(geom)` → the minimal convex hull of ALL the geometry's
  * positions as a Polygon (monotone chain; ring CCW from the
  * lexicographically smallest vertex, closed, collinear boundary points
  * dropped — JTS's minimal-hull convention). Collections pool their
  * children's positions. Fewer than 3 non-collinear distinct points have no
  * areal hull → null (Optional semantics; JTS degrades to Point/LineString
  * instead — callers wanting that keep the original geometry). */
case class StConvexHull(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = GeoStruct.geometryType
  private def positions(r: InternalRow): Array[(Double, Double)] =
    if (GeomAccess.gtype(r) == GType.Collection)
      GeomAccess.childStrings(r).toArray.flatMap { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        positions(GeoStruct.packGeometry(g))
      }
    else {
      val c = GeomAccess.coords(r); val p = GeomAccess.posOff(r)
      Array.tabulate(p.length - 1)(i => (c(p(i)), c(p(i) + 1)))
    }
  override protected def evalNotNull(v: Array[Any]): Any = {
    val hull = GeoAlgo.convexHull(positions(v(0).asInstanceOf[InternalRow]))
    if (hull.isEmpty) null
    else {
      val nPos = hull.length + 1 // closed ring
      val coords = new Array[Double](nPos * 2)
      val posOff = Array.tabulate(nPos + 1)(_ * 2)
      var i = 0
      while (i < hull.length) {
        coords(i * 2) = hull(i)._1; coords(i * 2 + 1) = hull(i)._2; i += 1
      }
      coords(hull.length * 2) = hull(0)._1; coords(hull.length * 2 + 1) = hull(0)._2
      val out = new GenericInternalRow(7)
      out.update(0, GType.Polygon.toByte)
      out.update(1, new GenericArrayData(coords))
      out.update(2, new GenericArrayData(posOff))
      out.update(3, new GenericArrayData(Array(0, nPos)))
      out.update(4, new GenericArrayData(Array(0, 1)))
      out
    }
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_simplify(geom, tol)` → Douglas-Peucker simplification at `tol`
  * degrees: lineal paths keep their endpoints, polygon rings keep the first
  * vertex and fall back to the original ring when fewer than 4 positions
  * would survive; point types pass through; collections recurse. Survivors
  * are a subset of the original vertices (altitudes ride along untouched)
  * and every dropped vertex lies within `tol` of the simplified chain —
  * both spec-pinned. */
case class StSimplify(geom: Expression, tol: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, tol)
  override def dataType: DataType        = GeoStruct.geometryType
  private def tolOf(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case x: java.math.BigDecimal => x.doubleValue()
    case x: org.apache.spark.sql.types.Decimal => x.toDouble
  }
  private def simplified(r: InternalRow, t: Double): InternalRow =
    if (GeomAccess.gtype(r) == GType.Collection) {
      val out = new GenericInternalRow(7)
      out.update(0, r.getByte(0))
      out.update(5, new GenericArrayData(GeomAccess.childStrings(r).map { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        val child = simplified(GeoStruct.packGeometry(g), t)
        UTF8String.fromString(
          GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render)
      }.toArray[Any]))
      out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
      out
    } else {
      val (c2, p2, r2, f2) = GeoAlgo.simplify(GeomAccess.gtype(r),
        GeomAccess.coords(r), GeomAccess.posOff(r), GeomAccess.ringOff(r),
        GeomAccess.partOff(r), t)
      val out = new GenericInternalRow(7)
      out.update(0, r.getByte(0))
      out.update(1, new GenericArrayData(c2))
      out.update(2, new GenericArrayData(p2))
      out.update(3, new GenericArrayData(r2))
      out.update(4, new GenericArrayData(f2))
      out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
      out
    }
  override protected def evalNotNull(v: Array[Any]): Any =
    simplified(v(0).asInstanceOf[InternalRow], tolOf(v(1)))
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
                     e: Expression, n: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, w, s, e, n)
  override def dataType: DataType        = GeoStruct.geometryType
  private def num(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case x: java.math.BigDecimal => x.doubleValue()
    case x: org.apache.spark.sql.types.Decimal => x.toDouble
  }
  private def clipped(r: InternalRow, w: Double, s: Double, e: Double, n: Double): InternalRow =
    if (GeomAccess.gtype(r) == GType.Collection) {
      val kids = GeomAccess.childStrings(r).flatMap { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        Option(clipped(GeoStruct.packGeometry(g), w, s, e, n)).map(child =>
          UTF8String.fromString(
            GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render))
      }
      if (kids.isEmpty) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, r.getByte(0))
        out.update(5, new GenericArrayData(kids.toArray[Any]))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    } else {
      val c = GeoAlgo.clipBox(GeomAccess.gtype(r), GeomAccess.coords(r),
        GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r),
        w, s, e, n)
      if (c == null) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, c.gtype.toByte)
        out.update(1, new GenericArrayData(c.coords))
        out.update(2, new GenericArrayData(c.posOff))
        out.update(3, new GenericArrayData(c.ringOff))
        out.update(4, new GenericArrayData(c.partOff))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    }
  override protected def evalNotNull(v: Array[Any]): Any =
    clipped(v(0).asInstanceOf[InternalRow], num(v(1)), num(v(2)), num(v(3)), num(v(4)))
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
                      e: Expression, n: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, w, s, e, n)
  override def dataType: DataType        = GeoStruct.geometryType
  private def num(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case x: java.math.BigDecimal => x.doubleValue()
    case x: org.apache.spark.sql.types.Decimal => x.toDouble
  }
  private def erased(r: InternalRow, w: Double, s: Double, e: Double, n: Double): InternalRow =
    if (GeomAccess.gtype(r) == GType.Collection) {
      val kids = GeomAccess.childStrings(r).flatMap { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        Option(erased(GeoStruct.packGeometry(g), w, s, e, n)).map(child =>
          UTF8String.fromString(
            GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render))
      }
      if (kids.isEmpty) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, r.getByte(0))
        out.update(5, new GenericArrayData(kids.toArray[Any]))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    } else {
      val c = GeoAlgo.eraseBox(GeomAccess.gtype(r), GeomAccess.coords(r),
        GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r),
        w, s, e, n)
      if (c == null) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, c.gtype.toByte)
        out.update(1, new GenericArrayData(c.coords))
        out.update(2, new GenericArrayData(c.posOff))
        out.update(3, new GenericArrayData(c.ringOff))
        out.update(4, new GenericArrayData(c.partOff))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    }
  override protected def evalNotNull(v: Array[Any]): Any =
    erased(v(0).asInstanceOf[InternalRow], num(v(1)), num(v(2)), num(v(3)), num(v(4)))
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
  * reproduces st_clip_box exactly up to ring rotation. A literal clip
  * polygon's shell is extracted ONCE per operator instance, not per row. */
case class StClipConvex(geom: Expression, clip: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, clip)
  override def dataType: DataType        = GeoStruct.geometryType
  private def shellOf(c: InternalRow): (Array[Double], Array[Double]) =
    GeoAlgo.convexShell(GeomAccess.gtype(c), GeomAccess.coords(c),
      GeomAccess.posOff(c), GeomAccess.ringOff(c), GeomAccess.partOff(c))
  // foldable clip (the common literal-window case): one shell extraction +
  // convexity check per operator instance instead of per row
  @transient private lazy val foldedShell: (Array[Double], Array[Double]) =
    shellOf(clip.eval(null).asInstanceOf[InternalRow])
  private def clipped(r: InternalRow, cxs: Array[Double], cys: Array[Double]): InternalRow =
    if (GeomAccess.gtype(r) == GType.Collection) {
      val kids = GeomAccess.childStrings(r).flatMap { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        Option(clipped(GeoStruct.packGeometry(g), cxs, cys)).map(child =>
          UTF8String.fromString(
            GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render))
      }
      if (kids.isEmpty) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, r.getByte(0))
        out.update(5, new GenericArrayData(kids.toArray[Any]))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    } else {
      val c = GeoAlgo.clipConvex(GeomAccess.gtype(r), GeomAccess.coords(r),
        GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r),
        cxs, cys)
      if (c == null) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, c.gtype.toByte)
        out.update(1, new GenericArrayData(c.coords))
        out.update(2, new GenericArrayData(c.posOff))
        out.update(3, new GenericArrayData(c.ringOff))
        out.update(4, new GenericArrayData(c.partOff))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    }
  override protected def evalNotNull(v: Array[Any]): Any = {
    val shell =
      if (clip.foldable) foldedShell else shellOf(v(1).asInstanceOf[InternalRow])
    clipped(v(0).asInstanceOf[InternalRow], shell._1, shell._2)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1))
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
case class StOverlay(a: Expression, b: Expression, op: Int) extends GeoExpression {
  override def children: Seq[Expression] = Seq(a, b)
  override def dataType: DataType        = GeoStruct.geometryType
  private def areal(gt: Int)  = gt == 5 || gt == 6
  private def lineal(gt: Int) = gt == 3 || gt == 4
  private def pointy(gt: Int) = gt == 1 || gt == 2
  private def opName = op match {
    case Overlay.OpIntersection => "st_intersection"
    case Overlay.OpDifference   => "st_difference"
    case _                      => "st_union"
  }
  private def pack(src: InternalRow)(c: GeoAlgo.Clipped): InternalRow =
    if (c == null) null
    else {
      val out = new GenericInternalRow(7)
      out.update(0, c.gtype.toByte)
      out.update(1, new GenericArrayData(c.coords))
      out.update(2, new GenericArrayData(c.posOff))
      out.update(3, new GenericArrayData(c.ringOff))
      out.update(4, new GenericArrayData(c.partOff))
      // the SUBJECT's foreign members survive (the operand the output
      // geometry derives from: A for areal ops, the thin operand on the
      // swapped mixed-dimension routes) — the clip-family convention
      out.update(6, src.get(6, GeoStruct.geometryType("fm").dataType))
      out
    }
  override protected def evalNotNull(v: Array[Any]): Any = {
    val ra = v(0).asInstanceOf[InternalRow]
    val rb = v(1).asInstanceOf[InternalRow]
    val ga = GeomAccess.gtype(ra); val gb = GeomAccess.gtype(rb)
    require(gb != GType.Collection,
      s"$opName: a GeometryCollection SECOND operand is not supported")
    // subject collections recurse per child for ∩/∖ (the StClipBox
    // discipline: apply to each child, drop the emptied ones); union of a
    // collection mixes dimensions and stays unsupported
    if (ga == GType.Collection) {
      require(op != Overlay.OpUnion,
        s"$opName: union with a GeometryCollection subject is not defined")
      val kids = GeomAccess.childStrings(ra).flatMap { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        Option(evalNotNull(Array[Any](GeoStruct.packGeometry(g), rb))
          .asInstanceOf[InternalRow]).map(child =>
          UTF8String.fromString(
            GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render))
      }
      if (kids.isEmpty) return null
      val out = new GenericInternalRow(7)
      out.update(0, GType.Collection.toByte)
      out.update(5, new GenericArrayData(kids.toArray[Any]))
      out.update(6, ra.get(6, GeoStruct.geometryType("fm").dataType))
      return out
    }
    if (areal(ga) && areal(gb))
      pack(ra)(Overlay.overlayGeoms(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra), GeomAccess.ringOff(ra), GeomAccess.partOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else if (pointy(ga) && areal(gb) && op != Overlay.OpUnion)
      pack(ra)(Overlay.pointOverlay(op, ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else if (lineal(ga) && areal(gb) && op != Overlay.OpUnion)
      pack(ra)(Overlay.linealOverlay(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra), GeomAccess.ringOff(ra), GeomAccess.partOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else if (lineal(ga) && lineal(gb)) {
      val (pts, lines) = Overlay.linealLinealOverlay(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra), GeomAccess.ringOff(ra), GeomAccess.partOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb))
      (pts, lines) match {
        case (null, null) => null
        case (p, null)    => pack(ra)(p)
        case (null, l)    => pack(ra)(l)
        case (p, l)       => collectionOf(ra, Seq(p, l)) // mixed ∩: JTS's shape
      }
    } else if (pointy(ga) && pointy(gb))
      pack(ra)(Overlay.pointPointOverlay(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb)))
    else if (pointy(ga) && lineal(gb) && op != Overlay.OpUnion)
      pack(ra)(Overlay.pointLinealOverlay(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else if ((areal(ga) && (pointy(gb) || lineal(gb))) ||
             (lineal(ga) && pointy(gb)))
      op match {
        case Overlay.OpIntersection => // symmetric: route the thin side as subject
          evalSwapped(rb, ra)
        case Overlay.OpDifference => // measure-zero subtrahend: subject unchanged
          pack(ra)(GeoAlgo.Clipped(ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
            GeomAccess.ringOff(ra), GeomAccess.partOff(ra)))
        case _ =>
          throw new IllegalArgumentException(
            s"$opName: union of mixed dimensions (gtype $ga × $gb) is not defined")
      }
    else
      throw new IllegalArgumentException(
        s"$opName: unsupported operand dimensions (gtype $ga × $gb) — union needs equal dimensions")
  }
  private def collectionOf(src: InternalRow, kids: Seq[GeoAlgo.Clipped]): InternalRow = {
    val out = new GenericInternalRow(7)
    out.update(0, GType.Collection.toByte)
    out.update(5, new GenericArrayData(kids.map { c =>
      UTF8String.fromString(GeoJsonCodec.geometryToJson(
        GeoStruct.unpackGeometry(pack(src)(c))).render): Any
    }.toArray))
    out.update(6, src.get(6, GeoStruct.geometryType("fm").dataType))
    out
  }
  private def evalSwapped(ra: InternalRow, rb: InternalRow): Any = {
    val ga = GeomAccess.gtype(ra); val gb = GeomAccess.gtype(rb)
    if (pointy(ga) && areal(gb))
      pack(ra)(Overlay.pointOverlay(op, ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else if (pointy(ga) && lineal(gb))
      pack(ra)(Overlay.pointLinealOverlay(op, ga, GeomAccess.coords(ra), GeomAccess.posOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
    else
      pack(ra)(Overlay.linealOverlay(op,
        ga, GeomAccess.coords(ra), GeomAccess.posOff(ra), GeomAccess.ringOff(ra), GeomAccess.partOff(ra),
        gb, GeomAccess.coords(rb), GeomAccess.posOff(rb), GeomAccess.ringOff(rb), GeomAccess.partOff(rb)))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), op)
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
case class StBufferDeg(geom: Expression, dist: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, dist)
  override def dataType: DataType        = GeoStruct.geometryType
  private def num(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case i: Int    => i.toDouble
    case l: Long   => l.toDouble
    case x: java.math.BigDecimal => x.doubleValue()
    case x: org.apache.spark.sql.types.Decimal => x.toDouble
  }
  private def buffered(r: InternalRow, d: Double): InternalRow =
    if (GeomAccess.gtype(r) == GType.Collection) {
      val kids = GeomAccess.childStrings(r).flatMap { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        Option(buffered(GeoStruct.packGeometry(g), d)).map(child =>
          UTF8String.fromString(
            GeoJsonCodec.geometryToJson(GeoStruct.unpackGeometry(child)).render))
      }
      if (kids.isEmpty) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, r.getByte(0))
        out.update(5, new GenericArrayData(kids.toArray[Any]))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    } else {
      val c = Overlay.buffer(GeomAccess.gtype(r), GeomAccess.coords(r),
        GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r), d)
      if (c == null) null
      else {
        val out = new GenericInternalRow(7)
        out.update(0, c.gtype.toByte)
        out.update(1, new GenericArrayData(c.coords))
        out.update(2, new GenericArrayData(c.posOff))
        out.update(3, new GenericArrayData(c.ringOff))
        out.update(4, new GenericArrayData(c.partOff))
        out.update(6, r.get(6, GeoStruct.geometryType("fm").dataType))
        out
      }
    }
  override protected def evalNotNull(v: Array[Any]): Any =
    buffered(v(0).asInstanceOf[InternalRow], num(v(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1))
}

/** `st_rings(geom)` → ARRAY<ARRAY<DOUBLE>> of the areal subject's flat
  * OPEN rings, orientation-normalized for the winding union (shells CCW,
  * holes CW) — the per-row half of DISSOLVE aggregation: explode/collect
  * these and feed [[StUnionRings]]. Non-areal input → empty array. */
case class StRings(geom: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    new GenericArrayData(Overlay.orientedRings(GeomAccess.gtype(r), GeomAccess.coords(r),
      GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r))
      .map(ring => new GenericArrayData(ring): Any).toArray)
  }
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
case class StUnionRings(rings: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(rings)
  override def dataType: DataType        = GeoStruct.geometryType
  override protected def evalNotNull(v: Array[Any]): Any = {
    val arr = v(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rings = (0 until arr.numElements()).map(i => arr.getArray(i).toDoubleArray())
    val c = Overlay.unionRings(rings)
    if (c == null) null
    else {
      val out = new GenericInternalRow(7)
      out.update(0, c.gtype.toByte)
      out.update(1, new GenericArrayData(c.coords))
      out.update(2, new GenericArrayData(c.posOff))
      out.update(3, new GenericArrayData(c.ringOff))
      out.update(4, new GenericArrayData(c.partOff))
      out
    }
  }
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
case class StIsValid(geom: Expression, asReason: Boolean) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom)
  override def dataType: DataType        = if (asReason) StringType else BooleanType
  private val reasons = Array("valid", "non-finite coordinate",
    "unclosed or short ring", "zero-area ring", "ring self-intersection",
    "hole outside shell", "short lineal path")
  private def codeOf(r: InternalRow): Int =
    if (GeomAccess.gtype(r) == GType.Collection)
      GeomAccess.childStrings(r).iterator.map { str =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(str))
          .fold(err => throw new IllegalArgumentException(err), identity)
        codeOf(GeoStruct.packGeometry(g))
      }.find(_ != 0).getOrElse(0)
    else Overlay.validityCode(GeomAccess.gtype(r), GeomAccess.coords(r),
      GeomAccess.posOff(r), GeomAccess.ringOff(r), GeomAccess.partOff(r))
  override protected def evalNotNull(v: Array[Any]): Any = {
    val code = codeOf(v(0).asInstanceOf[InternalRow])
    if (asReason) UTF8String.fromString(reasons(code)) else code == 0
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), asReason)
}

/** `st_length_m(geom)` → great-circle metres of all segments (perimeter for
  * polygons). */
case class StLengthM(child: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType        = DoubleType
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    if (GeomAccess.gtype(r) == GType.Collection)
      GeomAccess.childStrings(r).map { s =>
        val g = GeoJsonCodec.geometryOfJson(JValue.parseUnsafe(s))
          .fold(e => throw new IllegalArgumentException(e), identity)
        StLengthM(Literal(GeoStruct.packGeometry(g), GeoStruct.geometryType))
          .eval(null).asInstanceOf[Double]
      }.sum
    else
      GeoAlgo.lengthMeters(GeomAccess.gtype(r), GeomAccess.coords(r),
        GeomAccess.posOff(r), GeomAccess.ringOff(r))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `st_geometry_type(geom)` → "Point" | ... | "GeometryCollection".
  * Codegen-enabled: appears in parse-heavy projections (q01 shape), where a
  * CodegenFallback would eject the Project from whole-stage codegen and
  * defeat the shared-parse subexpression elimination. */
case class StGeometryType(child: Expression) extends GeoKernelUnary {
  override def dataType: DataType = StringType
  override protected def kernel   = "graft.geo.sql.GeoRuntime.geometryTypeName"
  override protected def nullSafeEval(v: Any): Any =
    GeoRuntime.geometryTypeName(v.asInstanceOf[InternalRow])
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `haversine(lng1, lat1, lng2, lat2)` — great-circle metres.
  * Codegen-enabled (kNN refinement hot path). */
case class Haversine(lng1: Expression, lat1: Expression, lng2: Expression, lat2: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def first: Expression  = lng1
  override def second: Expression = lat1
  override def third: Expression  = lng2
  override def fourth: Expression = lat2
  override def inputTypes = Seq.fill(4)(DoubleType)
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoAlgo.haversine(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.geo.algo.GeoAlgo.haversine($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(f, s, t, q)
}

/** `hex_cell(lng, lat, res)` — H3-style hex cell id (int64).
  * Codegen-enabled (the per-point indexing hot path of every join). */
case class HexCellExpr(lng: Expression, lat: Expression, res: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression  = lng
  override def second: Expression = lat
  override def third: Expression  = res
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(x: Any, y: Any, r: Any): Any =
    HexCell.cellId(x.asInstanceOf[Double], y.asInstanceOf[Double], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (x, y, r) => s"graft.geo.index.HexCell.cellId($x, $y, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** `hex_kring(cell, k)` → all cells within grid distance k. */
case class HexKRingExpr(cell: Expression, k: Expression)
    extends GeoExpression with ImplicitCastInputTypes {
  override def children: Seq[Expression]      = Seq(cell, k)
  override def inputTypes = Seq(LongType, IntegerType)
  override def dataType: DataType             = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any =
    new GenericArrayData(HexCell.kRing(v(0).asInstanceOf[Long], v(1).asInstanceOf[Int]))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `hex_cover(geom, res)` → hex cells covering the geometry's per-ring
  * wrapped boxes — a guaranteed superset of {hex_cell(p) : p ∈ geom}, the
  * soundness contract of the PIP join (SURVEY.md §2.9). */
case class HexCoverExpr(geom: Expression, res: Expression)
    extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, res)
  override def dataType: DataType        = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r   = v(0).asInstanceOf[InternalRow]
    val res = v(1) match { case i: Int => i; case l: Long => l.toInt }
    val set = new java.util.TreeSet[java.lang.Long]()
    GeomAccess.wrappedBoxes(r).foreach { b =>
      HexCell.coverBox(b(0), b(1), b(2), b(3), res).foreach(set.add(_))
    }
    val out = new Array[Long](set.size)
    val it  = set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `s2_cell(lng, lat, level)` — S2-style cell id (int64, Hilbert-ordered,
  * trailing-one level encoding → children are contiguous id ranges).
  * Codegen-enabled. */
case class S2CellExpr(lng: Expression, lat: Expression, level: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression  = lng
  override def second: Expression = lat
  override def third: Expression  = level
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(x: Any, y: Any, l: Any): Any =
    S2Cell.cellId(x.asInstanceOf[Double], y.asInstanceOf[Double], l.asInstanceOf[Int])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (x, y, l) => s"graft.geo.index.S2Cell.cellId($x, $y, $l)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}

/** `s2_cover(geom, level)` → S2 cells (exact rect-bound quadtree descent)
  * covering the geometry's wrapped boxes. */
case class S2CoverExpr(geom: Expression, level: Expression) extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, level)
  override def dataType: DataType        = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r   = v(0).asInstanceOf[InternalRow]
    val lvl = v(1) match { case i: Int => i; case l: Long => l.toInt }
    val set = new java.util.TreeSet[java.lang.Long]()
    GeomAccess.wrappedBoxes(r).foreach { b =>
      S2Cell.coverBox(b(0), b(1), b(2), b(3), lvl).foreach(set.add(_))
    }
    val out = new Array[Long](set.size)
    val it  = set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `s2_cover_multi(geom, minLevel, maxLevel)` → multi-level cover cells
  * (interior at coarse levels, boundary refined to maxLevel — O(perimeter)
  * covers for arbitrarily large geometries). */
case class S2CoverMultiExpr(geom: Expression, minLevel: Expression, maxLevel: Expression)
    extends GeoExpression {
  override def children: Seq[Expression] = Seq(geom, minLevel, maxLevel)
  override def dataType: DataType        = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r    = v(0).asInstanceOf[InternalRow]
    val minL = v(1).asInstanceOf[Int]
    val maxL = v(2).asInstanceOf[Int]
    val set  = new java.util.TreeSet[java.lang.Long]()
    GeomAccess.wrappedBoxes(r).foreach { b =>
      S2Cell.coverBoxMulti(b(0), b(1), b(2), b(3), minL, maxL).foreach(set.add(_))
    }
    val cells = new Array[Long](set.size)
    val it0   = set.iterator(); var n = 0
    while (it0.hasNext) { cells(n) = it0.next(); n += 1 }
    new GenericArrayData(S2Cell.normalizeCover(cells))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2))
}

/** `s2_cover_box(w, s, e, n, minLevel, maxLevel)` → normalized multi-level
  * S2 cover of a lat/lng box given as COLUMNS (per-row boxes — the probe
  * side of the S2 kNN join). w > e means the box wraps the antimeridian;
  * S2 cube faces handle poles natively. */
case class S2CoverBoxExpr(w: Expression, s: Expression, e: Expression, n: Expression,
                          minLevel: Expression, maxLevel: Expression)
    extends GeoExpression with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(w, s, e, n, minLevel, maxLevel)
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val cells = S2Cell.coverBoxMulti(v(0).asInstanceOf[Double], v(1).asInstanceOf[Double],
      v(2).asInstanceOf[Double], v(3).asInstanceOf[Double],
      v(4).asInstanceOf[Int], v(5).asInstanceOf[Int])
    new GenericArrayData(S2Cell.normalizeCover(cells))
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4), c(5))
}

/** `s2_ancestors(lng, lat, minLevel, maxLevel)` → the point's cell at each
  * level (the point side of the multi-level join). */
case class S2AncestorsExpr(lng: Expression, lat: Expression, minLevel: Expression, maxLevel: Expression)
    extends GeoExpression {
  override def children: Seq[Expression] = Seq(lng, lat, minLevel, maxLevel)
  override def dataType: DataType        = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any =
    new GenericArrayData(S2Cell.ancestors(v(0).asInstanceOf[Double], v(1).asInstanceOf[Double],
      v(2).asInstanceOf[Int], v(3).asInstanceOf[Int]))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

/** `tile_key(lng, lat, z)` — packed Web-Mercator ZXY tile key
  * ([z:6][x:29][y:29]); the raster→vector tile-assignment kernel.
  * Codegen-enabled. */
/** `tile_bounds(key)` → [w, s, e, n] lng/lat bounds of a packed ZXY tile
  * key (the inverse of `tile_key`). Codegen: it sits on the per-(row, tile)
  * hot path of exact-geometry tiled writes. */
case class TileBoundsExpr(key: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def child: Expression = key
  override def inputTypes        = Seq(LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(k: Any): Any =
    new GenericArrayData(GeoAlgo.tileBounds(k.asInstanceOf[Long]))
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, k =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.geo.algo.GeoAlgo.tileBounds($k))")
  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** `tile_cover(geom, z)` → packed keys of every z-tile intersecting the
  * geometry's bbox (sound cover). One expression, one bbox scan — four
  * separate `element_at(st_bbox(g), i)` arguments inside a Generate are
  * interpreted WITHOUT subexpression elimination and re-scan the coords
  * four times. */
case class TileCoverExpr(geom: Expression, z: Expression)
    extends GeoExpression with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(geom, z)
  override def inputTypes = Seq(GeoStruct.geometryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any = {
    val r = v(0).asInstanceOf[InternalRow]
    // per-ring WRAPPED boxes (1-2 in-range intervals per ring): an
    // antimeridian-crossing ring covers its two seam-side slivers instead
    // of the whole zoom row a naive min/max box would span
    val boxes =
      if (GeomAccess.gtype(r) == GType.Collection) GeomAccess.wrappedBoxes(r)
      else GeoAlgo.ringWrappedBoxes(GeomAccess.coords(r), GeomAccess.posOff(r),
        GeomAccess.ringOff(r))
    if (boxes.isEmpty) return null
    val z = v(1).asInstanceOf[Int]
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    boxes.foreach { b =>
      out ++= GeoAlgo.tileCoverBox(math.max(-180.0, b(0)), b(1),
        math.min(180.0, b(2)), b(3), z)
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `tile_cover_box(w, s, e, n, z)` → packed keys of every z-tile
  * intersecting the box (sound cover; throws past 2^20 tiles — lower z).
  * Interpreted, like the hex/s2 covers: runs once per geometry, not per
  * (row, tile). */
case class TileCoverBoxExpr(w: Expression, s: Expression, e: Expression,
                            n: Expression, z: Expression)
    extends GeoExpression with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(w, s, e, n, z)
  override def inputTypes =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def evalNotNull(v: Array[Any]): Any =
    new GenericArrayData(GeoAlgo.tileCoverBox(
      v(0).asInstanceOf[Double], v(1).asInstanceOf[Double],
      v(2).asInstanceOf[Double], v(3).asInstanceOf[Double], v(4).asInstanceOf[Int]))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3), c(4))
}

case class TileKeyExpr(lng: Expression, lat: Expression, z: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression  = lng
  override def second: Expression = lat
  override def third: Expression  = z
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(x: Any, y: Any, zz: Any): Any =
    GeoAlgo.tileKeyPacked(x.asInstanceOf[Double], y.asInstanceOf[Double], zz.asInstanceOf[Int])
  override protected def doGenCode(ctx: codegen.CodegenContext, ev: codegen.ExprCode) =
    defineCodeGen(ctx, ev, (x, y, zz) => s"graft.geo.algo.GeoAlgo.tileKeyPacked($x, $y, $zz)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(f, s, t)
}
