package graft.geo.sql

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken, StreamReadFeature}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.json.JValue
import graft.geo.model.GeoModel.GType

/** Single-pass Jackson → packed-row parsers for the hot paths.
  *
  * `from_geojson_geom` is the top per-row kernel of every spatial join, and
  * `from_geojson` is the kernel of feature-stream pipelines; the general
  * path (Jackson → JValue tree → model ADT → packed row) allocates three
  * intermediate representations. These parsers stream tokens straight into
  * the flat coords/offset arrays of [[GeoStruct.geometryType]] /
  * [[GeoStruct.topType]].
  *
  * They handle exactly the PLAIN shapes — a geometry object `{"type":
  * <basic type>, "coordinates": <numbers nested to the type's depth>}` in
  * that key order, and a Feature object whose members are drawn from
  * {geometry, properties, id, bbox} with no duplicates or foreign members —
  * and return [[GeoParse.Fallback]] for everything else (other key orders,
  * foreign members, GeometryCollection, FeatureCollection, arity
  * violations, malformed input), which the caller routes through the
  * general [[graft.geo.json.GeoJsonCodec]] path. The fast paths therefore
  * cannot change semantics: they only accept documents both paths parse
  * identically (byte-equality asserted differentially in GeoParseSpec).
  *
  * Each number is converted once: Jackson reads the UTF-8 bytes of the
  * `UTF8String` in place (no `toString`), doubles go through its correctly
  * rounded fast parser (bit-equal to `Double.parseDouble`, spec-pinned),
  * and `properties` stream token by token into their canonical text
  * ([[JValue.writeCanonical]]) instead of a JValue tree that is then
  * rendered.
  */
object GeoParse {

  /** Sentinel: not recognized by the fast path — use the general codec. */
  val Fallback: AnyRef = new Object

  private val factory: JsonFactory =
    new JsonFactoryBuilder().enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build()

  /** A parser over the text's UTF-8 bytes, read in place when on-heap. A
    * leading byte-order mark gets no parser (null): Jackson's byte
    * bootstrapper would skip it where the String-based codec rejects it. */
  private def parser(s: UTF8String): JsonParser =
    if (s.numBytes > 0 && s.getByte(0) == 0xEF.toByte) null
    else s.getBaseObject match {
      case a: Array[Byte] =>
        factory.createParser(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ =>
        val b = s.getBytes
        factory.createParser(b, 0, b.length)
    }

  /** Canonical minified text of a JSON document: `JValue.parse(text)
    * .render` without the tree. Invalid JSON (the codec's own `inf` and
    * `nan` included) or trailing content throws IllegalArgumentException. */
  def canonicalJson(s: UTF8String): String = {
    val p = parser(s)
    if (p == null)
      return JValue.parse(s.toString).fold(m => throw new IllegalArgumentException(m), _.render)
    try {
      val sb = new java.lang.StringBuilder(s.numBytes + 16)
      p.nextToken()
      JValue.writeCanonical(p, sb)
      if (p.nextToken() != null) throw new IllegalArgumentException("Trailing content after JSON value")
      sb.toString
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(Option(e.getOriginalMessage).getOrElse("parse error"), e)
    } finally p.close()
  }

  /** Array nesting depth of "coordinates" per geometry type. */
  private def depthOf(typ: String): Int = typ match {
    case "Point"           => 1
    case "MultiPoint"      => 2
    case "LineString"      => 2
    case "MultiLineString" => 3
    case "Polygon"         => 3
    case "MultiPolygon"    => 4
    case _                 => -1
  }

  /** Parse a bare geometry document to a packed geometry row (or Fallback). */
  def parseGeometryFast(text: String): AnyRef = parseGeometryFast(UTF8String.fromString(text))

  def parseGeometryFast(text: UTF8String): AnyRef = {
    try {
      val p = parser(text)
      if (p == null) return Fallback
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return Fallback
        val row = parseGeometryObject(p)
        if (row eq Fallback) return Fallback
        if (p.nextToken() != null) return Fallback // trailing content
        row
      } finally p.close()
    } catch { case _: Exception => Fallback }
  }

  /** Token-level core: current token is START_OBJECT of a geometry object;
    * consumes through its END_OBJECT. Returns the packed row or Fallback
    * (the parser position is then undefined — caller must abandon). */
  private def parseGeometryObject(p: JsonParser): AnyRef = {
    if (p.nextToken() != JsonToken.FIELD_NAME || p.currentName() != "type") return Fallback
    if (p.nextToken() != JsonToken.VALUE_STRING) return Fallback
    val typ = p.getText
    val n   = depthOf(typ)
    if (n < 0) return Fallback
    if (p.nextToken() != JsonToken.FIELD_NAME || p.currentName() != "coordinates") return Fallback

    var coords  = new Array[Double](16); var ci = 0
    var posOff  = new Array[Int](8);     var pi = 0
    var ringOff = new Array[Int](4);     var ri = 0
    var partOff = new Array[Int](2);     var fi = 0
    @inline def growD(): Unit = { coords = java.util.Arrays.copyOf(coords, coords.length * 2) }
    @inline def pushPos(): Unit = {
      if (pi == posOff.length) posOff = java.util.Arrays.copyOf(posOff, pi * 2)
      posOff(pi) = ci; pi += 1
    }
    @inline def pushRing(): Unit = {
      if (ri == ringOff.length) ringOff = java.util.Arrays.copyOf(ringOff, ri * 2)
      ringOff(ri) = pi; ri += 1
    }
    @inline def pushPart(): Unit = {
      if (fi == partOff.length) partOff = java.util.Arrays.copyOf(partOff, fi * 2)
      partOff(fi) = ri; fi += 1
    }
    // implicit outer containers for the shallow types (pack layout is
    // always parts -> rings -> positions, like GeoStruct.packGeometry)
    if (n <= 3) pushPart()
    if (n <= 2) pushRing()
    if (n == 1) pushPos()

    val checkLine = typ == "LineString" || typ == "MultiLineString"
    var depth = 0
    var done  = false
    while (!done) {
      p.nextToken() match {
        case JsonToken.START_ARRAY =>
          depth += 1
          if (depth > n) return Fallback
          if (n >= 4 && depth == n - 2) pushPart()
          if (n >= 3 && depth == n - 1) pushRing()
          if (n >= 2 && depth == n) pushPos()
        case JsonToken.END_ARRAY =>
          if (depth == n - 1 && checkLine) {
            // a line just closed: the reference's >= 2 positions check
            // (geojson.ml:133-139) — violations go to the slow path for
            // the exact error (-> null in PERMISSIVE mode)
            if (pi - ringOff(ri - 1) < 2) return Fallback
          }
          depth -= 1
          if (depth == 0) done = true
        case t if t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT =>
          if (depth != n) return Fallback
          if (ci == coords.length) growD()
          coords(ci) = p.getDoubleValue; ci += 1
        case _ => return Fallback // strings/null/objects inside, or missing array
      }
    }
    if (p.nextToken() != JsonToken.END_OBJECT) return Fallback // bbox/fm -> slow

    // close the offset arrays (final sentinel entries)
    if (pi == posOff.length) posOff = java.util.Arrays.copyOf(posOff, pi + 1)
    posOff(pi) = ci
    if (ri == ringOff.length) ringOff = java.util.Arrays.copyOf(ringOff, ri + 1)
    ringOff(ri) = pi
    if (fi == partOff.length) partOff = java.util.Arrays.copyOf(partOff, fi + 1)
    partOff(fi) = ri

    val out = new GenericInternalRow(7)
    out.update(0, GType.ofName(typ).toByte)
    out.update(1, new GenericArrayData(java.util.Arrays.copyOf(coords, ci)))
    out.update(2, new GenericArrayData(java.util.Arrays.copyOf(posOff, pi + 1)))
    out.update(3, new GenericArrayData(java.util.Arrays.copyOf(ringOff, ri + 1)))
    out.update(4, new GenericArrayData(java.util.Arrays.copyOf(partOff, fi + 1)))
    out.update(6, new GenericArrayData(Array.empty[Any])) // no foreign members
    out
  }

  /** Parse a top-level document (bare geometry or plain Feature) to a packed
    * top row (or Fallback). FeatureCollections, foreign members, duplicate
    * known keys, bbox-anywhere and every error path fall back. */
  def parseTopFast(text: String): AnyRef = parseTopFast(UTF8String.fromString(text))

  def parseTopFast(text: UTF8String): AnyRef = {
    try {
      val p = parser(text)
      if (p == null) return Fallback
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return Fallback
        if (p.nextToken() != JsonToken.FIELD_NAME || p.currentName() != "type") return Fallback
        if (p.nextToken() != JsonToken.VALUE_STRING) return Fallback
        val typ = p.getText
        if (depthOf(typ) >= 0) {
          // bare geometry doc: reuse the geometry path on a fresh parser
          // (the codec keeps top-level bbox, which the geometry fast path
          // rejects -> falls back; so a fast accept here has bbox = null)
          val g = parseGeometryFast(text)
          if (g eq Fallback) return Fallback
          val top = new GenericInternalRow(6)
          top.update(0, 0.toByte)
          top.update(2, g)
          return top
        }
        if (typ != "Feature") return Fallback // FC/unknown -> slow path

        val f = new GenericInternalRow(5)
        f.update(4, new GenericArrayData(Array.empty[Any])) // no foreign members
        var sawGeom = false; var sawProps = false; var sawId = false
        var bbox: Array[Double] = null
        var done = false
        while (!done) {
          p.nextToken() match {
            case JsonToken.END_OBJECT => done = true
            case JsonToken.FIELD_NAME =>
              p.currentName() match {
                case "geometry" =>
                  if (sawGeom) return Fallback // duplicate key -> slow
                  sawGeom = true
                  if (p.nextToken() != JsonToken.START_OBJECT) return Fallback // null geometry is an error
                  val g = parseGeometryObject(p)
                  if (g eq Fallback) return Fallback
                  f.update(2, g)
                case "properties" =>
                  if (sawProps) return Fallback
                  sawProps = true
                  p.nextToken()
                  // any JSON value, present-null included; packed as its
                  // canonical minified text (Jackson's own re-serialization
                  // formats numbers differently)
                  val sb = new java.lang.StringBuilder(64)
                  JValue.writeCanonical(p, sb)
                  f.update(3, UTF8String.fromString(sb.toString))
                case "id" =>
                  if (sawId) return Fallback
                  sawId = true
                  p.nextToken() match {
                    case JsonToken.VALUE_STRING => f.update(0, UTF8String.fromString(p.getText))
                    case t if t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT =>
                      f.update(1, p.getDoubleValue)
                    case _ => return Fallback // non-string/number id is an error
                  }
                case "bbox" =>
                  if (bbox != null) return Fallback
                  if (p.nextToken() != JsonToken.START_ARRAY) return Fallback // silent-None path -> slow
                  var arr = new Array[Double](4); var bi = 0
                  var closed = false
                  while (!closed) {
                    p.nextToken() match {
                      case JsonToken.END_ARRAY => closed = true
                      case t if t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT =>
                        if (bi == arr.length) arr = java.util.Arrays.copyOf(arr, bi * 2)
                        arr(bi) = p.getDoubleValue; bi += 1
                      case _ => return Fallback // non-float bbox: silent None -> slow
                    }
                  }
                  bbox = java.util.Arrays.copyOf(arr, bi)
                case _ => return Fallback // foreign member -> slow
              }
            case _ => return Fallback
          }
        }
        if (p.nextToken() != null) return Fallback // trailing content

        val top = new GenericInternalRow(6)
        top.update(0, 1.toByte)
        if (bbox != null) top.update(1, new GenericArrayData(bbox))
        top.update(3, f)
        top
      } finally p.close()
    } catch { case _: Exception => Fallback }
  }
}
