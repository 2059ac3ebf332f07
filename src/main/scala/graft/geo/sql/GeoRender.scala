package graft.geo.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.json.{GeoJsonCodec, JValue}
import graft.geo.model.GeoModel.GType

/** Packed row → minified GeoJSON text, written straight from the row's
  * arrays: the serialize twin of [[GeoParse]]. Output is byte-identical to
  * `GeoJsonCodec.render(GeoStruct.unpackTop(row))` (same key order, %.16g
  * numbers, properties and foreign members re-canonicalized from their
  * stored text) without unpacking into the Vector-of-arrays model.
  * FeatureCollections and GeometryCollections take that model path.
  */
object GeoRender {

  /** A packed top row (GeoStruct.topType), with a Feature's properties
    * replaced by the JSON text `props` and its geometry by the packed
    * geometry `geom`, each when it is not null (non-Feature documents
    * ignore both). The row itself is never changed. `props` must be JSON:
    * anything else throws IllegalArgumentException. */
  def renderTop(top: InternalRow, props: UTF8String = null, geom: InternalRow = null): String = {
    val bbox = if (top.isNullAt(1)) null else top.getArray(1)
    top.getByte(0) match {
      case 0 =>
        val sb = new StringBuilder(128)
        writeGeometry(sb, top.getStruct(2, 7), bbox)
        sb.toString
      case 1 =>
        val f  = top.getStruct(3, 5)
        val sb = new StringBuilder(256)
        sb.append("{\"type\":\"Feature\"")
        val g = if (geom != null) geom else if (f.isNullAt(2)) null else f.getStruct(2, 7)
        if (g != null) { sb.append(",\"geometry\":"); writeGeometry(sb, g, null) }
        val p = if (props != null) GeoParse.canonicalJson(props)
                else if (f.isNullAt(3)) null else storedJson(f.getUTF8String(3))
        if (p != null) sb.append(",\"properties\":").append(p)
        if (!f.isNullAt(0)) { sb.append(",\"id\":"); JValue.writeString(sb, f.getUTF8String(0).toString) }
        else if (!f.isNullAt(1)) { sb.append(",\"id\":"); JValue.appendG16(sb.underlying, f.getDouble(1)) }
        writeBboxFm(sb, bbox, if (f.isNullAt(4)) null else f.getArray(4))
        sb.append('}')
        sb.toString
      case _ => GeoJsonCodec.render(GeoStruct.unpackTop(top))
    }
  }

  /** Canonical text of JSON the codec stored, which spells a non-finite
    * number as C printf does (`inf`): only [[JValue.parseUnsafe]] reads it. */
  private def storedJson(s: UTF8String): String =
    try GeoParse.canonicalJson(s)
    catch { case _: IllegalArgumentException => JValue.parseUnsafe(s.toString).render }

  /** A packed geometry row (GeoStruct.geometryType) with an optional bbox. */
  def writeGeometry(sb: StringBuilder, g: InternalRow, bbox: ArrayData): Unit = {
    val gtype = GeomAccess.gtype(g)
    if (gtype == GType.Collection) {
      GeoJsonCodec.writeGeometry(sb, GeoStruct.unpackGeometry(g),
        Option(bbox).map(_.toDoubleArray()))
      return
    }
    val coords  = GeomAccess.coords(g)
    val posOff  = GeomAccess.posOff(g)
    val ringOff = GeomAccess.ringOff(g)
    val partOff = GeomAccess.partOff(g)
    val out = sb.underlying
    def position(i: Int): Unit = {
      out.append('[')
      var c = posOff(i)
      while (c < posOff(i + 1)) {
        if (c > posOff(i)) out.append(',')
        JValue.appendG16(out, coords(c))
        c += 1
      }
      out.append(']')
    }
    def ring(r: Int): Unit = {
      out.append('[')
      var i = ringOff(r)
      while (i < ringOff(r + 1)) { if (i > ringOff(r)) out.append(','); position(i); i += 1 }
      out.append(']')
    }
    def part(p: Int): Unit = {
      out.append('[')
      var r = partOff(p)
      while (r < partOff(p + 1)) { if (r > partOff(p)) out.append(','); ring(r); r += 1 }
      out.append(']')
    }
    out.append("{\"type\":\"").append(GType.name(gtype)).append("\",\"coordinates\":")
    gtype match {
      case GType.Point                         => position(0)
      case GType.MultiPoint | GType.LineString => ring(0)
      case GType.MultiLineString | GType.Polygon => part(0)
      case GType.MultiPolygon =>
        out.append('[')
        var p = 0
        while (p < partOff.length - 1) { if (p > 0) out.append(','); part(p); p += 1 }
        out.append(']')
      case other => throw new IllegalArgumentException(s"bad gtype $other")
    }
    writeBboxFm(sb, bbox, if (g.isNullAt(6)) null else g.getArray(6))
    out.append('}')
  }

  private def writeBboxFm(sb: StringBuilder, bbox: ArrayData, fm: ArrayData): Unit = {
    if (bbox != null) {
      sb.append(",\"bbox\":[")
      var i = 0
      while (i < bbox.numElements()) {
        if (i > 0) sb.append(',')
        JValue.appendG16(sb.underlying, bbox.getDouble(i))
        i += 1
      }
      sb.append(']')
    }
    if (fm != null) {
      var i = 0
      while (i < fm.numElements()) {
        val kv = fm.getStruct(i, 2)
        sb.append(',')
        JValue.writeString(sb, kv.getUTF8String(0).toString)
        sb.append(':').append(storedJson(kv.getUTF8String(1)))
        i += 1
      }
    }
  }
}
