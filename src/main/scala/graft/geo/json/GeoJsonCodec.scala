package graft.geo.json

import graft.geo.model.GeoModel._

/** GeoJSON parse/serialize with the exact semantics of the reference
  * (`/root/reference/src/geojson/geojson.ml`), re-expressed in Scala:
  *
  * - top-level dispatch on "type" ∈ {Feature, FeatureCollection, else
  *   geometry} with top-level-only bbox (geojson.ml:485-510);
  * - bbox parse failure is SILENT (None), not an error (geojson.ml:480-483);
  * - per-type coordinate decoding with the LineString >= 2 check
  *   (geojson.ml:133-139);
  * - feature geometry member optional; id string-or-number
  *   (geojson.ml:335-343); properties passed through verbatim;
  * - foreign members = the complement of each type's keys_in_use
  *   (geojson.ml:33, 327, 412), preserved through round-trip;
  * - serialization key order: geometry = type,coordinates,bbox,fm
  *   (geojson.ml:94-100); feature = type,geometry,properties,id,bbox,fm
  *   (geojson.ml:387-396); collection = type,features,bbox,fm
  *   (geojson.ml:455-462). Error messages match the reference verbatim.
  */
object GeoJsonCodec {

  type Err = String

  private val geometryKeys   = Set("type", "coordinates", "bbox")
  private val gcKeys         = Set("type", "geometries", "bbox")
  private val featureKeys    = Set("type", "geometry", "properties", "id", "bbox")
  private val collectionKeys = Set("type", "features", "geometry", "properties", "id", "bbox")

  private def foreignMembers(j: JValue, keys: Set[String]): Vector[(String, JValue)] = j match {
    case JObj(fields) => fields.filterNot { case (k, _) => keys.contains(k) }
    case _            => Vector.empty
  }

  // ---------------------------------------------------------------- parse

  def parse(text: String): Either[Err, GeoJson] =
    parseWithError(text).left.map(_.msg)

  /** Located variant: lexer failures carry the lexer's failure point;
    * semantic (decode) failures carry the end-of-value position — the eager
    * analogue of the streaming decoder's `decoded_range`
    * (geojsone.ml:27-37). */
  def parseWithError(text: String): Either[ParseError, GeoJson] =
    JValue.parseLoc(text).flatMap { case (v, endLine, endCol) =>
      ofJson(v).left.map(msg => ParseError(msg, endLine, endCol))
    }

  /** geojson.ml:485-510 */
  def ofJson(json: JValue): Either[Err, GeoJson] = json match {
    case o: JObj =>
      o.get("type") match {
        case None =>
          Left("A Geojson text should contain one object with a member `type`.")
        case Some(typ) =>
          val bbox = o.get("bbox").flatMap(jsonToBbox)
          typ match {
            case JStr("Feature") => featureOfJson(o).map(f => GeoJson(GFeature(f), bbox))
            case JStr("FeatureCollection") =>
              collectionOfJson(o).map(fc => GeoJson(GCollection(fc), bbox))
            case JStr(_) => geometryOfJson(o).map(g => GeoJson(GGeometry(g), bbox))
            case _       => Left("Ezjsone.get_string")
          }
      }
    case _ => Left("A Geojson text should contain one object with a member `type`.")
  }

  /** geojson.ml:480-483 — any non-float-array bbox silently becomes None */
  private def jsonToBbox(j: JValue): Option[Array[Double]] = j match {
    case JArr(items) =>
      val out = new Array[Double](items.length)
      var i = 0
      items.foreach {
        case JNum(d) => out(i) = d; i += 1
        case _       => return None
      }
      Some(out)
    case _ => None
  }

  /** geojson.ml:250-286 */
  def geometryOfJson(json: JValue): Either[Err, Geometry] = {
    val fm = foreignMembers(json, geometryKeys)
    json match {
      case o: JObj =>
        o.get("type") match {
          case None =>
            Left("A Geojson text should contain one object with a member `type`.")
          case Some(JStr(t)) =>
            t match {
              case "Point"           => coords(o, "Point").flatMap(parsePosition).map(p => Geometry(Point(p), fm))
              case "MultiPoint"      => coords(o, "MultiPoint").flatMap(parsePositions).map(ps => Geometry(MultiPoint(ps), fm))
              case "LineString"      => coords(o, "LineString").flatMap(parseLine).map(ps => Geometry(LineString(ps), fm))
              case "MultiLineString" => coords(o, "MultiLineString").flatMap(parseLines).map(ls => Geometry(MultiLineString(ls), fm))
              case "Polygon"         => coords(o, "Polygon").flatMap(parseRings).map(rs => Geometry(Polygon(rs), fm))
              case "MultiPolygon"    => coords(o, "MultiPolygon").flatMap(parsePolys).map(ps => Geometry(MultiPolygon(ps), fm))
              case "GeometryCollection" =>
                o.get("geometries") match {
                  case Some(JArr(items)) =>
                    val fmGc = foreignMembers(json, gcKeys)
                    sequence(items.map(geometryOfJson)).map(cs => Geometry(GeometryCollection(cs), fmGc))
                  case Some(_) => Left("Ezjsone.get_list")
                  case None    => Left("A geometry collection should have a member called geometries")
                }
              case other => Left(s"Unknown type of geometry $other")
            }
          case Some(_) => Left("Ezjsone.get_string")
        }
      case _ => Left("A Geojson text should contain one object with a member `type`.")
    }
  }

  /** parse_by_type, geojson.ml:70-83: both "type" and "coordinates" required.
    * Strings are byte-verbatim from the reference: the missing-`type` message
    * is built as `"JSON should" ^ "have …"` — NO space (geojson.ml:74-76) —
    * and the missing-`coordinates` message carries no type suffix
    * (geojson.ml:78). A present type is re-checked against the expected name
    * (geojson.ml:80-83); non-strings surface ezjsone's get_string message
    * (ezjsone.ml:196-198 via geojsone.ml:44-45). */
  private def coords(o: JObj, typName: String): Either[Err, JValue] =
    (o.get("type"), o.get("coordinates")) match {
      case (None, _) => Left(s"JSON shouldhave a key-value for `type' whilst parsing $typName")
      case (_, None) => Left("JSON should have a key-value for `coordinates'")
      case (Some(JStr(t)), Some(c)) =>
        if (t == typName) Right(c)
        else Left(s"Expected type of `$typName' but got $t")
      case (Some(_), Some(_)) => Left("Ezjsone.get_string")
    }

  /** Direct per-type parse (the reference's per-module `base_of_json`,
    * e.g. geojson.ml:92 `Point.base_of_json`): unlike [[geometryOfJson]]'s
    * dispatch, this path can observe a `type` that names a DIFFERENT
    * geometry and produces the reference's `Expected type of …` message. */
  def geometryOfJsonAs(json: JValue, typName: String): Either[Err, Geometry] = json match {
    case o: JObj =>
      val fm = foreignMembers(o, geometryKeys)
      typName match {
        case "Point"           => coords(o, typName).flatMap(parsePosition).map(p => Geometry(Point(p), fm))
        case "MultiPoint"      => coords(o, typName).flatMap(parsePositions).map(ps => Geometry(MultiPoint(ps), fm))
        case "LineString"      => coords(o, typName).flatMap(parseLine).map(ps => Geometry(LineString(ps), fm))
        case "MultiLineString" => coords(o, typName).flatMap(parseLines).map(ls => Geometry(MultiLineString(ls), fm))
        case "Polygon"         => coords(o, typName).flatMap(parseRings).map(rs => Geometry(Polygon(rs), fm))
        case "MultiPolygon"    => coords(o, typName).flatMap(parsePolys).map(ps => Geometry(MultiPolygon(ps), fm))
        case other             => Left(s"Unknown type of geometry $other")
      }
    case _ => Left(s"JSON shouldhave a key-value for `type' whilst parsing $typName")
  }

  private def parsePosition(j: JValue): Either[Err, Position] = j match {
    case JArr(items) =>
      val out = new Array[Double](items.length)
      var i = 0
      items.foreach {
        case JNum(d) => out(i) = d; i += 1
        case other   => return Left("Ezjsone.get_float")
      }
      Right(out)
    case other => Left("Ezjsone.get_list")
  }

  private def parsePositions(j: JValue): Either[Err, Vector[Position]] = j match {
    case JArr(items) => sequence(items.map(parsePosition))
    case other       => Left("Ezjsone.get_list")
  }

  /** geojson.ml:133-139 */
  private def parseLine(j: JValue): Either[Err, Vector[Position]] =
    parsePositions(j).flatMap { ps =>
      if (ps.length >= 2) Right(ps)
      else Left("LineStrings should have two or more points")
    }

  private def parseLines(j: JValue): Either[Err, Vector[Vector[Position]]] = j match {
    case JArr(items) => sequence(items.map(parseLine))
    case other       => Left("Ezjsone.get_list")
  }

  /** Polygon rings parse as raw nested float arrays with NO arity check
    * (geojson.ml:192-199: `Polygon.parse_coords` nests `J.to_array` over
    * floats directly) — unlike MultiLineString, which reuses
    * `LineString.parse_coords` and so inherits the >= 2 check
    * (geojson.ml:161-164). */
  private def parseRings(j: JValue): Either[Err, Vector[Vector[Position]]] = j match {
    case JArr(items) => sequence(items.map(parsePositions))
    case other       => Left("Ezjsone.get_list")
  }

  private def parsePolys(j: JValue): Either[Err, Vector[Vector[Vector[Position]]]] = j match {
    case JArr(items) => sequence(items.map(parseRings))
    case other       => Left("Ezjsone.get_list")
  }

  /** geojson.ml:335-343 */
  private def idOfJson(j: Option[JValue]): Either[Err, Option[FeatureId]] = j match {
    case None => Right(None)
    case Some(JStr(s)) => Right(Some(StringId(s)))
    case Some(JNum(d)) => Right(Some(NumId(d)))
    case Some(_)       => Left("Identifier is not a string or number")
  }

  /** geojson.ml:347-385 */
  def featureOfJson(json: JValue): Either[Err, Feature] = json match {
    case o: JObj =>
      o.get("type") match {
        case Some(JStr("Feature")) =>
          val fm    = foreignMembers(o, featureKeys)
          val props = o.get("properties")
          val id    = o.get("id")
          o.get("geometry") match {
            case Some(g) =>
              for {
                i    <- idOfJson(id)
                geom <- geometryOfJson(g)
              } yield Feature(Some(geom), props, fm, i)
            case None =>
              idOfJson(id).map(i => Feature(None, props, fm, i))
          }
        case Some(JStr(s)) =>
          Left(s"A Geojson feature requires the type `Feature`. Found type, but it was $s")
        case Some(_) => Left("Ezjsone.get_string")
        case None =>
          Left("A Geojson feature requires the type `Feature`. No type was found.")
      }
    case _ => Left("A Geojson feature requires the type `Feature`. No type was found.")
  }

  /** geojson.ml:421-453 */
  def collectionOfJson(json: JValue): Either[Err, FeatureCollection] = json match {
    case o: JObj =>
      o.get("type") match {
        case Some(JStr("FeatureCollection")) =>
          val fm = foreignMembers(o, collectionKeys)
          o.get("features") match {
            case Some(JArr(items)) => sequence(items.map(featureOfJson)).map(fs => FeatureCollection(fs, fm))
            case Some(_)           => Left("Ezjsone.get_list")
            case None              => Left("A feature collection should have a member called `features`.")
          }
        case Some(JStr(s)) =>
          Left(s"A Geojson feature collection requires the type `FeatureCollection`. Found type, but it was $s")
        case Some(_) => Left("Ezjsone.get_string")
        case None =>
          Left("A Geojson feature collection requires the type `FeatureCollection`. No type was found.")
      }
    case _ =>
      Left("A Geojson feature collection requires the type `FeatureCollection`. No type was found.")
  }

  private def sequence[A](v: Vector[Either[Err, A]]): Either[Err, Vector[A]] = {
    val b = Vector.newBuilder[A]
    v.foreach {
      case Right(a) => b += a
      case Left(e)  => return Left(e)
    }
    Right(b.result())
  }

  // ------------------------------------------------------------- serialize

  /** Minified render, written DIRECTLY from the model (no intermediate
    * JValue tree — serialization is the top kernel at scale; the direct
    * writer is ~2x the tree path, byte-identical output asserted in
    * RoundTripPropertySpec). Key order identical to [[toJson]]. */
  def render(g: GeoJson): String = {
    val sb = new StringBuilder(256)
    writeTop(sb, g)
    sb.toString
  }

  /** 2-space-indent output (the reference encoder's ~minify:false mode,
    * jsone.ml:751-767,839-900). */
  def renderPretty(g: GeoJson): String = JValue.renderPretty(toJson(g))

  private def writeTop(sb: StringBuilder, g: GeoJson): Unit = g.body match {
    case GFeature(f)    => writeFeature(sb, f, g.bbox)
    case GCollection(c) => writeCollection(sb, c, g.bbox)
    case GGeometry(geo) => writeGeometry(sb, geo, g.bbox)
  }

  private def writeBboxFm(sb: StringBuilder, bbox: Option[Array[Double]],
                          fm: Vector[(String, JValue)]): Unit = {
    bbox.foreach { b =>
      sb.append(",\"bbox\":[")
      var i = 0
      while (i < b.length) {
        if (i > 0) sb.append(',')
        JValue.appendG16(sb.underlying, b(i))
        i += 1
      }
      sb.append(']')
    }
    fm.foreach { case (k, v) =>
      sb.append(',')
      JValue.writeString(sb, k)
      sb.append(':')
      JValue.write(sb, v)
    }
  }

  private def writePos(sb: StringBuilder, p: Position): Unit = {
    sb.append('[')
    var i = 0
    while (i < p.length) {
      if (i > 0) sb.append(',')
      JValue.appendG16(sb.underlying, p(i))
      i += 1
    }
    sb.append(']')
  }

  private def writePoses(sb: StringBuilder, ps: Vector[Position]): Unit = {
    sb.append('[')
    var first = true
    ps.foreach { p => if (!first) sb.append(','); first = false; writePos(sb, p) }
    sb.append(']')
  }

  private def writeLines(sb: StringBuilder, ls: Vector[Vector[Position]]): Unit = {
    sb.append('[')
    var first = true
    ls.foreach { l => if (!first) sb.append(','); first = false; writePoses(sb, l) }
    sb.append(']')
  }

  def writeGeometry(sb: StringBuilder, g: Geometry,
                    bbox: Option[Array[Double]] = None): Unit = {
    g.shape match {
      case GeometryCollection(cs) =>
        sb.append("{\"type\":\"GeometryCollection\",\"geometries\":[")
        var first = true
        cs.foreach { c => if (!first) sb.append(','); first = false; writeGeometry(sb, c) }
        sb.append(']')
      case shape =>
        sb.append("{\"type\":\"")
        shape match {
          case _: Point            => sb.append("Point")
          case _: MultiPoint       => sb.append("MultiPoint")
          case _: LineString       => sb.append("LineString")
          case _: MultiLineString  => sb.append("MultiLineString")
          case _: Polygon          => sb.append("Polygon")
          case _: MultiPolygon     => sb.append("MultiPolygon")
          case _: GeometryCollection => () // unreachable
        }
        sb.append("\",\"coordinates\":")
        shape match {
          case Point(p)            => writePos(sb, p)
          case MultiPoint(ps)      => writePoses(sb, ps)
          case LineString(ps)      => writePoses(sb, ps)
          case MultiLineString(ls) => writeLines(sb, ls)
          case Polygon(rs)         => writeLines(sb, rs)
          case MultiPolygon(ps)    =>
            sb.append('[')
            var first = true
            ps.foreach { p => if (!first) sb.append(','); first = false; writeLines(sb, p) }
            sb.append(']')
          case _: GeometryCollection => ()
        }
    }
    writeBboxFm(sb, bbox, g.foreignMembers)
    sb.append('}')
  }

  private def writeFeature(sb: StringBuilder, f: Feature,
                           bbox: Option[Array[Double]] = None): Unit = {
    sb.append("{\"type\":\"Feature\"")
    f.geometry.foreach { g => sb.append(",\"geometry\":"); writeGeometry(sb, g) }
    f.properties.foreach { p => sb.append(",\"properties\":"); JValue.write(sb, p) }
    f.id.foreach {
      case StringId(s) => sb.append(",\"id\":"); JValue.writeString(sb, s)
      case NumId(d)    => sb.append(",\"id\":"); JValue.appendG16(sb.underlying, d)
    }
    writeBboxFm(sb, bbox, f.foreignMembers)
    sb.append('}')
  }

  private def writeCollection(sb: StringBuilder, c: FeatureCollection,
                              bbox: Option[Array[Double]] = None): Unit = {
    sb.append("{\"type\":\"FeatureCollection\",\"features\":[")
    var first = true
    c.features.foreach { f => if (!first) sb.append(','); first = false; writeFeature(sb, f) }
    sb.append(']')
    writeBboxFm(sb, bbox, c.foreignMembers)
    sb.append('}')
  }

  def toJson(g: GeoJson): JValue = g.body match {
    case GFeature(f)    => featureToJson(f, g.bbox)
    case GCollection(c) => collectionToJson(c, g.bbox)
    case GGeometry(geo) => geometryToJson(geo, g.bbox)
  }

  private def bboxFields(bbox: Option[Array[Double]]): Vector[(String, JValue)] =
    bbox.map(b => Vector("bbox" -> JArr(b.toVector.map(JNum)))).getOrElse(Vector.empty)

  private def posJson(p: Position): JValue = JArr(p.toVector.map(JNum))
  private def posesJson(ps: Vector[Position]): JValue = JArr(ps.map(posJson))
  private def linesJson(ls: Vector[Vector[Position]]): JValue = JArr(ls.map(posesJson))

  /** geojson.ml:288-307 (+ per-type to_json) */
  def geometryToJson(g: Geometry, bbox: Option[Array[Double]] = None): JValue = {
    def base(t: String, c: JValue): JValue =
      JObj((Vector("type" -> JStr(t), "coordinates" -> c) ++ bboxFields(bbox)) ++ g.foreignMembers)
    g.shape match {
      case Point(p)            => base("Point", posJson(p))
      case MultiPoint(ps)      => base("MultiPoint", posesJson(ps))
      case LineString(ps)      => base("LineString", posesJson(ps))
      case MultiLineString(ls) => base("MultiLineString", linesJson(ls))
      case Polygon(rs)         => base("Polygon", linesJson(rs))
      case MultiPolygon(ps)    => base("MultiPolygon", JArr(ps.map(linesJson)))
      case GeometryCollection(cs) =>
        JObj(
          (Vector(
            "type"       -> JStr("GeometryCollection"),
            "geometries" -> JArr(cs.map(c => geometryToJson(c)))) ++
            bboxFields(bbox)) ++ g.foreignMembers)
    }
  }

  /** geojson.ml:387-396 — only present members are emitted */
  def featureToJson(f: Feature, bbox: Option[Array[Double]] = None): JValue = {
    val geom  = f.geometry.map(g => Vector("geometry" -> geometryToJson(g))).getOrElse(Vector.empty)
    val props = f.properties.map(p => Vector("properties" -> p)).getOrElse(Vector.empty)
    val id = f.id.map {
      case StringId(s) => Vector("id" -> (JStr(s): JValue))
      case NumId(d)    => Vector("id" -> (JNum(d): JValue))
    }.getOrElse(Vector.empty)
    JObj(Vector("type" -> (JStr("Feature"): JValue)) ++ geom ++ props ++ id ++
      bboxFields(bbox) ++ f.foreignMembers)
  }

  /** geojson.ml:455-462 */
  def collectionToJson(c: FeatureCollection, bbox: Option[Array[Double]] = None): JValue =
    JObj(
      (Vector(
        "type"     -> (JStr("FeatureCollection"): JValue),
        "features" -> (JArr(c.features.map(f => featureToJson(f))): JValue)) ++
        bboxFields(bbox)) ++ c.foreignMembers)
}
