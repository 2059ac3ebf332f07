package graft.geo.json

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import scala.collection.immutable.VectorBuilder

/** Minimal ordered JSON value ADT.
  *
  * Mirrors the reference's eager JSON model (`/root/reference/src/geojsone/
  * vendor/ezjsone/ezjsone.ml:18-24`): all numbers are IEEE doubles (the
  * reference lexer produces only `Float`, jsone.ml:424-433), objects are
  * ordered association lists (duplicate keys preserved).
  */
sealed trait JValue {
  def render: String = { val sb = new StringBuilder; JValue.write(sb, this); sb.toString }
}
case object JNull extends JValue
final case class JBool(b: Boolean) extends JValue
final case class JNum(d: Double) extends JValue
final case class JStr(s: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
  def get(key: String): Option[JValue] = fields.collectFirst { case (k, v) if k == key => v }
}

/** A parse failure with its (1-based) source location — the engine-side
  * counterpart of the reference's located errors (jsone.ml:87-108 `error`,
  * geojsone.ml:27-37 `Err.location`): lexer errors carry the failure point;
  * decode (semantic) errors carry the end of the decoded value, the eager
  * analogue of the streaming decoder's last `decoded_range`. */
final case class ParseError(msg: String, line: Int, col: Int)

object JValue {
  private val factory = new JsonFactory()
  // reads Jackson's spellings of non-finite numbers (NaN, Infinity)
  private val nonFiniteFactory =
    new JsonFactoryBuilder().enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** Parse a JSON text. Numbers always become doubles (reference semantics:
    * jsone.ml:424-433 — `float_of_string` for every number).
    */
  def parse(text: String): Either[String, JValue] =
    parseLoc(text).left.map(_.msg).map(_._1)

  /** Parse with location: Right((value, endLine, endCol)) where (endLine,
    * endCol) is the position just after the JSON value — the location
    * attached to semantic errors raised by the layer above — or
    * Left(ParseError) with the lexer's failure point. */
  def parseLoc(text: String): Either[ParseError, (JValue, Int, Int)] = parseLoc(text, factory)

  private def parseLoc(text: String, f: JsonFactory): Either[ParseError, (JValue, Int, Int)] = {
    var p: JsonParser = null
    try {
      p = f.createParser(text)
      try {
        p.nextToken()
        val v = readValue(p)
        val hasTrailing = p.nextToken() != null
        val loc = p.currentLocation()
        if (hasTrailing)
          Left(ParseError("Trailing content after JSON value", loc.getLineNr, loc.getColumnNr))
        else Right((v, loc.getLineNr, loc.getColumnNr))
      } finally p.close()
    } catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        val loc = e.getLocation
        val (l, c) = if (loc == null) (1, 1) else (loc.getLineNr, loc.getColumnNr)
        Left(ParseError(Option(e.getOriginalMessage).getOrElse("parse error"), l, c))
      case e: Exception =>
        val (l, c) =
          if (p != null && p.currentLocation() != null)
            (p.currentLocation().getLineNr, p.currentLocation().getColumnNr)
          else (1, 1)
        Left(ParseError(Option(e.getMessage).getOrElse("parse error"), l, c))
    }
  }

  /** Parse text the codec itself wrote (stored properties, foreign members
    * and collection members), or throw IllegalArgumentException. That text
    * spells a non-finite number as [[appendG16]] prints it (`inf`, `-inf`,
    * `nan`: an overflowing `1e400` is stored as `inf`), which is not JSON,
    * so text that fails as JSON is read again with those spellings taken as
    * numbers. */
  def parseUnsafe(text: String): JValue =
    parse(text).left.flatMap(m => parseLoc(jacksonNonFinite(text), nonFiniteFactory).map(_._1)
      .left.map(_ => m)).fold(m => throw new IllegalArgumentException(m), identity)

  // a JSON string (kept as it is) or a C printf non-finite number
  private val stringOrNonFinite = """"(?:[^"\\]++|\\.)*+"|inf|nan""".r

  /** `text` with `inf` and `nan` outside strings respelled as Jackson's
    * non-numeric numbers `Infinity` and `NaN` (`-inf` → `-Infinity`). */
  private def jacksonNonFinite(text: String): String =
    stringOrNonFinite.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
      m.matched match { case "inf" => "Infinity"; case "nan" => "NaN"; case str => str }))

  private def readValue(p: JsonParser): JValue = p.currentToken() match {
    case JsonToken.VALUE_NULL           => JNull
    case JsonToken.VALUE_TRUE           => JBool(true)
    case JsonToken.VALUE_FALSE          => JBool(false)
    case JsonToken.VALUE_NUMBER_INT    => JNum(p.getDoubleValue)
    case JsonToken.VALUE_NUMBER_FLOAT  => JNum(p.getDoubleValue)
    case JsonToken.VALUE_STRING         => JStr(p.getText)
    case JsonToken.START_ARRAY =>
      val b = new VectorBuilder[JValue]
      while (p.nextToken() != JsonToken.END_ARRAY) b += readValue(p)
      JArr(b.result())
    case JsonToken.START_OBJECT =>
      val b = new VectorBuilder[(String, JValue)]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        b += (name -> readValue(p))
      }
      JObj(b.result())
    case t => throw new IllegalArgumentException(s"Unexpected token $t")
  }

  /** C-printf `%.16g` compatible double formatting (jsone.ml:814-819).
    * C's `%g` rounds the EXACT binary expansion of the double to 16
    * significant digits (ties-to-even) and strips trailing zeros; Java's
    * `String.format` rounds the shortest round-trip repr instead, which
    * diverges on subnormals, near-power-of-ten values and about half of the
    * 2-decimal grid (e.g. 0.07: C `0.07000000000000001`).
    *
    * Two exact kernels, no guessing: [[appendFixedG16]] does the rounding
    * in integer arithmetic for 1e-4 <= |d| < 1e16 (every coordinate and
    * ordinary property number), and `BigDecimal(d)` handles the rest
    * (verified against pinned C goldens and an independent BigDecimal
    * reference in GeoJsonCodecSpec). */
  def formatG16(d: Double): String = {
    val sb = new java.lang.StringBuilder(24)
    appendG16(sb, d)
    sb.toString
  }

  /** [[formatG16]] written straight into the caller's builder. */
  def appendG16(sb: java.lang.StringBuilder, d: Double): Unit = {
    val a = Math.abs(d)
    // C printf prints non-finite doubles as nan/inf/-inf (not JSON, but a
    // programmatic model may carry them; BigDecimal would throw)
    if (a != a) sb.append("nan")
    else if (a == Double.PositiveInfinity) sb.append(if (d > 0) "inf" else "-inf")
    else if (a == 0.0) sb.append(if (1.0 / d < 0) "-0" else "0")
    else if (a >= 1e-4 && a < 1e16) appendFixedG16(sb, d)
    else appendSlowG16(sb, d)
  }

  private val POW5: Array[Long] = Array.iterate(1L, 21)(_ * 5) // 5^0 .. 5^20
  private final val TEN15 = 1000000000000000L
  private final val TEN16 = 10000000000000000L

  /** Exact `%.16g` for 1e-4 <= |d| < 1e16, where C prints fixed notation.
    *
    * |d| = m * 2^q with a 53-bit integer m. For the decimal exponent e10 of
    * the leading digit, the 16 significant digits are |d| * 10^k rounded,
    * k = 15 - e10 in [0, 20]: the product m * 5^k (< 2^100) is formed in
    * 128 bits and shifted by q + k. In this range that shift is right by
    * fewer than 64 bits (or left, exactly), so the dropped bits sit in the
    * low word and give the half-even decision directly. e10 starts at
    * floor(log2|d| * log10 2), which is exact or one low; a truncated
    * digit count outside [10^15, 10^16) corrects it. */
  private def appendFixedG16(sb: java.lang.StringBuilder, d: Double): Unit = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val be   = ((bits >>> 52) & 0x7ff).toInt // normal in this range
    val m    = (bits & 0xfffffffffffffL) | (1L << 52)
    val q    = be - 1075
    var e10  = ((be - 1023) * 78913) >> 18
    var t    = 0L // |d| * 10^k truncated
    var up   = false // round t up (half-even on the dropped bits)
    var settled = false
    while (!settled) {
      val k  = 15 - e10
      val lo = m * POW5(k)
      val s  = q + k
      if (s >= 0) { t = lo << s; up = false } // exact (m * 5^k < 2^57 here)
      else {
        val sh   = -s
        val hi   = Math.multiplyHigh(m, POW5(k))
        t = (hi << (64 - sh)) | (lo >>> sh)
        val rem  = lo & ((1L << sh) - 1)
        val half = 1L << (sh - 1)
        up = rem > half || (rem == half && (t & 1L) == 1L)
      }
      if (t >= TEN16) e10 += 1
      else if (t < TEN15) e10 -= 1
      else settled = true
    }
    if (up) {
      t += 1
      if (t == TEN16) { t = TEN15; e10 += 1 }
    }
    while (t % 10 == 0) t /= 10
    if (d < 0) sb.append('-')
    if (e10 < 0) {
      sb.append("0.")
      var z = -e10 - 1
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(t)
    } else {
      val at = sb.length
      sb.append(t)
      val intDigits = e10 + 1
      val nd = sb.length - at
      if (nd > intDigits) sb.insert(at + intDigits, '.')
      else { var z = intDigits - nd; while (z > 0) { sb.append('0'); z -= 1 } }
    }
  }

  /** True C %.16g for the remaining finite non-zero doubles: round the exact
    * binary expansion (BigDecimal(d)) to 16 significant digits, ties-to-even
    * (glibc under round-to-nearest); scientific iff e < -4 or e >= 16, with
    * an exponent of at least two digits. */
  private def appendSlowG16(sb: java.lang.StringBuilder, d: Double): Unit = {
    val bd = new java.math.BigDecimal(Math.abs(d)) // exact expansion
      .round(new java.math.MathContext(16, java.math.RoundingMode.HALF_EVEN))
    val raw    = bd.unscaledValue.toString
    val e      = raw.length - 1 - bd.scale
    var end    = raw.length
    while (end > 1 && raw.charAt(end - 1) == '0') end -= 1
    val digits = raw.substring(0, end)
    val pointAt = e + 1
    if (d < 0) sb.append('-')
    if (e < -4 || e >= 16) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e').append(if (e < 0) '-' else '+')
      val ae = Math.abs(e)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (e >= 0) {
      if (digits.length <= pointAt) {
        sb.append(digits)
        var i = digits.length
        while (i < pointAt) { sb.append('0'); i += 1 }
      } else sb.append(digits, 0, pointAt).append('.').append(digits, pointAt, digits.length)
    } else {
      sb.append("0.")
      var i = 0
      while (i < -pointAt) { sb.append('0'); i += 1 }
      sb.append(digits)
    }
  }

  /** Minified serialization with the reference's escape rules
    * (jsone.ml:769-796): `"` `\` `\n` escaped, other control chars as \u00XX.
    */
  def write(sb: StringBuilder, v: JValue): Unit = v match {
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JNum(d)  => appendG16(sb.underlying, d)
    case JStr(s)  => writeString(sb, s)
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { it => if (!first) sb.append(','); first = false; write(sb, it) }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(','); first = false
        writeString(sb, k); sb.append(':'); write(sb, fv)
      }
      sb.append('}')
  }

  /** 2-space-indent pretty printer with the reference encoder's exact
    * layout (jsone.ml:751-767 w_indent = nest*2 spaces; jsone.ml:839-900):
    * every member/array value on its own line, `"name": ` with one space
    * after the colon (w_name + u_sp, jsone.ml:798-802,858-861), closers on
    * their own line at the OUTER indent, empty containers stay `{}`/`[]`
    * (last_start short-circuit, jsone.ml:867-869). */
  def renderPretty(v: JValue): String = {
    val sb = new StringBuilder; writePretty(sb, v, 0); sb.toString
  }

  def writePretty(sb: StringBuilder, v: JValue, nest: Int): Unit = {
    def indent(n: Int): Unit = { var i = 0; while (i < 2 * n) { sb.append(' '); i += 1 } }
    v match {
      case JObj(fields) if fields.nonEmpty =>
        sb.append('{')
        var first = true
        fields.foreach { case (k, fv) =>
          if (!first) sb.append(',')
          first = false
          sb.append('\n'); indent(nest + 1)
          writeString(sb, k); sb.append(':'); sb.append(' ')
          writePretty(sb, fv, nest + 1)
        }
        sb.append('\n'); indent(nest); sb.append('}')
      case JArr(items) if items.nonEmpty =>
        sb.append('[')
        var first = true
        items.foreach { it =>
          if (!first) sb.append(',')
          first = false
          sb.append('\n'); indent(nest + 1)
          writePretty(sb, it, nest + 1)
        }
        sb.append('\n'); indent(nest); sb.append(']')
      case other => write(sb, other) // scalars and empty containers as minified
    }
  }

  private[geo] def writeString(sb: StringBuilder, s: String): Unit =
    writeString(sb.underlying, s)

  private[geo] def writeString(sb: java.lang.StringBuilder, s: CharSequence): Unit = {
    sb.append('"')
    var run = 0
    var i   = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c <= 0x1f) {
        sb.append(s, run, i); escape(sb, c); run = i + 1
      }
      i += 1
    }
    sb.append(s, run, s.length).append('"')
  }

  /** The reference's escapes (jsone.ml:769-796): `"` `\` `\n` escaped,
    * other control chars as \u00XX. */
  private def escape(sb: java.lang.StringBuilder, c: Char): Unit = c match {
    case '"'  => sb.append("\\\"")
    case '\\' => sb.append("\\\\")
    case '\n' => sb.append("\\n")
    case _    =>
      sb.append("\\u00").append(Character.forDigit(c >> 4, 16).toUpper)
        .append(Character.forDigit(c & 0xf, 16).toUpper)
  }

  /** Write the JSON value AT the parser's current token in canonical form —
    * exactly what [[parse]] then `render` produce (member order and duplicates,
    * numbers through [[appendG16]], the reference's escapes) without
    * building the tree. Integer literals of at most 15 characters skip the
    * double: their long value prints as its own %.16g rendering (`-0` reads
    * as the integer 0, as in the tree path). Leaves the parser
    * on the value's last token; Jackson errors propagate. */
  private[geo] def writeCanonical(p: JsonParser, sb: java.lang.StringBuilder): Unit =
    p.currentToken() match {
      case JsonToken.VALUE_NULL  => sb.append("null")
      case JsonToken.VALUE_TRUE  => sb.append("true")
      case JsonToken.VALUE_FALSE => sb.append("false")
      case JsonToken.VALUE_NUMBER_INT if p.getTextLength <= 15 =>
        sb.append(p.getLongValue)
      case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
        appendG16(sb, p.getDoubleValue)
      case JsonToken.VALUE_STRING =>
        writeString(sb, java.nio.CharBuffer.wrap(p.getTextCharacters, p.getTextOffset, p.getTextLength))
      case JsonToken.START_ARRAY =>
        sb.append('[')
        var first = true
        while (p.nextToken() != JsonToken.END_ARRAY) {
          if (!first) sb.append(',')
          first = false
          writeCanonical(p, sb)
        }
        sb.append(']')
      case JsonToken.START_OBJECT =>
        sb.append('{')
        var first = true
        while (p.nextToken() != JsonToken.END_OBJECT) {
          if (!first) sb.append(',')
          first = false
          writeString(sb, p.currentName())
          sb.append(':')
          p.nextToken()
          writeCanonical(p, sb)
        }
        sb.append('}')
      case t => throw new IllegalArgumentException(s"Unexpected token $t")
    }

  /** Structural equality where numbers compare by bit pattern — the JSON-value
    * equality the reference round-trip tests use (test/geojson/test.ml).
    * Object field ORDER matters (assoc lists), matching the reference's `=`.
    */
  def eq(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JNum(x), JNum(y)) => java.lang.Double.compare(x, y) == 0
    case (JArr(x), JArr(y)) => x.length == y.length && x.iterator.zip(y.iterator).forall { case (p, q) => eq(p, q) }
    case (JObj(x), JObj(y)) =>
      x.length == y.length && x.iterator.zip(y.iterator).forall { case ((k1, v1), (k2, v2)) => k1 == k2 && eq(v1, v2) }
    case _ => a == b
  }
}
