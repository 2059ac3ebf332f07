package graft.geo.sources

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

/** The geojsone capability recast for Spark (SURVEY.md §2.6): split a
  * FeatureCollection document "too big for memory" into one row per feature
  * WITHOUT materializing the document — a Jackson streaming parser walks the
  * byte stream and emits each element of the top-level "features" array as
  * its own JSON text, in constant memory per task (the direct analogue of
  * the reference's lexeme-driven `decode_single_object`,
  * /root/reference/src/geojsone/geojsone.ml:68-116).
  *
  * Each text is the element's source text as UTF-8 bytes: no number is
  * converted and no string decoded before `from_geojson` reads it.
  *
  * The `geojson` DataSourceV2 ([[GeoJsonDataSource]]) reads one file per
  * task; a single gigantic file is one task but still constant-memory,
  * exactly like the single-fiber reference.
  */
object GeoJsonReader {

  /** The encoding of a GeoJSON byte stream, guessed from its first bytes as
    * the reference's uutfe does: a byte-order mark (dropped), else the RFC
    * 4627 null-byte pattern of UTF-16BE/LE, else UTF-8. Returns the stream
    * positioned after the mark. */
  private def sniff(in: java.io.InputStream): (java.io.InputStream, Charset) = {
    val pb   = new java.io.PushbackInputStream(in, 3)
    val head = new Array[Byte](3)
    var n    = 0
    var eof  = false
    while (n < 3 && !eof) {
      val b = pb.read()
      if (b == -1) eof = true else { head(n) = b.toByte; n += 1 }
    }
    val (cs, bomLen) =
      if (n >= 2 && head(0) == 0xFE.toByte && head(1) == 0xFF.toByte) (UTF_16BE, 2)
      else if (n >= 2 && head(0) == 0xFF.toByte && head(1) == 0xFE.toByte) (UTF_16LE, 2)
      else if (n >= 3 && head(0) == 0xEF.toByte && head(1) == 0xBB.toByte && head(2) == 0xBF.toByte)
        (UTF_8, 3)
      else if (n >= 2 && head(0) == 0 && head(1) != 0) (UTF_16BE, 0)
      else if (n >= 2 && head(0) != 0 && head(1) == 0) (UTF_16LE, 0)
      else (UTF_8, 0)
    pb.unread(head, bomLen, n - bomLen)
    (pb, cs)
  }

  private def decoder(cs: Charset, onError: CodingErrorAction) =
    cs.newDecoder().onMalformedInput(onError).onUnmappableCharacter(onError)

  /** Charset-sniffing reader with malformed → U+FFFD replacement — the
    * engine twin of the reference's uutfe recovery (`Malformed → add
    * U+FFFD and continue`, uutfe.ml:35,68; the decoder replaces each
    * maximal ill-formed subsequence per the Unicode best practice the uutf
    * family follows), over [[sniff]]. */
  private[sources] def replacingReader(in: java.io.InputStream): java.io.Reader = {
    val (body, cs) = sniff(in)
    new java.io.InputStreamReader(body, decoder(cs, CodingErrorAction.REPLACE))
  }

  /** Error-RECOVERING splitter (`mode=resync`) — the engine twin of jsone's
    * token-level resync (`discard_to u_comma u_rbrack`, jsone.ml:487-493 +
    * :416-422): malformed content inside a features array discards input to
    * the next `,` / `]` (the reference's literal scan, not string-aware —
    * faithful) and the stream continues, so ONE corrupt feature in a 10 GB
    * document no longer fails the whole task. Bytes decode through
    * [[replacingReader]] (U+FFFD on malformed sequences), i.e. resync
    * implies the uutfe byte-level recovery too.
    *
    * Structural contract: per root value — a root object carrying a
    * top-level `features` array streams that array's `{...}` elements
    * (string/escape-aware bracket balance for capture); any other root
    * object is emitted whole; a non-object root discards to the next `{`.
    * Emitted texts are BEST-EFFORT: semantically-invalid features still
    * emit and fall to `from_geojson`'s PERMISSIVE null + located
    * `geojson_error` downstream, mirroring the reference's decode-error-
    * then-continue loop.
    */
  private[sources] def resyncFeatures(in: java.io.InputStream): Iterator[String] = {
    val rd = new java.io.PushbackReader(replacingReader(in), 1)
    def readc(): Int = rd.read()
    def unread(c: Int): Unit = if (c != -1) rd.unread(c)
    def skipSep(): Int = { // whitespace + RS separators; returns next char
      var c = readc()
      while (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x1E || c == 0xFEFF) c = readc()
      c
    }
    /** capture a balanced JSON string starting AFTER the opening quote. */
    def captureString(sb: StringBuilder): Unit = {
      var c = readc()
      while (c != -1 && c != '"') {
        sb.append(c.toChar)
        if (c == '\\') { val e = readc(); if (e != -1) sb.append(e.toChar); }
        c = readc()
      }
      if (c != -1) sb.append('"')
    }
    /** capture a balanced value whose opening char is `open` (already
      * consumed, appended by caller); string-aware. Returns false on EOF. */
    def captureBalanced(sb: StringBuilder, open: Int): Boolean = {
      val close = if (open == '{') '}' else ']'
      var depth = 1
      var c = readc()
      while (depth > 0 && c != -1) {
        sb.append(c.toChar)
        if (c == '"') captureString(sb)
        else if (c == open) depth += 1
        else if (c == close) depth -= 1
        c = readc()
      }
      unread(c)
      depth == 0
    }
    /** jsone's discard_to: literal scan to `,` or `]` (NOT string-aware —
      * reference-faithful), leaving the terminator unconsumed. */
    def discardTo(): Unit = {
      var c = readc()
      while (c != -1 && c != ',' && c != ']') c = readc()
      unread(c)
    }

    new Iterator[String] {
      private var pending: Iterator[String] = Iterator.empty
      private var eof = false
      private def parseRoot(): Unit = {
        var c = skipSep()
        // non-object root: resync = discard to the next object start
        while (c != -1 && c != '{') c = skipSep()
        if (c == -1) { eof = true; return }
        // scan the root object's members; buffer the text in case this is a
        // single value (no features member)
        val head = new StringBuilder("{")
        var inFeatures = false
        var done = false
        while (!done && !inFeatures) {
          val k = skipSep()
          if (k == -1) { eof = true; done = true }
          else if (k == '}') { head.append('}'); done = true }
          else if (k == ',') head.append(',')
          else if (k == '"') {
            val keySb = new StringBuilder("\"")
            captureString(keySb)
            head.append(keySb)
            val colon = skipSep()
            if (colon == ':') {
              head.append(':')
              val v = skipSep()
              if (v == -1) { eof = true; done = true }
              else if (keySb.toString == "\"features\"" && v == '[') inFeatures = true
              else if (v == '{' || v == '[') {
                head.append(v.toChar)
                if (!captureBalanced(head, v)) { eof = true; done = true }
              }
              else if (v == '"') { head.append('"'); captureString(head) }
              else { // scalar: copy to the next , or } at this level
                head.append(v.toChar)
                var c2 = readc()
                while (c2 != -1 && c2 != ',' && c2 != '}') { head.append(c2.toChar); c2 = readc() }
                unread(c2)
              }
            } else unread(colon) // malformed member: resync at next loop
          }
          else () // stray char inside object head: skip it (resync)
        }
        if (eof && !inFeatures) return
        if (!inFeatures) { pending = Iterator.single(head.toString); return }
        // stream the features array elements LAZILY (constant memory, like
        // the strict splitter) with discard_to recovery per element; the
        // root remainder (members after features) drains when `]` arrives
        def drainRoot(): Unit = {
          var depth = 1
          var c1 = readc()
          while (depth > 0 && c1 != -1) {
            if (c1 == '"') captureString(new StringBuilder)
            else if (c1 == '{' || c1 == '[') depth += 1
            else if (c1 == '}' || c1 == ']') depth -= 1
            c1 = readc()
          }
          unread(c1)
          if (c1 == -1) eof = true
        }
        pending = new Iterator[String] {
          private var nextElem: String = null
          private var arrDone = false
          private def advance(): Unit =
            while (nextElem == null && !arrDone) {
              val c0 = skipSep()
              if (c0 == -1) { eof = true; arrDone = true }
              else if (c0 == ']') { arrDone = true; drainRoot() }
              else if (c0 == ',') ()
              else if (c0 == '{') {
                val sb = new StringBuilder("{")
                if (captureBalanced(sb, '{')) nextElem = sb.toString
                else { eof = true; arrDone = true }
              }
              else discardTo() // malformed element: jsone's resync
            }
          override def hasNext: Boolean = { advance(); nextElem != null }
          override def next(): String = {
            advance(); val e = nextElem; nextElem = null; e
          }
        }
      }
      private def refill(): Unit =
        while (!pending.hasNext && !eof) parseRoot()
      override def hasNext: Boolean = { refill(); if (!pending.hasNext) rd.close(); pending.hasNext }
      override def next(): String = { refill(); pending.next() }
    }
  }

  /** The strict splitter: the UTF-8 bytes of each feature text of one
    * stream, in document order, auto-detecting the container format in
    * constant memory:
    *
    *  - RFC 8142 GeoJSON text sequences (RS 0x1E before each text, each text
    *    any GeoJSON — FeatureCollections are split, features pass through);
    *  - ND-JSON / concatenated JSON (a sequence of root-level objects, any
    *    member order — Jackson reads consecutive root values natively);
    *  - FeatureCollection documents (the original geojsone case): each
    *    element of the top-level "features" array becomes a row. Nested
    *    "features" keys inside properties are not confused (the scan only
    *    honors the top level of each root object).
    *
    * Classification is PER ROOT VALUE: a root object is a collection iff its
    * top-level `type` is "FeatureCollection" (authoritative) or — for
    * type-less objects — it carries a top-level `features` array. Non-object
    * roots fail loudly (the reference requires an object).
    *
    * Every feature is emitted BYTE-FAITHFULLY: it is sliced out of a UTF-8
    * byte stream at Jackson's byte offsets taken around `skipChildren()`,
    * which still tokenizes every value and checks every UTF-8 sequence. The
    * slices come from a [[Recorder]] between the byte stream and Jackson
    * that never holds more than the largest feature (or root-object head)
    * plus one read chunk. UTF-8 input reaches Jackson as it is; UTF-16
    * input, and any input under `malformedReplace`, is decoded first
    * (failing on a malformed sequence, or turning it into U+FFFD) and
    * re-encoded to UTF-8. */
  private[sources] def splitFeatures(in0: java.io.InputStream,
                                     malformedReplace: Boolean = false): Iterator[Array[Byte]] = {
    val (body, cs) = sniff(in0)
    val utf8 =
      if (cs == UTF_8 && !malformedReplace) body
      else {
        val onError = if (malformedReplace) CodingErrorAction.REPLACE else CodingErrorAction.REPORT
        org.apache.commons.io.input.ReaderInputStream.builder()
          .setReader(new java.io.InputStreamReader(body, decoder(cs, onError)))
          .setCharset(UTF_8).get()
      }
    // sniff RS (RFC 8142): strip separators with a filter stream — each
    // text is then just another consecutive root value
    val pb    = new java.io.PushbackInputStream(utf8, 1)
    val first = pb.read()
    if (first == -1) { pb.close(); return Iterator.empty }
    pb.unread(first)
    val in: java.io.InputStream =
      if (first == 0x1E) new java.io.FilterInputStream(pb) {
        override def read(): Int = {
          var b = super.read(); while (b == 0x1E) b = super.read(); b
        }
        override def read(buf: Array[Byte], off: Int, len: Int): Int = {
          val n = super.read(buf, off, len)
          if (n <= 0) return n
          var w = off; var r = off
          while (r < off + n) { if (buf(r) != 0x1E) { buf(w) = buf(r); w += 1 }; r += 1 }
          val kept = w - off
          if (kept == 0) read(buf, off, len) else kept
        }
      }
      else pb
    val rec    = new Recorder(in)
    val parser = new JsonFactory().createParser(rec)
    // Jackson guesses the encoding again from the first bytes it is given:
    // only NUL bytes there (UTF-32 input; never valid JSON) can still move
    // it off its byte-offset UTF-8 parser
    if (!parser.isInstanceOf[com.fasterxml.jackson.core.json.UTF8StreamJsonParser]) {
      parser.close()
      throw new java.io.CharConversionException("GeoJSON input must be UTF-8 or UTF-16")
    }

    // flatten every root value: FC roots stream their features, feature
    // roots emit themselves
    new Iterator[Array[Byte]] {
      private var pending: Iterator[Array[Byte]] = Iterator.empty
      private var closed = false
      private def closeAll(): Unit = { closed = true; parser.close(); in.close() }
      private def refill(): Unit = {
        while (!pending.hasNext && !closed) {
          try {
            rec.release(parser.currentLocation().getByteOffset)
            val t = parser.nextToken()
            if (t == null) closeAll()
            else {
              require(t == JsonToken.START_OBJECT, "GeoJSON document must be an object")
              pending = splitRootObject(parser, rec)
            }
          } catch { case e: Throwable => closeAll(); throw e }
        }
      }
      override def hasNext: Boolean = { refill(); pending.hasNext }
      override def next(): Array[Byte] = { refill(); pending.next() }
    }
  }

  /** Recording tap between the byte source and Jackson: keeps every byte
    * read from offset `keep` on, so a feature can be sliced out by its
    * Jackson byte offsets. [[release]] advances `keep`; released bytes are
    * dropped at the next read, so the buffer holds the current feature (or
    * root-object head) plus at most one read chunk. */
  private[sources] final class Recorder(in: java.io.InputStream) extends java.io.InputStream {
    private var buf  = new Array[Byte](1 << 15)
    private var base = 0L // stream offset of buf(0)
    private var len  = 0
    private var keep = 0L

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, n: Int): Int = {
      val r = in.read(b, off, n)
      if (r > 0) {
        val drop = (keep - base).toInt
        if (drop > 0) {
          System.arraycopy(buf, drop, buf, 0, len - drop)
          len -= drop; base = keep
        }
        if (len + r > buf.length) buf = java.util.Arrays.copyOf(buf, Math.max(buf.length * 2, len + r))
        System.arraycopy(b, off, buf, len, r)
        len += r
      }
      r
    }
    /** Bytes before stream offset `offset` are no longer needed. */
    def release(offset: Long): Unit = keep = Math.min(Math.max(keep, offset), base + len)
    /** The bytes at stream offsets [from, to). */
    def slice(from: Long, to: Long): Array[Byte] =
      java.util.Arrays.copyOfRange(buf, (from - base).toInt, (to - base).toInt)
    override def close(): Unit = in.close()
  }

  /** Current token is the START_OBJECT of one root value. Classify it and
    * return its feature texts as source byte slices; consumes exactly this
    * root object (the returned iterator must be drained before the parser
    * is advanced — [[splitFeatures]] guarantees that). Members seen before
    * the classification are skipped, and the recorder keeps their bytes
    * from the root's start in case the root is one feature. */
  private def splitRootObject(parser: com.fasterxml.jackson.core.JsonParser,
                              rec: Recorder): Iterator[Array[Byte]] = {
    val rootStart = parser.currentTokenLocation().getByteOffset
    var decided: Option[Boolean] = None // Some(true)=collection, Some(false)=single value
    while (decided.isEmpty) {
      val t = parser.nextToken()
      t match {
        case JsonToken.FIELD_NAME if parser.currentName() == "type" =>
          val vt = parser.nextToken()
          if (vt == JsonToken.VALUE_STRING)
            decided = Some(parser.getText == "FeatureCollection")
          else parser.skipChildren() // non-string type: keep scanning
        case JsonToken.FIELD_NAME if parser.currentName() == "features" =>
          // type-less object carrying a features array: treat as collection
          // (the parser stays ON this FIELD_NAME; collection mode recognizes
          // it via currentToken)
          decided = Some(true)
        case JsonToken.FIELD_NAME =>
          parser.nextToken()
          parser.skipChildren()
        case JsonToken.END_OBJECT =>
          decided = Some(false) // no type, no features: one opaque value
        case _ => ()
      }
    }
    if (!decided.get) {
      // single value: skip the rest of the root object (the parser sits at
      // its top level) and slice the whole object
      var atEnd = parser.currentToken() == JsonToken.END_OBJECT
      while (!atEnd) parser.nextToken() match {
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY => parser.skipChildren()
        case JsonToken.END_OBJECT => atEnd = true
        case _ => ()
      }
      return Iterator.single(rec.slice(rootStart, parser.currentLocation().getByteOffset))
    }
    // collection mode: advance (within THIS object) to the top-level
    // "features" array — the members before the decision were skipped
    // whole, so the parser sits at the top level; if the features name was
    // the deciding token we are already on it
    // from here on no byte before the parser's position is needed again
    // except a feature being sliced: drop them token by token
    def dropRead(): Unit = rec.release(parser.currentLocation().getByteOffset)
    val onFeatures = parser.currentToken() == JsonToken.FIELD_NAME &&
      parser.currentName() == "features"
    var found = onFeatures && {
      val nxt = parser.nextToken()
      require(nxt == JsonToken.START_ARRAY, "features must be an array")
      true
    }
    var depth = 1
    var t: JsonToken = null
    while (!found && { t = parser.nextToken(); t != null }) {
      dropRead()
      t match {
        case JsonToken.FIELD_NAME if depth == 1 && parser.currentName() == "features" =>
          val nxt = parser.nextToken()
          require(nxt == JsonToken.START_ARRAY, "features must be an array")
          found = true
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
        case JsonToken.END_OBJECT | JsonToken.END_ARRAY =>
          depth -= 1
          if (depth == 0) return Iterator.empty // FC without features member
        case _ => ()
      }
    }
    if (!found) return Iterator.empty
    dropRead()

    new Iterator[Array[Byte]] {
      private var nextTok = parser.nextToken()
      private var drainedObject = false
      override def hasNext: Boolean = {
        val h = nextTok == JsonToken.START_OBJECT
        if (!h && !drainedObject) {
          // emission stops at the first non-object features element (same
          // behavior as the original splitter); consume the rest of the
          // array and of the collection object (bbox/fm after the features
          // array) so the NEXT root value can follow (RFC 8142 sequences of
          // FeatureCollections)
          var depth = 2 // inside the features array of the root object
          var tk = nextTok
          while (tk != null && depth > 0) {
            tk match {
              case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
              case JsonToken.END_OBJECT | JsonToken.END_ARRAY     => depth -= 1
              case _ => ()
            }
            dropRead()
            if (depth > 0) tk = parser.nextToken()
          }
          drainedObject = true
        }
        h
      }
      override def next(): Array[Byte] = {
        val from = parser.currentTokenLocation().getByteOffset
        parser.skipChildren()
        val to  = parser.currentLocation().getByteOffset
        val out = rec.slice(from, to)
        rec.release(to)
        nextTok = parser.nextToken()
        out
      }
    }
  }
}
