package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.sql.StaticCall

/** Text/vector kernels for the large-scale training-data operators
  * (dedup, similarity, language-ID, fingerprinting). Pure single-pass
  * functions; each SQL function below is a RuntimeReplaceable whose
  * [[StaticCall]] replacement calls one of them.
  */
object TextKernels {

  /** splitmix64 — the standard 64-bit finalizer; used as the seeded hash
    * family for MinHash/SimHash. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rolling 64-bit hash of the char shingle [from, from+n) of s. */
  def shingleHash(s: String, from: Int, n: Int): Long = {
    var h = 1125899906842597L
    var i = from
    val end = from + n
    while (i < end) { h = 31 * h + s.charAt(i); i += 1 }
    mix64(h)
  }

  // affine permutation family h_k(x) = A(k)*x + B(k) (Broder-style): the
  // shingle hash is already avalanche-mixed, so one multiply-add per
  // function replaces a full mix64 — the minhash inner loop is the corpus-
  // wide LSH kernel and this is ~3x of its cost (recall properties
  // re-validated in OpsSpec; identical texts keep identical signatures, so
  // the planted-pair oracles are unaffected by construction)
  private val MaxMinhashFns = 512
  private val MhA: Array[Long] = Array.tabulate(MaxMinhashFns)(k => mix64(0x9E3779B97F4A7C15L * (k + 1)) | 1L)
  private val MhB: Array[Long] = Array.tabulate(MaxMinhashFns)(k => mix64(0xC2B2AE3D27D4EB4FL * (k + 1)))

  /** MinHash signature: for each of numHashes seeded hash functions, the min
    * over all char shingles. Empty/short text → signature of mix64(seed)
    * (stable, matches nothing else in practice). */
  def minhash(s: String, numHashes: Int, shingle: Int): Array[Long] = {
    require(numHashes <= MaxMinhashFns, s"numHashes <= $MaxMinhashFns")
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n   = s.length - shingle
    var i   = 0
    while (i <= n) {
      val base = shingleHash(s, i, shingle)
      var k = 0
      while (k < numHashes) {
        val h = MhA(k) * base + MhB(k)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    if (n < 0) { var k = 0; while (k < numHashes) { sig(k) = mix64(k); k += 1 } }
    sig
  }

  /** 64-bit SimHash over char shingles. */
  def simhash(s: String, shingle: Int): Long = {
    val counts = new Array[Int](64)
    val n = s.length - shingle
    var i = 0
    while (i <= n) {
      val h = shingleHash(s, i, shingle)
      // branchless ±1: hash bits are random, so a conditional here
      // mispredicts half the time — 64 mispredicts/shingle dominated the
      // kernel (measured ~2x)
      var b = 0
      while (b < 64) {
        counts(b) += ((((h >>> b) & 1L) << 1) - 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Jaccard similarity of the two texts' char n-gram sets. */
  def ngramJaccard(a: String, b: String, n: Int): Double = {
    def grams(s: String): java.util.HashSet[Long] = {
      val set = new java.util.HashSet[Long]()
      var i = 0
      while (i <= s.length - n) { set.add(shingleHash(s, i, n)); i += 1 }
      set
    }
    val ga = grams(a); val gb = grams(b)
    if (ga.isEmpty && gb.isEmpty) return 1.0
    var inter = 0
    val it = ga.iterator()
    while (it.hasNext) if (gb.contains(it.next())) inter += 1
    inter.toDouble / (ga.size + gb.size - inter)
  }

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03): k-gram
    * rolling hashes, then the min hash of each window of w consecutive
    * k-grams (rightmost-min tie-break), deduplicated, sorted. */
  def winnow(s: String, k: Int, w: Int): Array[Long] = {
    val m = s.length - k + 1
    if (m <= 0) return Array.empty
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = shingleHash(s, i, k); i += 1 }
    val picked = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) { var j = 0; var best = 0
      while (j < m) { if (hs(j) <= hs(best)) best = j; j += 1 }
      picked.add(hs(best))
    } else {
      var start = 0
      while (start + w <= m) {
        var best = start
        var j = start + 1
        while (j < start + w) { if (hs(j) <= hs(best)) best = j; j += 1 }
        picked.add(hs(best))
        start += 1
      }
    }
    val out = new Array[Long](picked.size)
    val it = picked.iterator(); var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** Exact test for a shared substring of length >= L: hash-index a's
    * L-grams, probe with b's, confirm every hash hit by direct char
    * comparison (regionMatches) — zero false positives, O(|a|+|b|) expected.
    * The verification step of the Lee-et-al-style passage dedup
    * ([[graft.ops.Dedup.sharedPassagePairs]]). */
  def hasCommonSubstring(a: String, b: String, L: Int): Boolean = {
    if (L <= 0) return true
    if (a.length < L || b.length < L) return false
    // index the SHORTER side to bound memory
    val (x, y) = if (a.length <= b.length) (a, b) else (b, a)
    val map = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    var i = 0
    while (i <= x.length - L) {
      val h = java.lang.Long.valueOf(shingleHash(x, i, L))
      var lst = map.get(h)
      if (lst == null) { lst = new java.util.ArrayList[Integer](1); map.put(h, lst) }
      lst.add(i)
      i += 1
    }
    var j = 0
    while (j <= y.length - L) {
      val lst = map.get(java.lang.Long.valueOf(shingleHash(y, j, L)))
      if (lst != null) {
        var k = 0
        while (k < lst.size()) {
          if (x.regionMatches(lst.get(k), y, j, L)) return true
          k += 1
        }
      }
      j += 1
    }
    false
  }

  // ------------------------------------------------------- language ID

  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as", "his", "on", "be"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "sich", "auf"),
    "fr" -> Set("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des", "du", "pas", "au", "avec"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "por", "con", "para", "es", "no"),
    "it" -> Set("il", "la", "di", "che", "e", "un", "una", "per", "non", "sono", "con", "del", "si", "della"),
    "pt" -> Set("o", "a", "os", "as", "de", "que", "e", "um", "uma", "para", "com", "por", "do", "da", "em", "não"),
    "nl" -> Set("de", "het", "een", "en", "van", "ik", "dat", "die", "niet", "aan", "er", "maar", "zijn", "voor"))

  /** n-gram/stopword heuristic language ID: script detection for CJK /
    * Cyrillic / Arabic / Greek / Hangul, stopword voting for Latin-script
    * languages, "und" (undetermined) when nothing scores. */
  def langId(text: String): String = {
    var cjk = 0; var cyr = 0; var ara = 0; var hang = 0; var kana = 0; var gre = 0; var latin = 0
    var i = 0
    val n = math.min(text.length, 4000)
    while (i < n) {
      val c = text.charAt(i).toInt
      if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
      else if (c >= 0x0400 && c <= 0x04ff) cyr += 1
      else if (c >= 0x0600 && c <= 0x06ff) ara += 1
      else if (c >= 0xac00 && c <= 0xd7af) hang += 1
      else if ((c >= 0x3040 && c <= 0x30ff)) kana += 1
      else if (c >= 0x0370 && c <= 0x03ff) gre += 1
      else if ((c | 0x20) >= 'a' && (c | 0x20) <= 'z') latin += 1
      i += 1
    }
    val scripted = Seq("ja" -> kana, "ko" -> hang, "zh" -> cjk, "ru" -> cyr, "ar" -> ara, "el" -> gre)
      .filter(_._2 > n / 20)
    if (scripted.nonEmpty) return scripted.maxBy(_._2)._1
    if (latin == 0) return "und"
    val tokens = text.toLowerCase.split("[^\\p{L}]+").iterator.take(500).toArray
    if (tokens.isEmpty) return "und"
    val scores = stopwords.map { case (lang, sw) => lang -> tokens.count(sw.contains) }
    val (best, hits) = scores.maxBy(_._2)
    if (hits == 0) "und" else best
  }

  /** BPE-ish token count: word chunks + digits + punctuation pieces, long
    * words charged ceil(len/4) subword tokens — a cheap, deterministic
    * stand-in for a real tokenizer's count. */
  private val tokenRe = java.util.regex.Pattern.compile("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]")
  def tokenCountBpe(text: String): Int = {
    val m = tokenRe.matcher(text)
    var count = 0
    while (m.find()) {
      val len = m.end() - m.start()
      count += (if (len <= 4) 1 else (len + 3) / 4)
    }
    count
  }

  /** Java-regex `\s` (the `split(text, "\\s+")` tokenizer's class): ASCII
    * whitespace incl. vertical tab. RE2's `\s` (the DuckDB oracle) omits
    * \x0B — identical on any corpus without vertical tabs. */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Word n-gram multiplicity stats over whitespace tokenization — the
    * intra-document repetition signals of Gopher-style quality filtering
    * (duplicate / most-frequent n-gram measures; we report MULTIPLICITIES,
    * not Gopher's character-coverage fractions — deterministic integers the
    * cross-engine oracle can reproduce exactly). One hashmap pass: O(tokens)
    * per row, vs the O(tokens x distinct) a pure-SQL mode computation costs.
    * Returns (n_grams, n_distinct, top_count); n_grams = max(tokens-n+1, 0).
    */
  def dupNgramStats(text: String, n: Int): InternalRow = {
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) toks.add(text.substring(start, i))
    }
    val nGrams = math.max(toks.size - n + 1, 0)
    val counts = new java.util.HashMap[String, Integer]()
    var top = 0
    var g = 0
    while (g < nGrams) {
      val key =
        if (n == 1) toks.get(g)
        else {
          val sb = new java.lang.StringBuilder(toks.get(g))
          var j = 1
          while (j < n) { sb.append(' ').append(toks.get(g + j)); j += 1 }
          sb.toString
        }
      val c = counts.merge(key, 1, (a, b) => a + b)
      if (c > top) top = c
      g += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nGrams, counts.size, top))
  }

  /** Whitespace word n-grams of an (already lower-cased) text in ONE pass —
    * the array-producing sibling of [[dupNgramStats]], for corpus-level
    * n-gram statistics. Lives in a kernel rather than
    * transform/sequence/element_at lambdas: higher-order functions are
    * CodegenFallback, and the interpreted lambda chain costs ~µs per gram
    * (measured 5x the whole q68 aggregation) while also ejecting sibling
    * expressions from whole-stage codegen. */
  def wordNgramArray(text: String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(text.charAt(i))) i += 1
      if (i > start) toks.add(text.substring(start, i))
    }
    val m = math.max(toks.size - n + 1, 0)
    val out = new Array[Any](m)
    var g = 0
    while (g < m) {
      val key =
        if (n == 1) toks.get(g)
        else {
          val sb = new java.lang.StringBuilder(toks.get(g))
          var j = 1
          while (j < n) { sb.append(' ').append(toks.get(g + j)); j += 1 }
          sb.toString
        }
      out(g) = UTF8String.fromString(key)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Line repetition stats: split on '\n', keep segments that are non-blank
    * after space-trim (RAW segments compare/measure — parity with the
    * declarative `filter(split(t,"\n"), trim(l) > 0)` shape), then
    * (n_lines, n_dup_lines, dup_line_chars) where dup chars are the
    * characters carried by occurrences AFTER the first of each distinct
    * line. One hashmap pass; lives in a kernel (not array lambdas) because
    * higher-order functions are CodegenFallback and would eject the whole
    * repetition projection from whole-stage codegen. */
  def dupLineStats(text: String): InternalRow = {
    val seen = new java.util.HashSet[String]()
    var nLines = 0; var nDup = 0; var dupChars = 0
    var i = 0
    val len = text.length
    while (i <= len) {
      var end = text.indexOf('\n', i)
      if (end < 0) end = len
      // blank check: space-trim only (Spark/DuckDB trim semantics)
      var a = i; var b = end
      while (a < b && text.charAt(a) == ' ') a += 1
      while (b > a && text.charAt(b - 1) == ' ') b -= 1
      if (b > a) {
        val line = text.substring(i, end) // RAW segment
        nLines += 1
        if (!seen.add(line)) { nDup += 1; dupChars += line.length }
      }
      i = end + 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, nDup, dupChars))
  }

  // ---------------------------------------------------------- vectors

  /** ArrayData-typed kernel so codegen can call it without conversion
    * boilerplate (brute-force ANN hot path). */
  def cosineAD(a: org.apache.spark.sql.catalyst.util.ArrayData,
               b: org.apache.spark.sql.catalyst.util.ArrayData): Double =
    cosine(a.toFloatArray(), b.toFloatArray())

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  // ---- int8 embedding quantization (QV1 payloads) -----------------------
  // layout: [4-byte IEEE-754 scale, big-endian | dim int8 components];
  // component i reconstructs as int8 * scale, scale = maxAbs / 127.

  def vecQuantize(v: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n  = v.numElements()
    var mx = 0.0f
    var i  = 0
    while (i < n) { val a = math.abs(v.getFloat(i)); if (a > mx) mx = a; i += 1 }
    val scale = if (mx == 0.0f) 0.0f else mx / 127.0f
    val out = new Array[Byte](4 + n)
    val bits = java.lang.Float.floatToIntBits(scale)
    out(0) = (bits >> 24).toByte; out(1) = (bits >> 16).toByte
    out(2) = (bits >> 8).toByte; out(3) = bits.toByte
    if (scale > 0.0f) {
      i = 0
      while (i < n) {
        val q = math.rint(v.getFloat(i) / scale)
        out(4 + i) = math.max(-127.0, math.min(127.0, q)).toInt.toByte
        i += 1
      }
    }
    out
  }

  private def qScale(b: Array[Byte]): Float =
    java.lang.Float.intBitsToFloat(
      ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) | ((b(2) & 0xff) << 8) | (b(3) & 0xff))

  def vecDequantize(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val scale = qScale(b)
    val out = new Array[Float](b.length - 4)
    var i = 0
    while (i < out.length) { out(i) = b(4 + i) * scale; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine DIRECTLY on quantized payloads: per-vector scales cancel in the
    * cosine, so this is pure int64 arithmetic + one sqrt — exactly
    * cosine(dequantize(a), dequantize(b)), without materializing floats. */
  def vecCosineQ(a: Array[Byte], b: Array[Byte]): Double = {
    // dimensions must agree — silently truncating to the shorter payload
    // returns a plausible-but-wrong cosine on a schema mix-up; fail loudly
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"vec_cosine_q: QV1 payload dimension mismatch (${a.length - 4} vs ${b.length - 4})")
    val n = a.length - 4
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 4
    val end = 4 + n
    while (i < end) {
      val x = a(i).toLong; val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0 else dot / math.sqrt(na.toDouble * nb.toDouble)
  }

  // Catalyst-signature entry points (UTF8String/ArrayData in, Catalyst
  // types out): each text function's StaticCall replacement calls one, so
  // the interpreted and the generated path run the same code
  def minhashArray(t: UTF8String, n: Int, sh: Int): GenericArrayData =
    new GenericArrayData(minhash(t.toString, n, sh))
  def simhash(t: UTF8String, sh: Int): Long = simhash(t.toString, sh)
  def winnowArray(t: UTF8String, k: Int, w: Int): GenericArrayData =
    new GenericArrayData(winnow(t.toString, k, w))
  def langIdU(t: UTF8String): UTF8String = UTF8String.fromString(langId(t.toString))
  def tokenCountBpe(t: UTF8String): Int = tokenCountBpe(t.toString)
  def dupNgramStats(t: UTF8String, n: Int): InternalRow = dupNgramStats(t.toString, n)
  def dupLineStats(t: UTF8String): InternalRow = dupLineStats(t.toString)
  /** Lower-cases with UTF8String.toLowerCase — identical to the built-in
    * `lower`, so column-lambda and kernel tokenizations coincide. */
  def wordNgramArray(t: UTF8String, n: Int): GenericArrayData =
    wordNgramArray(t.toLowerCase.toString, n)
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double =
    ngramJaccard(a.toString, b.toString, n)
  def commonSubstring(a: UTF8String, b: UTF8String, len: Int): Boolean =
    hasCommonSubstring(a.toString, b.toString, len)
  def hyperplaneSigAd(v: org.apache.spark.sql.catalyst.util.ArrayData,
                      bits: Int, seed: Long): Long =
    hyperplaneSig(v.toFloatArray(), bits, seed)

  /** Random-hyperplane (sign-random-projection) LSH signature: bit k set iff
    * dot(v, h_k) >= 0, with hyperplane components ±1 derived from mix64 —
    * the standard cosine-LSH family, fully deterministic from `seed`. */
  def hyperplaneSig(v: Array[Float], bits: Int, seed: Long): Long = {
    var sig = 0L
    var k = 0
    while (k < bits) {
      var dot = 0.0
      var i = 0
      while (i < v.length) {
        val h = mix64(seed ^ (k.toLong << 32) ^ i.toLong)
        dot += (if ((h & 1L) == 0L) v(i) else -v(i))
        i += 1
      }
      if (dot >= 0) sig |= (1L << k)
      k += 1
    }
    sig
  }
}

// --------------------------------------------------------------- exprs

case class MinHashSig(text: Expression, numHashes: Expression, shingle: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text, numHashes, shingle)
  override def inputTypes = Seq(StringType, IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(TextKernels,
    ArrayType(LongType, containsNull = false), "minhashArray", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

case class SimHash64(text: Expression, shingle: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text, shingle)
  override def inputTypes = Seq(StringType, IntegerType)
  override lazy val replacement: Expression = StaticCall(TextKernels, LongType, "simhash", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class NgramJaccard(a: Expression, b: Expression, n: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b, n)
  override def inputTypes = Seq(StringType, StringType, IntegerType)
  override lazy val replacement: Expression =
    StaticCall(TextKernels, DoubleType, "ngramJaccard", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

case class WinnowFingerprint(text: Expression, k: Expression, w: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text, k, w)
  override def inputTypes = Seq(StringType, IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(TextKernels,
    ArrayType(LongType, containsNull = false), "winnowArray", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** `common_substring(a, b, len)` — true iff the two texts share a verified
  * (char-exact) common substring of at least `len` characters. */
case class CommonSubstring(a: Expression, b: Expression, len: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b, len)
  override def inputTypes = Seq(StringType, StringType, IntegerType)
  override lazy val replacement: Expression =
    StaticCall(TextKernels, BooleanType, "commonSubstring", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

case class LangIdExpr(text: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression = StaticCall(TextKernels, StringType, "langIdU", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class TokenCountBpe(text: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression =
    StaticCall(TextKernels, IntegerType, "tokenCountBpe", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `mix64(x)` → SplitMix64 finalizer over a 64-bit value: the engine's
  * standard avalanche hash (winnowing, shingles) exposed as a scalar —
  * use it to derive hash inputs for [[Sketches]] or ANSI-safe seeds
  * (Column arithmetic with big literal multipliers overflows under ANSI;
  * this kernel wraps). Bit-reproducible in SQL (the q66 HUGEINT replay). */
case class Mix64Expr(x: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(x)
  override def inputTypes = Seq(LongType)
  override lazy val replacement: Expression = StaticCall(TextKernels, LongType, "mix64", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `word_ngrams(text, n)` → array<string> of lower-cased whitespace word
  * n-grams, one kernel pass ([[TextKernels.wordNgramArray]]). */
case class WordNgrams(text: Expression, n: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text, n)
  override def inputTypes = Seq(StringType, IntegerType)
  override lazy val replacement: Expression = StaticCall(TextKernels,
    ArrayType(StringType, containsNull = false), "wordNgramArray", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `dup_ngram_stats(text, n)` → struct<n_grams int, n_distinct int,
  * top_count int> over whitespace word n-grams — the intra-document
  * repetition signals of Gopher-style quality filters; a narrow map over
  * the whole corpus ([[TextOps.withRepetition]]). */
case class DupNgramStats(text: Expression, n: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text, n)
  override def inputTypes = Seq(StringType, IntegerType)
  override lazy val replacement: Expression = StaticCall(TextKernels, StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false))), "dupNgramStats", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `dup_line_stats(text)` → struct<n_lines int, n_dup_lines int,
  * dup_line_chars int> — the line half of the repetition signals. */
case class DupLineStats(text: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(text)
  override def inputTypes = Seq(StringType)
  override lazy val replacement: Expression = StaticCall(TextKernels, StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_dup_lines", IntegerType, nullable = false),
    StructField("dup_line_chars", IntegerType, nullable = false))), "dupLineStats", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** Cosine over array<float> columns (embeddings). */
case class VecCosine(a: Expression, b: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override lazy val replacement: Expression = StaticCall(TextKernels, DoubleType, "cosineAD", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `vec_quantize(vec)` → QV1 int8 payload (4-byte scale header + dim
  * bytes): the 4x embedding-storage cut of production vector stores. */
case class VecQuantize(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(ArrayType(FloatType))
  override lazy val replacement: Expression = StaticCall(TextKernels, BinaryType, "vecQuantize", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `vec_dequantize(bytes)` → array<float> reconstruction. */
case class VecDequantize(child: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(BinaryType)
  override lazy val replacement: Expression = StaticCall(TextKernels,
    ArrayType(FloatType, containsNull = false), "vecDequantize", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** `vec_cosine_q(a, b)` → cosine directly on QV1 payloads (scales cancel:
  * pure integer dot/norms, no float materialization — the EXACT cosine of
  * the quantized values; a float32 dequantize-then-cosine agrees to ~1e-7,
  * the reconstruction's own rounding). */
case class VecCosineQ(a: Expression, b: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(a, b)
  override def inputTypes = Seq(BinaryType, BinaryType)
  override lazy val replacement: Expression = StaticCall(TextKernels, DoubleType, "vecCosineQ", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class HyperplaneSig(vec: Expression, bits: Expression, seed: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(vec, bits, seed)
  override def inputTypes = Seq(ArrayType(FloatType), IntegerType, LongType)
  override lazy val replacement: Expression =
    StaticCall(TextKernels, LongType, "hyperplaneSigAd", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
}

/** Registration + Column API. */
object TextFunctions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.call_function

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "mix64"         -> (es => Mix64Expr(es.head)),
    "minhash_sig"   -> (es => MinHashSig(es(0), es(1), es(2))),
    "simhash64"     -> (es => SimHash64(es(0), es(1))),
    "ngram_jaccard" -> (es => NgramJaccard(es(0), es(1), es(2))),
    "winnow_fp"     -> (es => WinnowFingerprint(es(0), es(1), es(2))),
    "common_substring" -> (es => CommonSubstring(es(0), es(1), es(2))),
    "lang_id"       -> (es => LangIdExpr(es.head)),
    "token_count_bpe" -> (es => TokenCountBpe(es.head)),
    "dup_ngram_stats" -> (es => DupNgramStats(es(0), es(1))),
    "word_ngrams"   -> (es => WordNgrams(es(0), es(1))),
    "dup_line_stats"  -> (es => DupLineStats(es.head)),
    "vec_cosine"    -> (es => VecCosine(es(0), es(1))),
    "vec_quantize"   -> (es => VecQuantize(es.head)),
    "vec_dequantize" -> (es => VecDequantize(es.head)),
    "vec_cosine_q"   -> (es => VecCosineQ(es(0), es(1))),
    "hyperplane_sig" -> (es => HyperplaneSig(es(0), es(1), es(2))),
    "pq_encode"      -> (es => PqEncode(es)),
    "pq_lut"         -> (es => PqLut(es(0), es(1), es(2), es(3))),
    "pq_adc"         -> (es => PqAdc(es(0), es(1))),
    "pq_code_at"     -> (es => PqCodeAt(es(0), es(1))))

  def register(spark: SparkSession): Unit = StaticCall.register(spark, builders)

  def mix64_col(x: Column): Column = call_function("mix64", x)
  def minhash_sig(text: Column, numHashes: Column, shingle: Column): Column =
    call_function("minhash_sig", text, numHashes, shingle)
  def simhash64(text: Column, shingle: Column): Column = call_function("simhash64", text, shingle)
  def ngram_jaccard(a: Column, b: Column, n: Column): Column = call_function("ngram_jaccard", a, b, n)
  def winnow_fp(text: Column, k: Column, w: Column): Column = call_function("winnow_fp", text, k, w)
  def common_substring(a: Column, b: Column, len: Column): Column =
    call_function("common_substring", a, b, len)
  def lang_id(text: Column): Column = call_function("lang_id", text)
  def token_count_bpe(text: Column): Column = call_function("token_count_bpe", text)
  def word_ngrams(text: Column, n: Column): Column =
    call_function("word_ngrams", text, n)
  def dup_ngram_stats(text: Column, n: Column): Column =
    call_function("dup_ngram_stats", text, n)
  def dup_line_stats(text: Column): Column = call_function("dup_line_stats", text)
  def vec_cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)
  def vec_quantize(v: Column): Column   = call_function("vec_quantize", v)
  def vec_dequantize(b: Column): Column = call_function("vec_dequantize", b)
  def vec_cosine_q(a: Column, b: Column): Column = call_function("vec_cosine_q", a, b)
  def hyperplane_sig(vec: Column, bits: Column, seed: Column): Column =
    call_function("hyperplane_sig", vec, bits, seed)
  def pq_encode(vec: Column, books: Column, m: Column, dsub: Column, rest: Column*): Column =
    call_function("pq_encode", (Seq(vec, books, m, dsub) ++ rest): _*)
  def pq_lut(vec: Column, books: Column, m: Column, dsub: Column): Column =
    call_function("pq_lut", vec, books, m, dsub)
  def pq_adc(lut: Column, code: Column): Column = call_function("pq_adc", lut, code)
  def pq_code_at(code: Column, j: Column): Column = call_function("pq_code_at", code, j)
}
