package graft.ops

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.{Expression, If, ImplicitCastInputTypes, LessThanOrEqual, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{call_function, udaf}
import org.apache.spark.sql.types._

import graft.geo.sql.StaticCall

/** Static kernels of the sketch SQL functions (the MmRuntime/GeoRuntime
  * pattern: each function's [[StaticCall]] replacement calls one). */
object SketchRuntime {

  /** HyperLogLog estimate from a register blob (m = regs.length, a power
    * of two): the Flajolet–Fusy–Gandouet–Meunier estimator with the
    * small-range linear-counting correction. The 64-bit hash space makes
    * the classic large-range correction unnecessary at any realistic
    * cardinality. Standard error ≈ 1.04/√m (p=12 ⇒ ~1.6%). */
  def hllEstimate(regs: Array[Byte]): Double = {
    val m = regs.length
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var inv   = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      inv += java.lang.Double.longBitsToDouble((1023L - (regs(i) & 0xff)) << 52) // 2^-reg
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * m * m / inv
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  /** Register blob → ARRAY<INT> for inspection / oracle explosion. */
  def hllRegisters(regs: Array[Byte]): ArrayData =
    new GenericArrayData(regs.map(b => (b & 0xff): Any))

  /** The i-th Bloom bit position of a 64-bit hash: classic double hashing
    * pos_i = (h + i·mix64(h)) mod m with m a power of two — wrapping
    * arithmetic only, so the positions replay exactly in SQL. */
  def bloomPos(hash: Long, i: Int, mBits: Int): Int =
    ((hash + i.toLong * TextKernels.mix64(hash)) & (mBits - 1)).toInt

  /** CountMin point estimate: min over the d rows' probed counters. */
  def cmsEstimate(counters: ArrayData, hash: Long, d: Int): Long = {
    val w = counters.numElements() / d
    var best = Long.MaxValue
    var i = 0
    while (i < d) {
      val v = counters.getLong(i * w + bloomPos(hash, i, w))
      if (v < best) best = v
      i += 1
    }
    best
  }

  /** KLL quantile query over a COMPACT sketch blob ([k, L, n, sizes…,
    * sorted levels…]; level ℓ items weigh 2^ℓ): the smallest stored value
    * whose cumulative weight reaches max(1, ceil(q·n)) — percentile_disc
    * semantics, exact when the sketch never compacted; null when empty. */
  def kllQuantile(sk: ArrayData, q: Double): Any =
    if (kllN(sk) <= 0) null else kllQuantileLong(sk, q)

  /** Total weighted count n of a compact sketch blob. */
  def kllN(sk: ArrayData): Long = sk.getLong(2)

  /** [[kllQuantile]]'s non-empty kernel: requires n > 0 (callers guard).
    * Long-returning, so a call site assigns it into a primitive slot; the
    * SQL function composes the empty-sketch null guard around it. */
  def kllQuantileLong(sk: ArrayData, q: Double): Long = {
    val l = sk.getLong(1).toInt
    val n = sk.getLong(2)
    val target = math.max(1L, math.ceil(q * n).toLong)
    // k-way merge over the (already sorted) levels
    val pos  = new Array[Int](l)
    val offs = new Array[Int](l)
    var o = 3 + l
    var i = 0
    while (i < l) { offs(i) = o; o += sk.getLong(3 + i).toInt; i += 1 }
    var cum  = 0L
    var last = 0L
    var more = true
    while (more) {
      var best = -1
      var bv   = Long.MaxValue
      i = 0
      while (i < l) {
        if (pos(i) < sk.getLong(3 + i).toInt) {
          val v = sk.getLong(offs(i) + pos(i))
          if (v < bv) { bv = v; best = i }
        }
        i += 1
      }
      if (best < 0) more = false
      else {
        cum += 1L << best
        last = bv
        pos(best) += 1
        if (cum >= target) return last
      }
    }
    last // q beyond the stored mass: the maximum stored value
  }

  /** KLL rank query: estimated #values strictly below v (weighted count of
    * stored items < v). */
  def kllRank(sk: ArrayData, value: Long): Long = {
    val l = sk.getLong(1).toInt
    var o = 3 + l
    var rank = 0L
    var i = 0
    while (i < l) {
      val m = sk.getLong(3 + i).toInt
      var lo = 0; var hi = m
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sk.getLong(o + mid) < value) lo = mid + 1 else hi = mid
      }
      rank += lo.toLong << i
      o += m
      i += 1
    }
    rank
  }

  /** Membership test against a Bloom bitset blob (k double-hash probes).
    * False negatives: never. False positives: the standard Bloom rate —
    * and DETERMINISTIC, so an oracle replays them bit-for-bit. */
  def bloomContains(bits: Array[Byte], hash: Long, k: Int): Boolean = {
    val m = bits.length * 8
    var i = 0
    while (i < k) {
      val p = bloomPos(hash, i, m)
      if ((bits(p >> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** Mergeable cardinality sketches for corpus statistics at 10^12-row
  * scale, where exact `count(DISTINCT …)` forces a full shuffle of every
  * distinct value: a HyperLogLog register blob is 2^p bytes per group,
  * partial-aggregates map-side (the only exchange carries sketches, never
  * values), persists as a plain BINARY column, and merges EXACTLY
  * (element-wise max is associative + idempotent — shard-partials then
  * [[hll_merge]] is byte-identical to the one-shot sketch, the
  * [[CorpusStats.appendNgramShard]] accumulation pattern extended to
  * distinct counts).
  *
  * The caller supplies the 64-bit hash column (e.g. `mix64(xxhash64(x))`
  * or [[TextFunctions.mix64_col]]), keeping the sketch engine-reproducible:
  * bucket = top p bits, rho = leading zeros of the remaining bits + 1
  * (capped at 64-p+1 when they are all zero).
  */
object Sketches {

  /** bucket/rho update of a register blob, shared by both aggregators. */
  private def update(regs: Array[Byte], hash: Long, p: Int): Unit = {
    val bucket = (hash >>> (64 - p)).toInt
    val w      = hash << p
    val rho    = if (w == 0L) 64 - p + 1 else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rho > (regs(bucket) & 0xff)) regs(bucket) = rho.toByte
  }

  /** Sketch 64-bit hashes into 2^p registers (BINARY output). */
  final class HllAggregator(p: Int) extends Aggregator[Long, Array[Byte], Array[Byte]] {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def reduce(b: Array[Byte], hash: Long): Array[Byte] = { update(b, hash, p); b }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) {
        if ((b(i) & 0xff) > (a(i) & 0xff)) a(i) = b(i)
        i += 1
      }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Merge persisted sketches (shard partials → the corpus sketch). */
  final class HllMergeAggregator(p: Int) extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    private val agg = new HllAggregator(p)
    override def zero: Array[Byte] = agg.zero
    override def reduce(b: Array[Byte], sk: Array[Byte]): Array[Byte] = {
      if (sk == null) return b // ignore-nulls semantics (a shard with a null partial)
      require(sk.length == b.length, s"sketch p mismatch: ${sk.length} vs ${b.length} registers")
      agg.merge(b, sk)
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = agg.merge(a, b)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build a Bloom bitset over 64-bit hashes: mBits a power of two,
    * k double-hash probes per value. Merge = bitwise OR — associative +
    * idempotent, so shard partials OR together byte-identically to the
    * one-shot filter. The persisted blob is mBits/8 bytes; at 10^12 rows a
    * benchmark-membership filter becomes one broadcast blob + a codegen
    * probe per row instead of an exact-set join. */
  final class BloomAggregator(mBits: Int, k: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, s"mBits must be a power of two >= 64, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    override def zero: Array[Byte] = new Array[Byte](mBits / 8)
    override def reduce(b: Array[Byte], hash: Long): Array[Byte] = {
      var i = 0
      while (i < k) {
        val p = SketchRuntime.bloomPos(hash, i, mBits)
        b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte
        i += 1
      }
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Output/buffer wrapper for the CountMin counters (product encoder). */
  final case class CmsBuf(v: Array[Long])

  /** Count-Min frequency sketch over 64-bit key hashes: d rows × w
    * counters (w a power of two), row i's bucket from the same double
    * hashing as [[BloomAggregator]] (pos_i = (h + i·mix64(h)) mod w —
    * wrapping arithmetic, SQL-replayable). Merge = element-wise SUM
    * (associative: shard partials sum to the one-shot sketch exactly);
    * point estimate = min over rows — an OVERESTIMATE, never under, with
    * error ≤ 2N/w at confidence 1 − 2^−d. The d·w·8-byte blob
    * partial-aggregates map-side, so frequency tables over 10^12 rows ship
    * kilobytes per group instead of shuffling keys. */
  final class CmsAggregator(w: Int, d: Int)
      extends Aggregator[Long, CmsBuf, CmsBuf] {
    require(w >= 64 && (w & (w - 1)) == 0, s"w must be a power of two >= 64, got $w")
    require(d >= 1 && d <= 8, s"d must be in [1, 8], got $d")
    override def zero: CmsBuf = CmsBuf(new Array[Long](d * w))
    override def reduce(b: CmsBuf, hash: Long): CmsBuf = {
      var i = 0
      while (i < d) { b.v(i * w + SketchRuntime.bloomPos(hash, i, w)) += 1; i += 1 }
      b
    }
    override def merge(a: CmsBuf, b: CmsBuf): CmsBuf = {
      var i = 0
      while (i < a.v.length) { a.v(i) += b.v(i); i += 1 }
      a
    }
    override def finish(r: CmsBuf): CmsBuf = r
    override def bufferEncoder: Encoder[CmsBuf] = Encoders.product[CmsBuf]
    override def outputEncoder: Encoder[CmsBuf] = Encoders.product[CmsBuf]
  }

  /** `cms_estimate(counters, hash, d)` → min-over-rows point frequency
    * estimate (LONG; w = counters.length / d). */
  case class CmsEstimate(counters: Expression, hash: Expression, d: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(counters, hash, d)
    override def inputTypes = Seq(ArrayType(LongType), LongType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(SketchRuntime, LongType, "cmsEstimate", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
  }

  /** `bloom_contains(bits, hash, k)` → membership (BOOLEAN; no false
    * negatives, deterministic false positives). */
  case class BloomContains(bits: Expression, hash: Expression, k: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bits, hash, k)
    override def inputTypes = Seq(BinaryType, LongType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(SketchRuntime, BooleanType, "bloomContains", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
  }

  /** `hll_estimate(sketch)` → approximate distinct count (DOUBLE). */
  case class HllEstimate(sketch: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(sketch)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(SketchRuntime, DoubleType, "hllEstimate", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `hll_registers(sketch)` → ARRAY<INT> register values. */
  case class HllRegisters(sketch: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(sketch)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression = StaticCall(SketchRuntime,
      ArrayType(IntegerType, containsNull = false), "hllRegisters", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  // -------------------------------------------------- KLL quantile sketch

  /** Mergeable QUANTILE sketch (KLL-style compactor stack) — the fourth
    * sketch: percentiles over UNBOUNDED value domains at 10^12 rows, where
    * [[CorpusStats.corpusProfile]]'s value histogram needs a bounded domain
    * and exact `percentile_disc` buffers every value through the exchange.
    *
    * Structure: levels of sorted LONG arrays, level ℓ items carry weight
    * 2^ℓ; a level reaching capacity k compacts — keep every second item
    * (offset derived from `mix64` of the level's extreme items, the
    * engine's replayable-randomness discipline: DETERMINISTIC, content-
    * seeded, no RNG state) and push the survivors up one level. Space is
    * O(k·log(n/k)) longs per group; rank error grows O(levels/k)·n.
    *
    * EXACT MODE: while a sketch has seen ≤ k values everything sits in
    * level 0 and merge is a sorted multiset union — byte-identical
    * regardless of Spark's partial-aggregation merge order, which is what
    * the q91 oracle replays (`percentile_disc` semantics below). Beyond k,
    * merges remain deterministic in operand content but not merge-order
    * invariant (inherent to compacting quantile sketches); the rank-error
    * bound is what survives any order, spec-pinned in OpsSpec.
    *
    * Query semantics: `kll_quantile(sk, q)` = the smallest stored value
    * whose cumulative weight reaches max(1, ceil(q·n)) — exactly
    * `percentile_disc(q)` when the sketch is exact. `kll_rank(sk, v)` =
    * estimated #values < v. */
  final case class KllBuf(v: Array[Long])

  /** Flat slack layout while aggregating: [k, L, n, m_0..m_{L-1},
    * level0 (k slots), level1 (k slots), …]; levels sorted ascending in
    * their first m_ℓ slots. Compact layout (stored): [k, L, n, sizes…,
    * trimmed levels…]. */
  private object KllOps {
    def emptySlack(k: Int): Array[Long] = {
      val v = new Array[Long](3 + 1 + k)
      v(0) = k; v(1) = 1; v(2) = 0L; v(3) = 0L
      v
    }
    @inline private def levelOff(v: Array[Long], l: Int): Int =
      3 + v(1).toInt + l * v(0).toInt

    /** Sorted in-place insert into level 0; cascading compaction. Returns
      * the (possibly re-allocated) buffer. */
    def insert(v0: Array[Long], value: Long): Array[Long] = {
      var v = v0
      val k = v(0).toInt
      if (v(3) == k) v = compactCascade(v)
      val m   = v(3).toInt
      val off = levelOff(v, 0)
      var lo = 0; var hi = m
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v(off + mid) < value) lo = mid + 1 else hi = mid
      }
      System.arraycopy(v, off + lo, v, off + lo + 1, m - lo)
      v(off + lo) = value
      v(3) += 1
      v(2) += 1
      v
    }

    /** Compact every full level bottom-up (adds a level when the top one
      * fills). Deterministic: the kept parity comes from mix64 of the
      * level's extreme items. */
    def compactCascade(v0: Array[Long]): Array[Long] = {
      var v = v0
      val k = v(0).toInt
      var l = 0
      while (l < v(1).toInt) {
        if (v(3 + l) >= k) v = compactLevel(v, l)
        l += 1
      }
      v
    }

    /** Compact level l (halve it upward), first making room above —
      * recursion depth is the level count. */
    private def compactLevel(v0: Array[Long], l: Int): Array[Long] = {
      var v = v0
      val k = v(0).toInt
      val m = v(3 + l).toInt
      if (m < 2) return v
      if (l + 1 == v(1).toInt) v = addLevel(v)
      if (v(3 + l + 1).toInt + m / 2 > k) v = compactLevel(v, l + 1)
      val off  = levelOff(v, l)
      val seed = TextKernels.mix64(v(off) * 31 + v(off + m - 1) + l)
      val keepOdd = (seed & 1L) == 1L
      val kept = Array.tabulate(m / 2)(i => v(off + 2 * i + (if (keepOdd) 1 else 0)))
      // weight accounting: m items of weight 2^l become m/2 of 2^(l+1); an
      // odd straggler (m odd) stays at level l
      val stray = m - (m / 2) * 2
      if (stray == 1) v(off) = v(off + (if (keepOdd) 0 else m - 1))
      v(3 + l) = stray
      mergeIntoLevel(v, l + 1, kept)
      v
    }

    private def addLevel(v: Array[Long]): Array[Long] = {
      val k = v(0).toInt; val nl = v(1).toInt
      val out = new Array[Long](3 + (nl + 1) + (nl + 1) * k)
      out(0) = k; out(1) = nl + 1; out(2) = v(2)
      var l = 0
      while (l < nl) { out(3 + l) = v(3 + l); l += 1 }
      out(3 + nl) = 0
      l = 0
      while (l < nl) {
        System.arraycopy(v, 3 + nl + l * k, out, 3 + nl + 1 + l * k, v(3 + l).toInt)
        l += 1
      }
      out
    }

    /** Merge a sorted array into level l's sorted slots (capacity k is
      * guaranteed by the caller's cascade order: l compacts before l+1 is
      * topped up, and k/2 incoming never overflows a just-compacted
      * level). */
    private def mergeIntoLevel(v: Array[Long], l: Int, add: Array[Long]): Unit = {
      val off = levelOff(v, l)
      val m   = v(3 + l).toInt
      var i = m - 1; var j = add.length - 1; var o = m + add.length - 1
      while (j >= 0) {
        if (i >= 0 && v(off + i) > add(j)) { v(off + o) = v(off + i); i -= 1 }
        else { v(off + o) = add(j); j -= 1 }
        o -= 1
      }
      v(3 + l) = m + add.length
    }

    /** Merge another sketch (slack OR compact layout) into a slack buffer. */
    def mergeSketch(v0: Array[Long], other: Array[Long], otherCompact: Boolean): Array[Long] = {
      var v = v0
      val k = v(0).toInt
      require(other(0).toInt == k, s"kll k mismatch: ${other(0)} vs $k")
      val oL = other(1).toInt
      while (v(1).toInt < oL) v = addLevel(v)
      var l = 0
      var coff = 3 + oL // compact layout read cursor
      while (l < oL) {
        val om = other(3 + l).toInt
        val ooff = if (otherCompact) coff else 3 + oL + l * k
        if (om > 0) {
          val add = java.util.Arrays.copyOfRange(other, ooff, ooff + om)
          // room check: level may exceed k after merge — compact first
          if (v(3 + l).toInt + om > k) v = compactCascade(v)
          if (v(3 + l).toInt + om > k) {
            // incoming alone still over k: fall back to ONE-AT-A-TIME sorted
            // inserts (each a binary search + arraycopy, compacting whenever
            // the level fills) — O(m·k) worst case per level, acceptable
            // because this path only triggers when a single incoming level
            // exceeds k after a fresh cascade (om > k/2), which bounds it to
            // O(levels) occurrences per merge
            var i = 0
            while (i < add.length) {
              v = insertAtLevel(v, l, add(i)); i += 1
            }
          } else mergeIntoLevel(v, l, add)
        }
        coff += om
        l += 1
      }
      v(2) += other(2)
      compactCascade(v)
    }

    private def insertAtLevel(v0: Array[Long], l: Int, value: Long): Array[Long] = {
      var v = v0
      if (v(3 + l).toInt == v(0).toInt) v = compactCascade(v)
      val off = levelOff(v, l)
      val m   = v(3 + l).toInt
      var lo = 0; var hi = m
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v(off + mid) < value) lo = mid + 1 else hi = mid
      }
      System.arraycopy(v, off + lo, v, off + lo + 1, m - lo)
      v(off + lo) = value
      v(3 + l) += 1
      v
    }

    /** Slack → canonical compact serialization. */
    def toCompact(v: Array[Long]): Array[Long] = {
      val k = v(0).toInt; val nl = v(1).toInt
      // trim empty top levels for canonical bytes
      var topL = nl
      while (topL > 1 && v(3 + topL - 1) == 0) topL -= 1
      var total = 0
      var l = 0
      while (l < topL) { total += v(3 + l).toInt; l += 1 }
      val out = new Array[Long](3 + topL + total)
      out(0) = k; out(1) = topL; out(2) = v(2)
      var o = 3 + topL
      l = 0
      while (l < topL) {
        val m = v(3 + l).toInt
        out(3 + l) = m
        System.arraycopy(v, 3 + nl + l * k, out, o, m)
        o += m
        l += 1
      }
      out
    }

    /** Compact → slack (for the merge aggregator's zero-start reduce). */
    def toSlack(c: Array[Long]): Array[Long] = {
      val k = c(0).toInt; val nl = c(1).toInt
      val out = new Array[Long](3 + nl + nl * k)
      out(0) = k; out(1) = nl; out(2) = c(2)
      var o = 3 + nl
      var l = 0
      while (l < nl) {
        val m = c(3 + l).toInt
        out(3 + l) = m
        System.arraycopy(c, o, out, 3 + nl + l * k, m)
        o += m
        l += 1
      }
      out
    }
  }

  /** Sketch raw LONG values into a KLL compactor stack (compact ARRAY<LONG>
    * output via the [[KllBuf]] struct — probe with `kll_quantile` /
    * `kll_rank` / `kll_n` on the `.v` column). */
  final class KllAggregator(k: Int) extends Aggregator[Long, KllBuf, KllBuf] {
    require(k >= 8 && k % 2 == 0, s"k must be an even number >= 8, got $k")
    override def zero: KllBuf = KllBuf(KllOps.emptySlack(k))
    override def reduce(b: KllBuf, value: Long): KllBuf =
      KllBuf(KllOps.insert(b.v, value))
    override def merge(a: KllBuf, b: KllBuf): KllBuf =
      KllBuf(KllOps.mergeSketch(a.v, b.v, otherCompact = false))
    override def finish(r: KllBuf): KllBuf = KllBuf(KllOps.toCompact(r.v))
    override def bufferEncoder: Encoder[KllBuf] = Encoders.product[KllBuf]
    override def outputEncoder: Encoder[KllBuf] = Encoders.product[KllBuf]
  }

  /** Merge persisted compact sketches (shard partials → corpus sketch).
    * Null partials are skipped (ignore-nulls aggregate semantics). */
  final class KllMergeAggregator(k: Int) extends Aggregator[Array[Long], KllBuf, KllBuf] {
    require(k >= 8 && k % 2 == 0, s"k must be an even number >= 8, got $k")
    override def zero: KllBuf = KllBuf(KllOps.emptySlack(k))
    override def reduce(b: KllBuf, sk: Array[Long]): KllBuf = {
      if (sk == null) return b
      KllBuf(KllOps.mergeSketch(b.v, sk, otherCompact = true))
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf =
      KllBuf(KllOps.mergeSketch(a.v, b.v, otherCompact = false))
    override def finish(r: KllBuf): KllBuf = KllBuf(KllOps.toCompact(r.v))
    override def bufferEncoder: Encoder[KllBuf] = Encoders.product[KllBuf]
    override def outputEncoder: Encoder[KllBuf] = Encoders.product[KllBuf]
  }

  /** `kll_quantile(sk, q)` → LONG percentile_disc-style quantile. */
  case class KllQuantile(sk: Expression, q: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(sk, q)
    override def inputTypes = Seq(ArrayType(LongType), DoubleType)
    // an empty sketch (n = 0) has no quantile: the guard is composed from
    // two Long-returning kernels, so every call site stays primitive
    override lazy val replacement: Expression = If(
      LessThanOrEqual(StaticCall(SketchRuntime, LongType, "kllN", Seq(sk)), Literal(0L)),
      Literal(null, LongType),
      StaticCall(SketchRuntime, LongType, "kllQuantileLong", children))
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `kll_rank(sk, v)` → LONG estimated #values < v. */
  case class KllRank(sk: Expression, value: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(sk, value)
    override def inputTypes = Seq(ArrayType(LongType), LongType)
    override lazy val replacement: Expression = StaticCall(SketchRuntime, LongType, "kllRank", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `kll_n(sk)` → LONG total weighted count. */
  case class KllN(sk: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(sk)
    override def inputTypes = Seq(ArrayType(LongType))
    override lazy val replacement: Expression = StaticCall(SketchRuntime, LongType, "kllN", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hll_estimate"   -> (es => HllEstimate(es.head)),
    "hll_registers"  -> (es => HllRegisters(es.head)),
    "bloom_contains" -> (es => BloomContains(es(0), es(1), es(2))),
    "cms_estimate"   -> (es => CmsEstimate(es(0), es(1), es(2))),
    "kll_quantile"   -> (es => KllQuantile(es(0), es(1))),
    "kll_rank"       -> (es => KllRank(es(0), es(1))),
    "kll_n"          -> (es => KllN(es.head)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = StaticCall.register(spark, builders)

  // --------------------------------------------------------- Column API

  def hll_sketch(hash: Column, p: Int = 12): Column =
    udaf(new HllAggregator(p)).apply(hash)
  def hll_merge(sketch: Column, p: Int = 12): Column =
    udaf(new HllMergeAggregator(p)).apply(sketch)
  def hll_estimate(sketch: Column): Column  = call_function("hll_estimate", sketch)
  def hll_registers(sketch: Column): Column = call_function("hll_registers", sketch)
  def bloom_sketch(hash: Column, mBits: Int = 1 << 20, k: Int = 4): Column =
    udaf(new BloomAggregator(mBits, k)).apply(hash)
  def bloom_contains(bits: Column, hash: Column, k: Column): Column =
    call_function("bloom_contains", bits, hash, k)
  def cms_sketch(hash: Column, w: Int = 1 << 12, d: Int = 4): Column =
    udaf(new CmsAggregator(w, d)).apply(hash)
  def cms_estimate(counters: Column, hash: Column, d: Column): Column =
    call_function("cms_estimate", counters, hash, d)
  def kll_sketch(value: Column, k: Int = 200): Column =
    udaf(new KllAggregator(k)).apply(value)
  def kll_merge(sk: Column, k: Int = 200): Column =
    udaf(new KllMergeAggregator(k)).apply(sk)
  def kll_quantile(sk: Column, q: Column): Column = call_function("kll_quantile", sk, q)
  def kll_rank(sk: Column, value: Column): Column = call_function("kll_rank", sk, value)
  def kll_n(sk: Column): Column                   = call_function("kll_n", sk)
}
