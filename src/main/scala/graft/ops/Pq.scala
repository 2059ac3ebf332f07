package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.geo.sql.StaticCall

/** Product-quantization kernels for the persisted ANN index: an embedding
  * splits into `m` subspaces of `dsub` dims; each subspace quantizes to one
  * of 256 codebook centroids, so a vector stores as m BYTES (+ one float
  * reconstruction norm) instead of dim floats — the memory wall of a raw
  * inverted file at 100 TB. Queries score candidates by ASYMMETRIC DISTANCE
  * (ADC): one m x 256 dot-product LUT per query, then each candidate is m
  * table lookups — never a vector re-attach.
  *
  * Codebook layout everywhere: flattened m x 256 x dsub floats with a FIXED
  * 256 stride; a subspace trained with fewer than 256 centroids pads by
  * repeating its first entry (a padded duplicate can never win the strict
  * argmin, so padding is inert).
  */
object PqKernels {

  /** Encode one vector: per-subspace argmin-L2 code + the reconstruction
    * norm in one pass → (code: Array[Byte], rnorm: Double). With a non-null
    * `base` (RESIDUAL encoding — `vec` is v − c_list), the norm is
    * ||base + recon(code)|| — the norm of the full reconstructed vector the
    * ADC scorer divides by. */
  def encode(vec: ArrayData, codebook: PqBooks, m: Int, dsub: Int,
             base: ArrayData): InternalRow = {
    val books = codebook.floats
    val code = new Array[Byte](m)
    var rn = 0.0
    var j = 0
    while (j < m) {
      var best = Double.MaxValue
      var bi   = 0
      var c = 0
      while (c < 256) {
        val off = (j * 256 + c) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val diff = vec.getFloat(j * dsub + d).toDouble - books(off + d)
          acc += diff * diff
          d += 1
        }
        if (acc < best) { best = acc; bi = c }
        c += 1
      }
      code(j) = bi.toByte
      val off = (j * 256 + bi) * dsub
      var d = 0
      while (d < dsub) {
        val r = books(off + d).toDouble +
          (if (base == null) 0.0 else base.getFloat(j * dsub + d).toDouble)
        rn += r * r
        d += 1
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](code, math.sqrt(rn)))
  }

  def encode(vec: ArrayData, codebook: PqBooks, m: Int, dsub: Int): InternalRow =
    encode(vec, codebook, m, dsub, null)

  /** Per-QUERY ADC lookup table: lut[j * 256 + c] = dot(q_j, book[j][c]). */
  def lut(vec: ArrayData, codebook: PqBooks, m: Int, dsub: Int): ArrayData = {
    val books = codebook.floats
    val out = new Array[Double](m * 256)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < 256) {
        val base = (j * 256 + c) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) { acc += vec.getFloat(j * dsub + d).toDouble * books(base + d); d += 1 }
        out(j * 256 + c) = acc
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Unsigned byte j of a PQ code. */
  def codeAt(code: Array[Byte], j: Int): Int = code(j) & 0xff

  /** ADC score of one candidate: m lookups — dot(q, recon(code)). */
  def adc(lut: ArrayData, code: Array[Byte]): Double = {
    var s = 0.0
    var j = 0
    while (j < code.length) { s += lut.getDouble(j * 256 + (code(j) & 0xff)); j += 1 }
    s
  }
}

/** A flattened codebook as a primitive float[]. Equal floats make equal
  * codebooks, so the SELECT-list and GROUP BY copies of one call stay
  * semantically equal. */
final class PqBooks(val floats: Array[Float]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case b: PqBooks => java.util.Arrays.equals(b.floats, floats)
    case _          => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(floats)
  override def toString: String = s"pq_books(${floats.length})"
}

/** Mixin for the codebook argument, which must be constant: the flattened
  * codebook rides into the plan as one literal array<float>, converted to
  * a [[PqBooks]] once per expression instance, when the function is
  * planned — rows never re-convert it. */
trait PqBooksArg { self: Expression =>
  def books: Expression
  protected def booksLiteral: Literal = StaticCall.constant(books) match {
    case Some(a: ArrayData) => Literal(new PqBooks(a.toFloatArray()), ObjectType(classOf[PqBooks]))
    case _ => throw new IllegalArgumentException("PQ codebook argument must be a literal")
  }
}

/** `pq_encode(vec, books, m, dsub[, base])` → struct<code: binary,
  * rnorm: double>. With the optional 5th argument `vec` is a RESIDUAL and
  * `base` the coarse centroid it was taken against (rnorm = ||base +
  * recon||). Build-time (one pass over the corpus at train). */
case class PqEncode(children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes with PqBooksArg {
  require(children.length == 4 || children.length == 5,
    s"pq_encode takes (vec, books, m, dsub[, base]), got ${children.length} args")
  override def books: Expression = children(1)
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType), IntegerType, IntegerType, ArrayType(FloatType))
      .take(children.length)
  override lazy val replacement: Expression = StaticCall(PqKernels, StructType(Seq(
    StructField("code", BinaryType, nullable = false),
    StructField("rnorm", DoubleType, nullable = false))),
    "encode", children.updated(1, booksLiteral))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c)
}

/** `pq_lut(qvec, books, m, dsub)` → array<double> of m*256 — once per
  * query row (query side is the small side by construction). */
case class PqLut(vec: Expression, books: Expression, m: Expression, dsub: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes with PqBooksArg {
  override def children: Seq[Expression] = Seq(vec, books, m, dsub)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType), IntegerType, IntegerType)
  override lazy val replacement: Expression = StaticCall(PqKernels,
    ArrayType(DoubleType, containsNull = false), "lut", Seq(vec, booksLiteral, m, dsub))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
    copy(c(0), c(1), c(2), c(3))
}

/** `pq_code_at(code, j)` → unsigned byte j of a PQ code (diagnostics and
  * the codebook-training assignment readback). */
case class PqCodeAt(code: Expression, j: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(code, j)
  override def inputTypes = Seq(BinaryType, IntegerType)
  override lazy val replacement: Expression = StaticCall(PqKernels, IntegerType, "codeAt", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

/** `pq_adc(lut, code)` → double. THE hot path — every (query, candidate)
  * pair scores through this, inside the probe-join projection's
  * whole-stage codegen. */
case class PqAdc(lut: Expression, code: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(lut, code)
  override def inputTypes = Seq(ArrayType(DoubleType), BinaryType)
  override lazy val replacement: Expression = StaticCall(PqKernels, DoubleType, "adc", children)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}
