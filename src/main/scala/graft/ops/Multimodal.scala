package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit}

import graft.geo.sql.StaticCall
import graft.pipeline.{AudioGen, ImageGen, VideoGen}

/** Static kernels of the multimodal SQL functions (the
  * [[graft.geo.sql.GeoRuntime]] pattern: each function's [[StaticCall]]
  * replacement calls one, interpreted or generated). All decode through the
  * per-thread content-keyed [[graft.pipeline.DecodeCache]], so a projection
  * computing several features over one payload column decodes each row ONCE
  * — subexpression elimination only shares identical trees, not the decode
  * inside different kernels.
  */
object MmRuntime {

  def imageMeta(bytes: Array[Byte]): InternalRow = {
    val (w, h, lossy, _) = ImageGen.decodeCached(bytes)
    new GenericInternalRow(Array[Any](w, h, lossy))
  }

  def imagePsnr(a: Array[Byte], b: Array[Byte]): Double = {
    val (_, _, _, pa) = ImageGen.decodeCached(a)
    val (_, _, _, pb) = ImageGen.decodeCached(b)
    if (pa.length != pb.length) 0.0
    else math.min(99.0, ImageGen.psnr(pa, pb))
  }

  def imageGrayMean(bytes: Array[Byte]): Double = {
    val (_, _, _, rgb) = ImageGen.decodeCached(bytes)
    var sum = 0.0
    var i = 0
    while (i < rgb.length) {
      sum += 0.299 * (rgb(i) & 0xff) + 0.587 * (rgb(i + 1) & 0xff) + 0.114 * (rgb(i + 2) & 0xff)
      i += 3
    }
    sum / (rgb.length / 3)
  }

  def imageResize(bytes: Array[Byte], w1: Int, h1: Int): Array[Byte] = {
    val (w0, h0, lossy, rgb) = ImageGen.decodeCached(bytes)
    val out = new Array[Byte](10 + w1 * h1 * 3)
    out(0) = 'G'; out(1) = 'R'; out(2) = 'B'; out(3) = '1'
    out(4) = ((w1 >> 8) & 0xff).toByte; out(5) = (w1 & 0xff).toByte
    out(6) = ((h1 >> 8) & 0xff).toByte; out(7) = (h1 & 0xff).toByte
    out(8) = if (lossy) 1 else 0
    var y = 0
    while (y < h1) {
      var x = 0
      while (x < w1) {
        val sx = x * w0 / w1; val sy = y * h0 / h1
        val s = (sy * w0 + sx) * 3; val d = 10 + (y * w1 + x) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Crop the [x0, x0+cw) × [y0, y0+ch) window (clamped to the image) into
    * a new GRB1 payload; null when the clamped window is empty. Rows copy
    * with arraycopy — the augmentation hot path never touches pixels
    * individually. */
  def imageCrop(bytes: Array[Byte], x0: Int, y0: Int, cw: Int, ch: Int): Array[Byte] = {
    val (w0, h0, lossy, rgb) = ImageGen.decodeCached(bytes)
    val xs = math.max(0, x0); val ys = math.max(0, y0)
    val xe = math.min(w0, x0 + math.max(0, cw)); val ye = math.min(h0, y0 + math.max(0, ch))
    if (xs >= xe || ys >= ye) return null
    val w1 = xe - xs; val h1 = ye - ys
    val out = new Array[Byte](10 + w1 * h1 * 3)
    out(0) = 'G'; out(1) = 'R'; out(2) = 'B'; out(3) = '1'
    out(4) = ((w1 >> 8) & 0xff).toByte; out(5) = (w1 & 0xff).toByte
    out(6) = ((h1 >> 8) & 0xff).toByte; out(7) = (h1 & 0xff).toByte
    out(8) = if (lossy) 1 else 0
    var y = 0
    while (y < h1) {
      System.arraycopy(rgb, ((ys + y) * w0 + xs) * 3, out, 10 + y * w1 * 3, w1 * 3)
      y += 1
    }
    out
  }

  /** Compare a*b vs c*d exactly for non-negative longs (128-bit, no
    * overflow): the ahash threshold cross-multiplication can exceed 2^63
    * for images past ~7000×7000 even though block sums individually fit. */
  private def cmpProd(a: Long, b: Long, c: Long, d: Long): Int = {
    val h1 = Math.multiplyHigh(a, b); val h2 = Math.multiplyHigh(c, d)
    if (h1 != h2) java.lang.Long.compare(h1, h2)
    else java.lang.Long.compareUnsigned(a * b, c * d)
  }

  /** 64-bit average hash (aHash) from DECODED pixels: the image is split
    * into an 8×8 block grid (pixel (x,y) → block (x*8/w, y*8/h)), each
    * block accumulates the integer luma sum Σ(299r+587g+114b), and bit
    * by*8+bx (LSB = top-left block) is set iff the block's mean luma is
    * STRICTLY above the global mean — compared as the exact integer
    * cross-multiplication blockSum·totalPix > totalSum·blockPix, so the
    * hash is bit-reproducible in any engine (no float means). Blocks with
    * no pixels (w or h < 8 after a resize/crop) contribute 0-bits.
    * Perceptual dedup over computed payloads: band this hash exactly like
    * the catalog `phash` column (Dedup.geoPhashPairs). */
  def imageAhash(bytes: Array[Byte]): Long = {
    val (w, h, _, rgb) = ImageGen.decodeCached(bytes)
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tot  = 0L
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val i    = (y * w + x) * 3
        val luma = 299L * (rgb(i) & 0xff) + 587L * (rgb(i + 1) & 0xff) + 114L * (rgb(i + 2) & 0xff)
        val b    = by * 8 + x * 8 / w
        sums(b) += luma; cnts(b) += 1; tot += luma
        x += 1
      }
      y += 1
    }
    val n    = w.toLong * h
    var hash = 0L
    var b    = 0
    while (b < 64) {
      if (cmpProd(sums(b), n, tot, cnts(b)) > 0) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** Integer luma histogram over decoded pixels: nbins counts of the
    * per-pixel luma 299r+587g+114b ∈ [0, 255000], bin = luma·nbins/255001
    * (the +1 keeps the max value inside the last bin). Exact counts — the
    * exposure/quality-audit feature for image-corpus curation. */
  def imageHistogram(bytes: Array[Byte], nbins0: Int): ArrayData = {
    val (w, h, _, rgb) = ImageGen.decodeCached(bytes)
    val nbins  = math.max(1, nbins0)
    val counts = new Array[Long](nbins)
    val n = w * h
    var p = 0
    while (p < n) {
      val i    = p * 3
      val luma = 299L * (rgb(i) & 0xff) + 587L * (rgb(i + 1) & 0xff) + 114L * (rgb(i + 2) & 0xff)
      counts(((luma * nbins) / 255001L).toInt) += 1
      p += 1
    }
    new GenericArrayData(counts)
  }

  def audioMeta(bytes: Array[Byte]): InternalRow = {
    val (rate, samples) = AudioGen.decodeCached(bytes)
    new GenericInternalRow(Array[Any](rate, samples.length))
  }

  def audioEnergy(bytes: Array[Byte]): Long = {
    val (_, samples) = AudioGen.decodeCached(bytes)
    var sum = 0L
    var i = 0
    while (i < samples.length) { val s = samples(i).toLong; sum += s * s; i += 1 }
    sum
  }

  /** Count of STRICT-rise local maxima (s[i-1] < s[i] >= s[i+1], interior
    * indices) — peak density, the clipping/transient feature for audio
    * curation. Exact integer from the decoded samples. */
  def audioPeaks(bytes: Array[Byte]): Int = {
    val (_, s) = AudioGen.decodeCached(bytes)
    var c = 0
    var i = 1
    while (i < s.length - 1) {
      if (s(i - 1) < s(i) && s(i) >= s(i + 1)) c += 1
      i += 1
    }
    c
  }

  /** Count of sign changes between consecutive samples (zero counts as
    * non-negative) — the classic zero-crossing-rate numerator for
    * silence/noisiness screening. Exact integer. */
  def audioZeroCrossings(bytes: Array[Byte]): Int = {
    val (_, s) = AudioGen.decodeCached(bytes)
    var c = 0
    var i = 1
    while (i < s.length) {
      if ((s(i - 1) < 0) != (s(i) < 0)) c += 1
      i += 1
    }
    c
  }

  def audioRms(bytes: Array[Byte]): Double = {
    val (_, samples) = AudioGen.decodeCached(bytes)
    if (samples.isEmpty) 0.0
    else {
      var sum = 0.0
      var i = 0
      while (i < samples.length) { val s = samples(i).toDouble; sum += s * s; i += 1 }
      math.sqrt(sum / samples.length)
    }
  }

  def audioDownsample(bytes: Array[Byte], k0: Int): Array[Byte] = {
    val (rate, samples) = AudioGen.decodeCached(bytes)
    val k = math.max(1, k0)
    val n = (samples.length + k - 1) / k
    val out = new Array[Byte](12 + n)
    out(0) = 'P'; out(1) = 'C'; out(2) = 'A'; out(3) = '1'
    val r1 = rate / k
    out(4) = (r1 >> 24).toByte; out(5) = (r1 >> 16).toByte
    out(6) = (r1 >> 8).toByte; out(7) = r1.toByte
    out(8) = (n >> 24).toByte; out(9) = (n >> 16).toByte
    out(10) = (n >> 8).toByte; out(11) = n.toByte
    var i = 0
    while (i < n) { out(12 + i) = samples(i * k); i += 1 }
    out
  }

  def videoMeta(bytes: Array[Byte]): InternalRow = {
    val (w, h, nf, _) = VideoGen.decodeCached(bytes)
    new GenericInternalRow(Array[Any](w, h, nf))
  }

  /** null when i is out of range (Optional semantics). */
  def videoFrame(bytes: Array[Byte], i: Int): Array[Byte] = {
    val (w, h, nf, frames) = VideoGen.decodeCached(bytes)
    if (i < 0 || i >= nf) null
    else VideoGen.frameAsImage(w, h, frames(i))
  }

  def videoFrames(bytes: Array[Byte], every: Int): ArrayData = {
    val (w, h, nf, frames) = VideoGen.decodeCached(bytes)
    val k = math.max(1, every)
    new GenericArrayData(
      (0 until nf by k).map(f => VideoGen.frameAsImage(w, h, frames(f))).toArray[Any])
  }

  /** Count of frame transitions whose mean |Δ| per byte STRICTLY exceeds
    * thresholdMilli/1000 — compared as the exact integer cross-product
    * pairSum·1000 > thresholdMilli·nBytes, so any engine reproduces it
    * bit-for-bit. Shot-segmentation plumbing for video curation. */
  def videoCuts(bytes: Array[Byte], thresholdMilli: Int): Int = {
    val (_, _, nf, frames) = VideoGen.decodeCached(bytes)
    var cuts = 0
    var f = 1
    while (f < nf) {
      val a = frames(f - 1); val b = frames(f)
      var sum = 0L
      var i = 0
      while (i < a.length) { sum += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1 }
      if (sum * 1000L > thresholdMilli.toLong * a.length) cuts += 1
      f += 1
    }
    cuts
  }

  def videoMotion(bytes: Array[Byte]): Double = {
    val (_, _, nf, frames) = VideoGen.decodeCached(bytes)
    if (nf < 2) 0.0
    else {
      var sum = 0.0; var cnt = 0L
      var f = 1
      while (f < nf) {
        val a = frames(f - 1); val b = frames(f)
        var i = 0
        while (i < a.length) { sum += math.abs((a(i) & 0xff) - (b(i) & 0xff)); i += 1 }
        cnt += a.length
        f += 1
      }
      sum / cnt
    }
  }
}

/** Multimodal-column plumbing: image AND audio payloads are opaque `binary`
  * columns with typed metadata; decode / feature-extract / resize /
  * downsample run as Catalyst expressions over the bytes. The GRB1 (image)
  * and PCA1 (audio) decoders are fully functional (our synthetic formats);
  * decoding EXTERNAL formats (jpeg/png, mp3/flac — codec libs absent from
  * this container) would plug into [[ImageGen.decode]] /
  * [[graft.pipeline.AudioGen.decode]], the single marked seams. The
  * Spark-side plumbing — schema, partitioning, expression signatures, batch
  * shape — is real and tested either way.
  *
  * Every function is a RuntimeReplaceable over one static kernel
  * ([[MmRuntime]], or the generators' own `encode`/`phashOf`), so each
  * compiles inside whole-stage codegen and keeps subexpression
  * elimination; decode work dominates per-row here, so staying inside
  * codegen AND sharing the decode through the per-thread cache matters
  * doubly.
  */
object Multimodal {

  val metaType: StructType = StructType(Seq(
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("lossy", BooleanType, nullable = false)))

  /** `image_meta(bytes)` → (w, h, lossy). */
  case class ImageMeta(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, metaType, "imageMeta", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `image_psnr(a, b)` → dB between two decoded payloads (the per-row
    * "decoded-pixel allclose / PSNR >= 40dB" invariant, BASELINE.json:15).
    * Infinity is clamped to 99 dB so the column stays orderable. */
  case class ImagePsnr(a: Expression, b: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(a, b)
    override def inputTypes = Seq(BinaryType, BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, DoubleType, "imagePsnr", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `image_gray_mean(bytes)` → mean luminance (a feature-extraction
    * stand-in with a closed-form expectation for tests). */
  case class ImageGrayMean(bytes: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, DoubleType, "imageGrayMean", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `image_resize(bytes, w, h)` → re-encoded GRB1 payload downsampled with
    * nearest-neighbor (deterministic). */
  case class ImageResize(bytes: Expression, w: Expression, h: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, w, h)
    override def inputTypes = Seq(BinaryType, IntegerType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, BinaryType, "imageResize", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
  }

  /** `image_crop(bytes, x, y, w, h)` → cropped GRB1 payload (null when the
    * clamped window is empty: the kernel's null is the result). */
  case class ImageCrop(bytes: Expression, x: Expression, y: Expression,
                       w: Expression, h: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, x, y, w, h)
    override def inputTypes = Seq(BinaryType, IntegerType, IntegerType, IntegerType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, BinaryType, "imageCrop", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) =
      copy(c(0), c(1), c(2), c(3), c(4))
  }

  /** `image_ahash(bytes)` → 64-bit average hash from DECODED pixels (8×8
    * block grid, strict integer cross-multiplication threshold — see
    * [[MmRuntime.imageAhash]]). Banding this hash like the catalog `phash`
    * column makes perceptual dedup end-to-end real: the signature is
    * computed from the payload, not trusted from the table. */
  case class ImageAhash(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, LongType, "imageAhash", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `image_histogram(bytes, nbins)` → exact integer luma histogram
    * (ARRAY<BIGINT> of pixel counts, bin = luma·nbins/255001) — the
    * exposure/quality-audit feature for image-corpus curation. */
  case class ImageHistogram(bytes: Expression, nbins: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, nbins)
    override def inputTypes = Seq(BinaryType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, ArrayType(LongType, containsNull = false), "imageHistogram", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  // ---- audio (PCA1 payloads, graft.pipeline.AudioGen) -------------------

  val audioMetaType: StructType = StructType(Seq(
    StructField("rate", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))

  /** `audio_meta(bytes)` → (rate, n_samples). */
  case class AudioMeta(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, audioMetaType, "audioMeta", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `audio_energy(bytes)` → Σ sample² as a LONG — exact integer, so the
    * driver oracle reproduces it with pure SQL arithmetic. */
  case class AudioEnergy(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, LongType, "audioEnergy", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `audio_peaks(bytes)` → count of strict-rise local maxima (exact int). */
  case class AudioPeaks(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, IntegerType, "audioPeaks", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `audio_zero_crossings(bytes)` → count of consecutive-sample sign
    * changes (exact int; zero is non-negative). */
  case class AudioZeroCrossings(bytes: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, IntegerType, "audioZeroCrossings", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `audio_rms(bytes)` → sqrt(energy / n) (feature-extraction stand-in). */
  case class AudioRms(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, DoubleType, "audioRms", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `audio_downsample(bytes, k)` → every k-th sample re-encoded at rate/k
    * (deterministic decimation without filtering). */
  case class AudioDownsample(bytes: Expression, k: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, k)
    override def inputTypes = Seq(BinaryType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, BinaryType, "audioDownsample", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  // ---- video (VID1 payloads, graft.pipeline.VideoGen) -------------------

  val videoMetaType: StructType = StructType(Seq(
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** `video_meta(bytes)` → (w, h, n_frames). */
  case class VideoMeta(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, videoMetaType, "videoMeta", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `video_frame(bytes, i)` → frame i as a lossless GRB1 IMAGE payload, so
    * the image expression surface composes (null when i out of range —
    * Optional semantics: the kernel's null is the result). */
  case class VideoFrame(bytes: Expression, i: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, i)
    override def inputTypes = Seq(BinaryType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, BinaryType, "videoFrame", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `video_frames(bytes, every)` → every `every`-th frame as an ARRAY of
    * GRB1 image payloads — explode it for per-frame pipelines (the
    * frame-sampling batch shape). */
  case class VideoFrames(bytes: Expression, every: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, every)
    override def inputTypes = Seq(BinaryType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, ArrayType(BinaryType, containsNull = false), "videoFrames", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `video_motion(bytes)` → mean absolute per-byte difference between
    * consecutive frames (a cheap motion-feature stand-in; 0.0 for
    * single-frame payloads). */
  case class VideoMotion(bytes: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes)
    override def inputTypes = Seq(BinaryType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, DoubleType, "videoMotion", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `video_cuts(bytes, thresholdMilli)` → count of frame transitions whose
    * mean |Δ|/byte strictly exceeds thresholdMilli/1000 (exact integer
    * cross-multiplication — see [[MmRuntime.videoCuts]]). */
  case class VideoCuts(bytes: Expression, thresholdMilli: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(bytes, thresholdMilli)
    override def inputTypes = Seq(BinaryType, IntegerType)
    override lazy val replacement: Expression =
      StaticCall(MmRuntime, IntegerType, "videoCuts", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
  }

  /** `grb1_bytes(id)` → the deterministic GRB1 payload of synthetic image
    * `id` — [[graft.pipeline.ImageGen.table]]'s payload kernel as a real
    * kernel call, so the generator fuses into whole-stage codegen
    * (no Dataset-encoder boundary) and is PRUNABLE by Catalyst when a
    * query never reads the bytes. */
  case class Grb1Bytes(id: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(id)
    override def inputTypes = Seq(LongType)
    override lazy val replacement: Expression = StaticCall(ImageGen, BinaryType, "encode", children, neverNull = true)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `grb1_phash(id)` → the phash of image id's DECODED raster — the
    * [[graft.pipeline.ImageGen.table]] phash column without materializing
    * the payload (a caller keeping phash but not bytes never allocates the
    * container). */
  case class Grb1Phash(id: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(id)
    override def inputTypes = Seq(LongType)
    override lazy val replacement: Expression = StaticCall(ImageGen, LongType, "phashOf", children)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  /** `pca1_bytes(id, rate, n)` → the deterministic PCA1 audio payload —
    * [[graft.pipeline.AudioGen.table]]'s payload kernel (the Grb1Bytes
    * discipline). */
  case class Pca1Bytes(id: Expression, rate: Expression, n: Expression)
      extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(id, rate, n)
    override def inputTypes = Seq(LongType, IntegerType, IntegerType)
    override lazy val replacement: Expression = StaticCall(AudioGen, BinaryType, "encode", children, neverNull = true)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1), c(2))
  }

  /** `vid1_bytes(id)` → the deterministic VID1 video payload —
    * [[graft.pipeline.VideoGen.table]]'s payload kernel (the Grb1Bytes
    * discipline). */
  case class Vid1Bytes(id: Expression) extends RuntimeReplaceable with ImplicitCastInputTypes {
    override def children: Seq[Expression] = Seq(id)
    override def inputTypes = Seq(LongType)
    override lazy val replacement: Expression = StaticCall(VideoGen, BinaryType, "encode", children, neverNull = true)
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "grb1_bytes"      -> (es => Grb1Bytes(es.head)),
    "grb1_phash"      -> (es => Grb1Phash(es.head)),
    "pca1_bytes"      -> (es => Pca1Bytes(es(0), es(1), es(2))),
    "vid1_bytes"      -> (es => Vid1Bytes(es.head)),
    "image_meta"      -> (es => ImageMeta(es.head)),
    "image_psnr"      -> (es => ImagePsnr(es(0), es(1))),
    "image_gray_mean" -> (es => ImageGrayMean(es.head)),
    "image_resize"    -> (es => ImageResize(es(0), es(1), es(2))),
    "image_crop"      -> (es => ImageCrop(es(0), es(1), es(2), es(3), es(4))),
    "image_ahash"     -> (es => ImageAhash(es.head)),
    "image_histogram" -> (es => ImageHistogram(es(0), es(1))),
    "audio_meta"       -> (es => AudioMeta(es.head)),
    "audio_energy"     -> (es => AudioEnergy(es.head)),
    "audio_peaks"      -> (es => AudioPeaks(es.head)),
    "audio_zero_crossings" -> (es => AudioZeroCrossings(es.head)),
    "audio_rms"        -> (es => AudioRms(es.head)),
    "audio_downsample" -> (es => AudioDownsample(es(0), es(1))),
    "video_meta"       -> (es => VideoMeta(es.head)),
    "video_frame"      -> (es => VideoFrame(es(0), es(1))),
    "video_frames"     -> (es => VideoFrames(es(0), es(1))),
    "video_motion"     -> (es => VideoMotion(es.head)),
    "video_cuts"       -> (es => VideoCuts(es(0), es(1))))

  def register(spark: SparkSession): Unit = StaticCall.register(spark, builders)

  def image_meta(bytes: Column): Column      = call_function("image_meta", bytes)
  def image_psnr(a: Column, b: Column): Column = call_function("image_psnr", a, b)
  def image_gray_mean(bytes: Column): Column = call_function("image_gray_mean", bytes)
  def image_resize(bytes: Column, w: Column, h: Column): Column =
    call_function("image_resize", bytes, w, h)
  def image_crop(bytes: Column, x: Column, y: Column, w: Column, h: Column): Column =
    call_function("image_crop", bytes, x, y, w, h)
  def image_ahash(bytes: Column): Column = call_function("image_ahash", bytes)
  def image_histogram(bytes: Column, nbins: Column): Column =
    call_function("image_histogram", bytes, nbins)
  def audio_meta(bytes: Column): Column   = call_function("audio_meta", bytes)
  def audio_energy(bytes: Column): Column = call_function("audio_energy", bytes)
  def audio_peaks(bytes: Column): Column  = call_function("audio_peaks", bytes)
  def audio_zero_crossings(bytes: Column): Column =
    call_function("audio_zero_crossings", bytes)
  def audio_rms(bytes: Column): Column    = call_function("audio_rms", bytes)
  def audio_downsample(bytes: Column, k: Column): Column =
    call_function("audio_downsample", bytes, k)
  def video_meta(bytes: Column): Column = call_function("video_meta", bytes)
  def video_frame(bytes: Column, i: Column): Column = call_function("video_frame", bytes, i)
  def video_frames(bytes: Column, every: Column): Column =
    call_function("video_frames", bytes, every)
  def video_motion(bytes: Column): Column = call_function("video_motion", bytes)
  def video_cuts(bytes: Column, thresholdMilli: Column): Column =
    call_function("video_cuts", bytes, thresholdMilli)

  /** Frame-sample an "animation": deterministic every-nth selection over a
    * grouping key — the batch-shape pattern for video columns. */
  def sampleFrames(df: DataFrame, keyCol: String, frameCol: String, every: Int): DataFrame =
    df.where(org.apache.spark.sql.functions.pmod(col(frameCol), lit(every)) === 0)

  // ---- tile mosaic / pyramid rollup ------------------------------------

  /** Mosaic aggregation buffer: exact integer pixel sums (size²·3 cells) +
    * per-quadrant contributor counts — associative and commutative, so the
    * aggregation is partial-agg safe and the result is independent of row
    * order and partitioning. */
  case class MosaicBuf(sums: Array[Long], counts: Array[Int])

  /** Mosaic result: the GRB1 canvas plus the member/quadrant counts the
    * buffer already knows — emitting them from `finish` keeps the whole
    * rollup ONE aggregation on tile_key (a separate countDistinct(quadrant)
    * would force an extra (tile, quadrant)-keyed exchange under the same
    * shuffle). */
  case class MosaicOut(mosaic: Array[Byte], n_images: Long, n_quadrants: Long)

  /** Typed aggregator combining a z-tile's member images into ONE
    * downsampled GRB1 mosaic for the z-1 parent: each image is
    * nearest-neighbor resampled to a (size/2)² quadrant thumbnail and
    * pixel-averaged into its quadrant (integer sums / count — deterministic
    * under any merge order); quadrants nobody populated stay black. The
    * buffer is ~size²·3·8 bytes, so map-side partial aggregation ships one
    * small canvas per (tile, map partition) through the exchange — never
    * the member images. */
  class TileMosaic(size: Int) extends org.apache.spark.sql.expressions.Aggregator[
      (Int, Array[Byte]), MosaicBuf, MosaicOut] {
    private val half = size / 2
    override def zero: MosaicBuf =
      MosaicBuf(new Array[Long](size * size * 3), new Array[Int](4))
    override def reduce(b: MosaicBuf, in: (Int, Array[Byte])): MosaicBuf = {
      val (q, bytes) = in
      val (w0, h0, _, rgb) = ImageGen.decode(bytes)
      val qx = (q & 1) * half; val qy = (q >> 1) * half
      var y = 0
      while (y < half) {
        var x = 0
        while (x < half) {
          val s = ((y * h0 / half) * w0 + (x * w0 / half)) * 3
          val d = ((qy + y) * size + (qx + x)) * 3
          b.sums(d) += (rgb(s) & 0xff)
          b.sums(d + 1) += (rgb(s + 1) & 0xff)
          b.sums(d + 2) += (rgb(s + 2) & 0xff)
          x += 1
        }
        y += 1
      }
      b.counts(q) += 1
      b
    }
    override def merge(a: MosaicBuf, c: MosaicBuf): MosaicBuf = {
      var i = 0
      while (i < a.sums.length) { a.sums(i) += c.sums(i); i += 1 }
      i = 0
      while (i < 4) { a.counts(i) += c.counts(i); i += 1 }
      a
    }
    override def finish(b: MosaicBuf): MosaicOut = {
      val out = new Array[Byte](10 + size * size * 3)
      out(0) = 'G'; out(1) = 'R'; out(2) = 'B'; out(3) = '1'
      out(4) = ((size >> 8) & 0xff).toByte; out(5) = (size & 0xff).toByte
      out(6) = ((size >> 8) & 0xff).toByte; out(7) = (size & 0xff).toByte
      var y = 0
      while (y < size) {
        var x = 0
        while (x < size) {
          val q = (if (x >= half) 1 else 0) + (if (y >= half) 2 else 0)
          val n = b.counts(q)
          if (n > 0) {
            val i = (y * size + x) * 3
            out(10 + i) = (b.sums(i) / n).toByte
            out(10 + i + 1) = (b.sums(i + 1) / n).toByte
            out(10 + i + 2) = (b.sums(i + 2) / n).toByte
          }
          x += 1
        }
        y += 1
      }
      MosaicOut(out, b.counts.map(_.toLong).sum, b.counts.count(_ > 0).toLong)
    }
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[MosaicBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.product[MosaicOut]
  }

  /** z → z-1 pyramid reduction over the image+caption table: every tile's
    * member images collapse into one `size`×`size` GRB1 mosaic on the
    * PARENT tile, each image averaged into the quadrant its child tile
    * occupies. One narrow projection (parent key + quadrant are bit math on
    * the packed key) + one groupBy(parent) with the partial-agg-safe
    * [[TileMosaic]] — apply repeatedly for the full pyramid. Output:
    * `tile_key` (z-1), `mosaic` (GRB1), `n_images`, `n_quadrants`. */
  def mosaicTiles(df: DataFrame, tileKeyCol: String, bytesCol: String,
                  mosaicSize: Int = 16): DataFrame = {
    import graft.geo.sql.GeoFunctions.{tile_z, tile_x, tile_y}
    import org.apache.spark.sql.functions._
    val k = col(tileKeyCol)
    val parent = shiftleft((tile_z(k) - 1).cast("long"), 58)
      .bitwiseOR(shiftleft(shiftrightunsigned(tile_x(k), 1), 29))
      .bitwiseOR(shiftrightunsigned(tile_y(k), 1))
    val quadrant = (tile_x(k) % 2 + tile_y(k) % 2 * 2).cast("int")
    val mosaic = udaf(new TileMosaic(mosaicSize))
    df.select(parent.as("tile_key"), quadrant.as("__q"), col(bytesCol).as("__b"))
      .groupBy("tile_key")
      .agg(mosaic(col("__q"), col("__b")).as("__m"))
      .select(col("tile_key"), col("__m.mosaic").as("mosaic"),
        col("__m.n_images").as("n_images"), col("__m.n_quadrants").as("n_quadrants"))
  }
}
