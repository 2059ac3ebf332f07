package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic image+caption table with the exact input_hint
  * schema (BASELINE.json:15):
  *   (image_id string, bytes binary, w int, h int, fmt string,
  *    caption string, phash long)
  * plus closed-form lng/lat derived from the numeric id with pure integer
  * arithmetic, so the spatial expectations are reproducible in DuckDB SQL
  * (FIXTURES.md "Engine-side synthetic inputs").
  *
  * The image payload is a real (if tiny) raster format of our own:
  *   GRB1: 10-byte header [G R B 1 | w:int16be | h:int16be | fmt:byte | pad]
  *         + w*h*3 RGB bytes from an xorshift PRNG seeded by the id.
  *   fmt byte 0 = lossless; 1 = "lossy" (5-bit quantized channels), whose
  *   decoded PSNR vs the lossless original is ~40.9 dB — exercising the
  *   per-row "decoded-pixel PSNR >= 40dB for lossy" invariant
  *   (BASELINE.json:15) with a decoder that actually runs in this container.
  */
object ImageGen {

  val Mod = 2147483647L // 2^31-1, Lehmer modulus

  /** Closed-form position of an image id (also expressed in oracle SQL):
    * h = (id * 48271) mod (2^31-1); lng = (h mod 36000)/100 - 180;
    * lat = ((h / 36000) mod 16800)/100 - 84.
    */
  def lngOf(id: Long): Double = ((id * 48271L) % Mod % 36000L) / 100.0 - 180.0
  def latOf(id: Long): Double = ((id * 48271L) % Mod / 36000L % 16800L) / 100.0 - 84.0

  def pixelCount(id: Long): (Int, Int) = {
    val w = 8 + (id % 9L).toInt  // 8..16
    val h = 8 + (id % 7L).toInt  // 8..14
    (w, h)
  }

  /** Raw RGB pixels for an id — xorshift64 stream, deterministic. */
  def rawPixels(id: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var x   = id * 2654435761L + 1442695040888963407L
    var i   = 0
    val n8  = out.length - 7
    // 8 bytes per xorshift64 step (one step per byte made the PRNG the
    // synthesis hot spot; all 8 state bytes are fine for synthetic pixels)
    while (i < n8) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      var v = x; var j = 0
      while (j < 8) { out(i + j) = (v & 0xff).toByte; v >>>= 8; j += 1 }
      i += 8
    }
    while (i < out.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      out(i) = (x & 0xff).toByte
      i += 1
    }
    out
  }

  def isLossy(id: Long): Boolean = id % 3 == 0

  /** Encode the GRB1 payload (quantizing channels to 5 bits when lossy). */
  def encode(id: Long): Array[Byte] = {
    val (w, h) = pixelCount(id)
    val px     = rawPixels(id, w, h)
    val lossy  = isLossy(id)
    val out    = new Array[Byte](10 + px.length)
    out(0) = 'G'; out(1) = 'R'; out(2) = 'B'; out(3) = '1'
    out(4) = ((w >> 8) & 0xff).toByte; out(5) = (w & 0xff).toByte
    out(6) = ((h >> 8) & 0xff).toByte; out(7) = (h & 0xff).toByte
    out(8) = if (lossy) 1 else 0
    var i = 0
    while (i < px.length) {
      // lossy = round-to-nearest 6-bit quantization (step 4): error in
      // [-2, 1] → PSNR ≈ 46 dB, comfortably above the 40 dB invariant
      out(10 + i) =
        if (lossy) math.min(252, ((px(i) & 0xff) + 2) / 4 * 4).toByte else px(i)
      i += 1
    }
    out
  }

  /** Decode a GRB1 payload → (w, h, lossyFlag, rgb). The "decode step" of the
    * multimodal plumbing — real for our format; for external formats (jpeg,
    * png) this is the single seam to swap in a library decoder. */
  def decode(bytes: Array[Byte]): (Int, Int, Boolean, Array[Byte]) = {
    require(bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'R' && bytes(2) == 'B' && bytes(3) == '1',
      "not a GRB1 payload")
    val w = ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
    val h = ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    (w, h, bytes(8) == 1, java.util.Arrays.copyOfRange(bytes, 10, 10 + w * h * 3))
  }

  /** [[decode]] behind the per-thread [[DecodeCache]]: the multimodal
    * kernel entry point, so a projection computing several image features
    * over one column decodes each row ONCE. Callers must not mutate the
    * returned rgb array — it is shared across cache hits. */
  val decodeCache = new DecodeCache[(Int, Int, Boolean, Array[Byte])](decode)
  def decodeCached(bytes: Array[Byte]): (Int, Int, Boolean, Array[Byte]) = decodeCache(bytes)

  /** PSNR (dB) between two equal-length byte rasters. */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    require(a.length == b.length)
    var se = 0.0
    var i  = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      se += d.toDouble * d
      i += 1
    }
    if (se == 0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / (se / a.length))
  }

  /** 64-bit average-hash perceptual hash over an 8x8 grayscale downsample. */
  def phash(w: Int, h: Int, rgb: Array[Byte]): Long = {
    val gray = new Array[Double](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        // average the gray of the block
        val x0 = bx * w / 8; val x1 = math.max(x0 + 1, (bx + 1) * w / 8)
        val y0 = by * h / 8; val y1 = math.max(y0 + 1, (by + 1) * h / 8)
        var sum = 0.0; var cnt = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = (y * w + x) * 3
            sum += 0.299 * (rgb(p) & 0xff) + 0.587 * (rgb(p + 1) & 0xff) + 0.114 * (rgb(p + 2) & 0xff)
            cnt += 1
            x += 1
          }
          y += 1
        }
        gray(by * 8 + bx) = sum / cnt
        bx += 1
      }
      by += 1
    }
    val mean = gray.sum / 64
    var bits = 0L
    var i    = 0
    while (i < 64) { if (gray(i) >= mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Decoded pixel raster of `id` — exactly `decode(encode(id))._4` without
    * materializing the 10-byte-headed payload (the phash path needs only
    * the raster, never the container bytes). */
  def decodedPixels(id: Long): Array[Byte] = {
    val (w, h) = pixelCount(id)
    val px = rawPixels(id, w, h)
    if (isLossy(id)) {
      var i = 0
      while (i < px.length) {
        px(i) = math.min(252, ((px(i) & 0xff) + 2) / 4 * 4).toByte
        i += 1
      }
    }
    px
  }

  /** The [[table]] `phash` column's kernel: phash of id's DECODED raster
    * (quantized for lossy ids) — ≡ `phash(w, h, decode(encode(id))._4)`
    * with no payload allocation or header round-trip. */
  def phashOf(id: Long): Long = {
    val (w, h) = pixelCount(id)
    phash(w, h, decodedPixels(id))
  }

  private val captionWords = Array("aerial", "view", "of", "the", "coastal", "city",
    "mountain", "valley", "river", "delta", "urban", "grid", "farmland", "island",
    "harbor", "desert")

  def caption(id: Long): String = {
    val a = captionWords((id % 16).toInt)
    val b = captionWords(((id / 16) % 16).toInt)
    val c = captionWords(((id / 256) % 16).toInt)
    s"$a $b $c tile ${id % 1024}"
  }

  /** The synthetic table. Generated distributively from spark.range through
    * CODEGEN EXPRESSIONS (round 7): the payload/phash kernels are static
    * calls inside whole-stage codegen (`grb1_bytes`/`grb1_phash`,
    * registered by [[graft.ops.Multimodal]]) and the metadata columns are
    * plain Column math — no Dataset-encoder object boundary splitting the
    * stage, and Catalyst PRUNES synth columns a query never reads (a
    * metadata-only caller pays zero pixel synthesis; a caller keeping
    * `phash` but not `bytes` pays the raster but never allocates the
    * payload). Values are bit-identical to the round-6 row-based generator
    * — differential-spec-pinned against [[tableRowBased]]. */
  def table(spark: SparkSession, n: Long, partitions: Int = 0): DataFrame = {
    graft.ops.Multimodal.register(spark)
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(n)
    val words = typedlit(captionWords.toSeq)
    def word(idx: Column) = element_at(words, idx.cast("int") + 1)
    base.select(
      concat(lit("img_"), col("id").cast("string")).as("image_id"),
      call_function("grb1_bytes", col("id")).as("bytes"),
      (col("id") % 9 + 8).cast("int").as("w"),
      (col("id") % 7 + 8).cast("int").as("h"),
      when(col("id") % 3 === 0, lit("grb1q")).otherwise(lit("grb1")).as("fmt"),
      concat(word(col("id") % 16), lit(" "), word(shiftright(col("id"), 4) % 16),
        lit(" "), word(shiftright(col("id"), 8) % 16),
        lit(" tile "), (col("id") % 1024).cast("string")).as("caption"),
      call_function("grb1_phash", col("id")).as("phash"))
  }

  /** The round-6 row-based generator (Dataset mapPartitions over scala
    * tuples) — kept ONLY as the differential-spec twin proving [[table]] is
    * value-identical; not a query path. */
  private[graft] def tableRowBased(spark: SparkSession, n: Long,
                                   partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions) else spark.range(n)
    base.as[Long].mapPartitions { it =>
      it.map { id =>
        val bytes  = encode(id)
        val (w, h) = pixelCount(id)
        val (_, _, _, rgb) = decode(bytes)
        (s"img_$id", bytes, w, h, if (isLossy(id)) "grb1q" else "grb1",
          caption(id), phash(w, h, rgb))
      }
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }

  /** Attach the closed-form lng/lat (pure integer Column math — the same
    * formula the DuckDB oracle uses), reading the id back from `image_id`
    * ("img_<id>"), so it works on any frame that carries that column.
    * Over [[table]] itself, [[graft.geo.plans.NumberRoundTripRule]] (which
    * [[table]] installs) folds the print-and-parse back to the numeric
    * `id`: the coordinates cost no string work, and `image_id` is printed
    * only for the rows a consumer reads. */
  def withLngLat(df: DataFrame): DataFrame = {
    val id = substring(col("image_id"), 5, 20).cast("long") // "img_<id>"
    df.withColumn("__h", (id * 48271L) % Mod)
      .withColumn("lng", (col("__h") % 36000L) / 100.0 - 180.0)
      // integer division: Spark's `/` on longs is double division
      .withColumn("lat", (floor(col("__h") / 36000L).cast("long") % 16800L) / 100.0 - 84.0)
      .drop("__h")
  }
}
