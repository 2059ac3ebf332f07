package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic audio table — the audio leg of the multimodal-column surface
  * (image / audio / video as opaque binary columns with typed metadata).
  * Payloads are a self-contained deterministic 8-bit PCM format "PCA1"
  * (magic + rate + count + signed samples), the audio analogue of
  * [[ImageGen]]'s GRB1: the codec is fully functional for the synthetic
  * format, and decoding EXTERNAL formats (mp3/flac — codec libs absent from
  * this container) would plug into [[decode]], the single marked seam.
  *
  * Sample synthesis is pure integer arithmetic reproducible in ANSI SQL
  * (the q45 oracle recomputes it with a range() cross join):
  * `sample(id, i) = (id * 7919 + i * 31) % 256 - 128`.
  */
object AudioGen {

  /** deterministic sample value in [-128, 127] (non-negative operands, so
    * `%` agrees between JVM, Spark and DuckDB) */
  @inline def sample(id: Long, i: Int): Int =
    (((id * 7919L + i.toLong * 31L) % 256L) - 128L).toInt

  /** PCA1 payload: magic(4) | rate int32 BE | count int32 BE | samples. */
  def encode(id: Long, rate: Int, n: Int): Array[Byte] = {
    val out = new Array[Byte](12 + n)
    out(0) = 'P'; out(1) = 'C'; out(2) = 'A'; out(3) = '1'
    out(4) = (rate >> 24).toByte; out(5) = (rate >> 16).toByte
    out(6) = (rate >> 8).toByte; out(7) = rate.toByte
    out(8) = (n >> 24).toByte; out(9) = (n >> 16).toByte
    out(10) = (n >> 8).toByte; out(11) = n.toByte
    var i = 0
    while (i < n) { out(12 + i) = sample(id, i).toByte; i += 1 }
    out
  }

  /** (rate, samples). Throws on a non-PCA1 payload — the external-codec
    * seam: plug real decoders (mp3/flac) here. */
  def decode(bytes: Array[Byte]): (Int, Array[Byte]) = {
    require(bytes.length >= 12 && bytes(0) == 'P' && bytes(1) == 'C' &&
      bytes(2) == 'A' && bytes(3) == '1', "not a PCA1 payload")
    val rate = ((bytes(4) & 0xff) << 24) | ((bytes(5) & 0xff) << 16) |
      ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    val n = ((bytes(8) & 0xff) << 24) | ((bytes(9) & 0xff) << 16) |
      ((bytes(10) & 0xff) << 8) | (bytes(11) & 0xff)
    (rate, java.util.Arrays.copyOfRange(bytes, 12, 12 + n))
  }

  /** [[decode]] behind the per-thread [[DecodeCache]] (the multimodal
    * kernel entry point; callers must not mutate the returned samples). */
  val decodeCache = new DecodeCache[(Int, Array[Byte])](decode)
  def decodeCached(bytes: Array[Byte]): (Int, Array[Byte]) = decodeCache(bytes)

  /** n-row audio table: audio_id, bytes, rate, n_samples. Rate rotates over
    * {8000, 12000, 16000}; 800 samples per clip. Built from codegen
    * expressions since round 7 (the [[ImageGen.table]] discipline): no
    * Dataset-encoder boundary, and the payload prunes when unread. */
  def table(spark: SparkSession, n: Long, nSamples: Int = 800): DataFrame = {
    graft.ops.Multimodal.register(spark)
    // a `when` chain over literals, not `8000 + (id % 3) * 4000`: Spark
    // declares `%` nullable, which would make the payload column nullable
    val rate = when(col("id") % 3 === 0, 8000).when(col("id") % 3 === 1, 12000).otherwise(16000)
    spark.range(n).select(
      concat(lit("aud_"), col("id").cast("string")).as("audio_id"),
      call_function("pca1_bytes", col("id"), rate, lit(nSamples)).as("bytes"),
      rate.as("rate"),
      lit(nSamples).as("n_samples"))
  }

  /** Round-6 row-based generator — the differential-spec twin of [[table]]. */
  private[graft] def tableRowBased(spark: SparkSession, n: Long,
                                   nSamples: Int = 800): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val rate = 8000 + (id % 3).toInt * 4000
          (s"aud_$id", AudioGen.encode(id, rate, nSamples), rate, nSamples)
        }
      }
      .toDF("audio_id", "bytes", "rate", "n_samples")
  }
}
