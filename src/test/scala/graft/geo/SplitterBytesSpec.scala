package graft.geo

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions._

/** The FeatureCollection splitter: byte-faithful feature texts in every
  * encoding and in `malformed=replace`, the same readings as `mode=resync`,
  * and loud failure on malformed input. */
class SplitterBytesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def write(bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("geojson_bytes")
    val p = dir.resolve("doc.geojson")
    Files.write(p, bytes)
    p.toString
  }

  private def readTexts(path: String, options: (String, String)*): Seq[String] =
    spark.read.format("geojson").options(options.toMap).load(path).orderBy("seq")
      .select("feature_json").as[String].collect().toSeq

  // a one-feature collection, split inside a property string
  private val fcHead = """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"nom":"A"""
  private val fcTail = """B"},"geometry":null}]}"""

  test("strict splitter emits each feature's source bytes as they are") {
    val rng = new scala.util.Random(3)
    // whitespace inside features, non-shortest numbers, escapes, non-ASCII,
    // and features far larger than one read chunk (the recording buffer
    // must grow, then keep only the live feature)
    val feats = (0 until 120).map { i =>
      val n = if (i % 40 == 7) 6000 else rng.nextInt(30) + 1
      val coords = (0 until n).map(j => s"[ ${j * 0.1 - 91.54000000000001} ,\t${i}.50E0 ]")
        .mkString("[", ",\n  ", "]")
      s"""{ "type" : "Feature", "properties": {"s":"é\\u00e9\\"\\n 𝄞 $i", "x": 1e400},""" +
        s""" "geometry": {"type":"LineString","coordinates":$coords} }"""
    }
    val doc = s"""{"type":"FeatureCollection", "bbox":[0, 0, 1, 1],"features":[ ${feats.mkString(" ,\n")} ] }"""
    assert(readTexts(write(doc.getBytes(UTF_8))) == feats)
    // behind a UTF-8 byte-order mark, as ND-JSON single values, and as an
    // RFC 8142 text sequence
    assert(readTexts(write(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ doc.getBytes(UTF_8))) == feats)
    val few = feats.take(9)
    assert(readTexts(write(few.mkString("\n").getBytes(UTF_8))) == few)
    assert(readTexts(write(few.map("\u001e" + _ + "\n").mkString.getBytes(UTF_8))) == few)
    // UTF-16BE behind a byte-order mark, UTF-16LE by its null-byte pattern,
    // and clean UTF-8 read with malformed=replace
    assert(readTexts(write(Array(0xFE, 0xFF).map(_.toByte) ++ doc.getBytes("UTF-16BE"))) == feats)
    assert(readTexts(write(doc.getBytes("UTF-16LE"))) == feats)
    assert(readTexts(write(doc.getBytes(UTF_8)), "malformed" -> "replace") == feats)
  }

  test("an overflowing 1e400 coordinate reads the same through strict and resync") {
    val doc =
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"n":1},"geometry":{"type":"Point","coordinates":[1e400,2]}}]}"""
    val path = write(doc.getBytes(UTF_8))
    def read(p: String, option: (String, String)) =
      spark.read.format("geojson").option(option._1, option._2).load(p)
        .select(col("feature_json"), to_geojson(from_geojson(col("feature_json"))))
        .as[(String, String)].collect().toSeq
    val strict = read(path, "mode" -> "strict")
    val resync = read(path, "mode" -> "resync")
    assert(strict == resync, s"strict $strict vs resync $resync")
    val utf16 = read(write(doc.getBytes("UTF-16LE")), "mode" -> "strict")
    assert(utf16 == strict, s"strict UTF-16 $utf16 vs strict $strict")
    val replace = read(path, "malformed" -> "replace")
    assert(replace == strict, s"replace $replace vs strict $strict")
    assert(strict.size == 1 && strict.head._2 != null && strict.head._1.contains("1e400"))
  }

  test("strict mode fails the task on an invalid UTF-8 byte inside a property string") {
    val path = write(fcHead.getBytes(UTF_8) ++ Array(0xFF.toByte) ++ fcTail.getBytes(UTF_8))
    intercept[org.apache.spark.SparkException](readTexts(path))
    // the scan fails even when no column of it is read
    intercept[org.apache.spark.SparkException](spark.read.format("geojson").load(path).count())
  }

  test("strict mode fails the task on a lone surrogate in a UTF-16BE property string") {
    val path = write(fcHead.getBytes("UTF-16BE") ++ Array(0xDC, 0x00).map(_.toByte) ++
      fcTail.getBytes("UTF-16BE"))
    val ex = intercept[org.apache.spark.SparkException](readTexts(path))
    assert(ex.getMessage.contains("MalformedInputException"), ex.getMessage)
  }

  test("strict mode fails the task on UTF-32 input") {
    // RFC 8259 §8.1 and the reference read UTF-8 and UTF-16 only
    val path = write((fcHead + fcTail).getBytes("UTF-32BE"))
    val ex = intercept[org.apache.spark.SparkException](readTexts(path))
    assert(ex.getMessage.contains("must be UTF-8 or UTF-16"), ex.getMessage)
  }

  test("strict mode fails the task on a malformed number inside a feature") {
    val path = write(
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"x":1.}}]}""".getBytes(UTF_8))
    intercept[org.apache.spark.SparkException](readTexts(path))
    intercept[org.apache.spark.SparkException](spark.read.format("geojson").load(path).count())
  }
}
