package graft.geo

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.sources.GeoJsonReader
import graft.geo.sql.GeoFunctions._

/** The strict FeatureCollection splitter on UTF-8 input: byte-faithful
  * feature texts, the same readings as `mode=resync`, and loud failure on
  * malformed input. */
class SplitterBytesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def write(bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("geojson_bytes")
    val p = dir.resolve("doc.geojson")
    Files.write(p, bytes)
    p.toString
  }

  private def strictTexts(path: String): Seq[String] =
    spark.read.format("geojson").load(path).orderBy("seq")
      .select("feature_json").as[String].collect().toSeq

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
    assert(strictTexts(write(doc.getBytes(UTF_8))) == feats)
    // behind a UTF-8 byte-order mark, as ND-JSON single values, and as an
    // RFC 8142 text sequence
    assert(strictTexts(write(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ doc.getBytes(UTF_8))) == feats)
    val few = feats.take(9)
    assert(strictTexts(write(few.mkString("\n").getBytes(UTF_8))) == few)
    assert(strictTexts(write(few.map("\u001e" + _ + "\n").mkString.getBytes(UTF_8))) == few)
  }

  test("an overflowing 1e400 coordinate reads the same through strict and resync") {
    val path = write(
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"n":1},"geometry":{"type":"Point","coordinates":[1e400,2]}}]}"""
        .getBytes(UTF_8))
    def read(mode: String) = spark.read.format("geojson").option("mode", mode).load(path)
      .select(col("feature_json"), to_geojson(from_geojson(col("feature_json"))))
      .as[(String, String)].collect().toSeq
    val strict = read("strict")
    val resync = read("resync")
    assert(strict == resync, s"strict $strict vs resync $resync")
    assert(strict.size == 1 && strict.head._2 != null && strict.head._1.contains("1e400"))
  }

  test("strict mode fails the task on an invalid UTF-8 byte inside a property string") {
    val head = """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"nom":"A""".getBytes(UTF_8)
    val tail = """B"},"geometry":null}]}""".getBytes(UTF_8)
    val path = write(head ++ Array(0xFF.toByte) ++ tail)
    intercept[org.apache.spark.SparkException](strictTexts(path))
    intercept[org.apache.spark.SparkException](GeoJsonReader.featureTexts(spark, path).collect())
  }

  test("strict mode fails the task on a malformed number inside a feature") {
    val path = write(
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"x":1.}}]}""".getBytes(UTF_8))
    intercept[org.apache.spark.SparkException](strictTexts(path))
    intercept[org.apache.spark.SparkException](GeoJsonReader.featureTexts(spark, path).collect())
  }
}
