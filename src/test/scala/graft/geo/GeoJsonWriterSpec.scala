package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.SparkTestBase
import graft.geo.sources.GeoJsonWriter
import graft.geo.sql.GeoFunctions._

class GeoJsonWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def featureJson(i: Int) =
    s"""{"type":"Feature","properties":{"i":$i},"geometry":{"type":"Point","coordinates":[$i.5,2.25]}}"""

  test("newline-delimited sink round-trips through from_geojson") {
    val dir = Files.createTempDirectory("gjw1").toString + "/out"
    val df  = (1 to 50).map(featureJson).toDF("raw")
      .select(from_geojson($"raw").as("top"))
    GeoJsonWriter.writeFeatureLines(df, "top", dir)
    val back = spark.read.text(dir)
      .select(from_geojson($"value").getField("feature").as("f"))
      .select(get_json_object($"f.properties", "$.i").cast("int").as("i"))
      .as[Int].collect().sorted
    assert(back.toSeq == (1 to 50))
  }

  test("RFC 8142 text-sequence sink: RS-prefixed texts the reader re-splits") {
    val dir = Files.createTempDirectory("gjw3").toString + "/out"
    // mixed sequence: plain features AND a whole FeatureCollection text
    val rows = (1 to 20).map(featureJson) :+
      s"""{"type":"FeatureCollection","features":[${featureJson(21)},${featureJson(22)}]}"""
    GeoJsonWriter.writeTextSequence(rows.toDF("json"), "json", dir)
    // bytes carry the RS separator before every text
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.nonEmpty)
    val bytes = Files.readAllBytes(files.minBy(_.getName).toPath)
    assert(bytes.count(_ == 0x1E.toByte) > 0, "no RS separators written")
    // reader auto-detects the sequence and flattens FCs (21 + 22 included)
    val feats = spark.read.format("geojson").load(dir + "/part-*")
      .select("feature_json").as[String].collect()
      .map(t => get_json_object_i(t))
      .sorted
    assert(feats.toSeq == (1 to 22))
  }

  private def get_json_object_i(t: String): Int =
    graft.geo.json.JValue.parseUnsafe(t) match {
      case o: graft.geo.json.JObj =>
        o.get("properties").collect { case p: graft.geo.json.JObj =>
          p.get("i").collect { case graft.geo.json.JNum(d) => d.toInt }
        }.flatten.getOrElse(-1)
      case _ => -1
    }

  test("FeatureCollection document sink produces valid docs the reader can split") {
    val dir = Files.createTempDirectory("gjw2").toString + "/out"
    val df  = (1 to 40).map(featureJson).toDF("json")
    GeoJsonWriter.writeFeatureCollections(df, "json", dir, partitions = 3)
    // every part file is one valid FeatureCollection; reader re-splits them
    val feats = spark.read.format("geojson").load(dir + "/part-*")
      .select(from_geojson(col("feature_json")).getField("feature").as("feature"))
      .select(get_json_object(col("feature.properties"), "$.i").cast("int").as("i"))
      .as[Int].collect().sorted
    assert(feats.toSeq == (1 to 40))
    // and each document parses as a whole via the codec
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length == 3)
    files.foreach { f =>
      val doc = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val parsed = graft.geo.json.GeoJsonCodec.parse(doc)
      assert(parsed.isRight, s"${f.getName}: ${parsed.left.getOrElse("")}")
    }
  }
}
