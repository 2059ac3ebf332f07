package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkTestBase
import graft.geo.json.{GeoJsonCodec, JNum, JObj}
import graft.geo.model.GeoModel.{GCollection, GeoJson}
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

  /** Feature text with property `i` = the range's id, over `splits` splits. */
  private def rangeFeatures(n: Int, splits: Int): DataFrame =
    spark.range(0, n, 1, splits).select(concat(
      lit("""{"type":"Feature","properties":{"i":"""), col("id").cast("string"),
      lit("""},"geometry":{"type":"Point","coordinates":["""), col("id").cast("string"),
      lit(""".5,2.25]}}""")).as("json"))

  /** Writes `df` as `partitions` FeatureCollection files and returns, per
    * file in part order, the `i` of its features in document order, with
    * the executed plans and the task count of every stage the write ran. */
  private def writeCollections(df: DataFrame, partitions: Int)
      : (Seq[Seq[Int]], Seq[String], Seq[Int]) = {
    val dir = Files.createTempDirectory("gjw4").toString + "/out"
    val plans = new ConcurrentLinkedQueue[String]()
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      GeoJsonWriter.writeFeatureCollections(df, "json", dir, partitions)
      Thread.sleep(1000) // listener delivery is asynchronous
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq
    val ids = files.map { f =>
      GeoJsonCodec.parse(new String(Files.readAllBytes(f.toPath), "UTF-8")) match {
        case Right(GeoJson(GCollection(fc), _)) => fc.features.map(_.properties match {
          case Some(p: JObj) => p.get("i").collect { case JNum(d) => d.toInt }.getOrElse(-1)
          case _             => -1
        })
        case other => fail(s"${f.getName} is not one FeatureCollection: $other")
      }
    }
    import scala.jdk.CollectionConverters._
    (ids, plans.asScala.toSeq, stageTasks.asScala.toSeq)
  }

  test("FeatureCollection sink from fewer splits than files: exactly that many files, every row once") {
    val (files, _, _) = writeCollections(rangeFeatures(40, 1), partitions = 3)
    assert(files.length == 3 && files.forall(_.nonEmpty), files)
    assert(files.flatten.sorted == (0 until 40))
  }

  test("FeatureCollection sink from more splits than files: no exchange, whole splits in input order") {
    val (files, plans, stageTasks) = writeCollections(rangeFeatures(60, 6), partitions = 3)
    assert(files.length == 3, files)
    assert(files.flatten.sorted == (0 until 60))
    // input order within each file, and each split of 10 ids in one file
    assert(files.forall(f => f == f.sorted), files)
    assert(files.map(_.map(_ / 10).toSet).flatten.sorted == (0 until 6), files)
    val write = plans.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(write.length == 1 && !write.head.contains("Exchange"), plans.mkString("\n"))
    assert(stageTasks == Seq(3), s"stages run, by task count: $stageTasks")
  }
}
