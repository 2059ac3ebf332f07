package graft.geo.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 `geojson` format (SURVEY.md §2.6: "a DataSourceV2
  * PartitionReader that runs a Jackson streaming parser and emits feature
  * rows — direct analogue of r_lexeme-driven scanning").
  *
  *   spark.read.format("geojson").load(pathOrGlob)
  *
  * Output schema: (feature_json STRING) — one row per feature of every
  * FeatureCollection document, parsed INCREMENTALLY (constant memory per
  * task regardless of document size; the geojsone capability). Each file is
  * one input split (a JSON document cannot be split blindly); many files
  * parallelize across tasks. Compose with `from_geojson(feature_json)` for
  * the typed struct — kept separate so Catalyst can prune/push around the
  * scan before any parsing happens.
  */
class GeoJsonDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geojson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoJsonDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GeoJsonTable(properties.asScala.toMap)
}

object GeoJsonDataSource {
  // `seq` = 0-based position of the feature within its file: (file, seq) is
  // the reader's total document order, the sort key for the ordered folds
  // (GeoStreams.foldGeometryOrdered) that mirror geojsone's sequential fold
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("feature_json", StringType, nullable = false)))
}

class GeoJsonTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"geojson(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = GeoJsonDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GeoJsonScan(options)
}

case class GeoJsonInputPartition(path: String) extends InputPartition

/** Files are listed and opened with the session's Hadoop configuration
  * (`spark.hadoop.*`, SQL conf and the read's options included), built once
  * per scan and broadcast to the readers. */
class GeoJsonScan(options: CaseInsensitiveStringMap) extends Scan with Batch {
  override def readSchema(): StructType = GeoJsonDataSource.schema
  override def toBatch: Batch = this

  private lazy val hadoopConf: Broadcast[SerializableConfiguration] = {
    val spark = org.apache.spark.sql.classic.SparkSession.active
    spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sessionState.newHadoopConfWithOptions(options.asScala.toMap)))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val paths = Option(options.get("path")).toSeq ++
      Option(options.get("paths")).toSeq.flatMap(_.split(","))
    require(paths.nonEmpty, "geojson source requires a path")
    val conf = hadoopConf.value.value
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val stats = fs.globStatus(hp) match {
        case null  => Array.empty[org.apache.hadoop.fs.FileStatus]
        case globs => globs.flatMap { g =>
          if (g.isDirectory) fs.listStatus(g.getPath).filterNot(_.isDirectory) else Array(g)
        }
      }
      stats.map(s => GeoJsonInputPartition(s.getPath.toString))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // option("malformed", "replace"): malformed bytes -> U+FFFD, scan
    // continues (uutfe recovery); option("mode", "resync"): additionally
    // recover from malformed TOKENS via discard_to (jsone recovery).
    // Default: loud failure on both.
    new GeoJsonReaderFactory(hadoopConf,
      "replace".equalsIgnoreCase(options.get("malformed")),
      "resync".equalsIgnoreCase(options.get("mode")))
}

class GeoJsonReaderFactory(conf: Broadcast[SerializableConfiguration], malformedReplace: Boolean,
                           resync: Boolean) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GeoJsonPartitionReader(partition.asInstanceOf[GeoJsonInputPartition].path,
      conf.value.value, malformedReplace, resync)
}

/** One file = one split; features stream through Jackson incrementally. The
  * strict splitter's UTF-8 byte slices become rows without a String. */
class GeoJsonPartitionReader(path: String, conf: org.apache.hadoop.conf.Configuration,
    malformedReplace: Boolean = false, resync: Boolean = false) extends PartitionReader[InternalRow] {
  private val hp = new Path(path)
  private val in = hp.getFileSystem(conf).open(hp)
  private val it: Iterator[UTF8String] =
    if (resync) GeoJsonReader.resyncFeatures(in).map(UTF8String.fromString)
    else GeoJsonReader.splitFeatures(in, malformedReplace).map(UTF8String.fromBytes)
  private val fileUtf8 = UTF8String.fromString(path)
  private var current: UTF8String = _
  private var seq: Long = -1L

  override def next(): Boolean = {
    if (it.hasNext) { current = it.next(); seq += 1; true } else false
  }
  override def get(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](fileUtf8, seq, current))
  override def close(): Unit = try in.close() catch { case _: Exception => () }
}
