package graft.geo.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.geo.sql.GeoFunctions._

/** GeoJSON sinks — the serialize side of the reference recast for tables:
  *
  *  - [[writeFeatureLines]]: one feature per line (newline-delimited
  *    GeoJSON, the format large pipelines actually exchange) — a plain
  *    distributed text write of `to_geojson`.
  *  - [[writeFeatureCollections]]: RFC 7946 FeatureCollection documents,
  *    one per output partition, assembled streamingly inside each task
  *    (constant memory — the encoder analogue of geojsone's push encoder,
  *    /root/reference/src/geojsone/vendor/jsone/jsone.ml:683-900).
  */
object GeoJsonWriter {

  /** df must carry a top-struct column (GeoStruct.topType) named `col`. */
  def writeFeatureLines(df: DataFrame, topCol: String, path: String): Unit =
    df.select(to_geojson(col(topCol)).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** RFC 8142 GeoJSON text sequence: each row's JSON text prefixed with RS
    * (0x1E) and terminated with LF — the third container format the reader
    * auto-detects, closing the source/sink matrix. Input column: any GeoJSON
    * text per row (features or whole FeatureCollections). */
  def writeTextSequence(df: DataFrame, jsonCol: String, path: String): Unit =
    df.select(concat(lit("\u001e"), col(jsonCol).cast("string")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** Exactly `partitions` files, each one `{"type":"FeatureCollection",
    * "features":[...]}` document holding every input row once. Input
    * column: per-feature GeoJSON text.
    *
    * An input with at least `partitions` splits is coalesced, with no
    * shuffle: each file holds whole input splits, each in its input order,
    * and when the splits carry no preferred locations (the `geojson`
    * source, ranges, local rows) a file holds consecutive splits in input
    * order. An input with fewer splits is spread round-robin (one
    * shuffle), which keeps no order. The upstream plan runs once either
    * way: the split count is read from its RDD, which the write then uses. */
  def writeFeatureCollections(df: DataFrame, jsonCol: String, path: String, partitions: Int): Unit = {
    import df.sparkSession.implicits._
    df.sparkSession.createDataset(featureCollections(df, jsonCol, partitions))
      .write.mode(SaveMode.Overwrite).text(path)
  }

  /** The documents [[writeFeatureCollections]] writes: one per split. */
  private[graft] def featureCollections(df: DataFrame, jsonCol: String, partitions: Int): RDD[String] = {
    import df.sparkSession.implicits._
    val features = df.select(col(jsonCol).cast("string")).as[String].rdd
    (if (features.getNumPartitions >= partitions) features.coalesce(partitions)
     else features.repartition(partitions))
      .mapPartitions { it =>
        // lazily stitch the document around the feature stream
        var sep = ""
        Iterator.single("""{"type":"FeatureCollection","features":[""") ++
          it.map { f => val line = sep + f; sep = ","; line } ++ Iterator.single("]}")
      }
  }
}
