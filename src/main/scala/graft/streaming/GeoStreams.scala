package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geo.sql.GeoFunctions._

/** The six geojsone streaming operators (SURVEY.md §2.5) as DataFrame/
  * Structured-Streaming combinators. Each works identically on a batch
  * DataFrame and a `readStream` DataFrame — narrow maps stay narrow (no
  * shuffle; whole-stage codegen fuses them, the moral equivalent of the
  * reference's single-pass decode→transform→encode fusion,
  * /root/reference/src/geojsone/geojsone.ml:165-196).
  *
  * The input convention is a column of per-feature GeoJSON text (what
  * [[graft.geo.sources.GeoJsonReader]] produces from a giant document).
  */
object GeoStreams {

  /** map_geometry (geojsone.ml:165-196): rewrite the geometry of every
    * feature with a Column function over the packed geometry struct,
    * re-serializing to GeoJSON text. `f` maps geometry-struct → geometry-
    * struct. One parse per feature, as in [[mapProps]]. */
  def mapGeometry(df: DataFrame, jsonCol: String, f: Column => Column): DataFrame =
    df.withColumn(jsonCol, with_feature_geometry(col(jsonCol),
      f(from_geojson(col(jsonCol)).getField("feature").getField("geometry"))))

  /** map_props (geojsone.ml:198-221): rewrite the properties JSON text.
    *
    * One parse per feature: `with_feature_props` renders from
    * `from_geojson(json)`, the same expression `f`'s argument reads the
    * properties from, so whole-stage codegen's subexpression elimination
    * parses each feature once and renders the new document straight from
    * the packed row (the reference decodes, transforms and encodes each
    * feature in one streaming pass). It deliberately does NOT go through
    * `withField → to_geojson` over the full top struct: that formulation
    * materializes the wide nested struct in a row (a one-time multi-second
    * Janino row-writer compile) or, inlined, duplicates the parse inside a
    * giant UpdateFields tree (measured 14.5 s of plan/codegen for a 25-row
    * table). */
  def mapProps(df: DataFrame, jsonCol: String, f: Column => Column): DataFrame =
    df.withColumn(jsonCol, with_feature_props(col(jsonCol),
      f(from_geojson(col(jsonCol)).getField("feature").getField("properties"))))

  /** fold_geometry (geojsone.ml:223-242): aggregate over the geometry
    * column; `agg` receives the packed geometry struct column. */
  def foldGeometry(df: DataFrame, jsonCol: String, aggs: Column => Seq[Column]): DataFrame = {
    val g = from_geojson(col(jsonCol)).getField("feature").getField("geometry")
    df.agg(aggs(g).head, aggs(g).tail: _*)
  }

  /** fold_props (geojsone.ml:244-257). */
  def foldProps(df: DataFrame, jsonCol: String, aggs: Column => Seq[Column]): DataFrame = {
    val p = from_geojson(col(jsonCol)).getField("feature").getField("properties")
    df.agg(aggs(p).head, aggs(p).tail: _*)
  }

  /** ORDERED fold_geometry — the exact sequential document-order semantics
    * of the reference fold (geojsone.ml:223-242 folds the token stream
    * front-to-back) for NON-commutative `f`. [[foldGeometry]] maps the fold
    * onto commutative Spark aggregates; when `f` is order-sensitive, this
    * variant collects `(order, geometry)` pairs, sorts the collected array
    * (deterministic regardless of partitioning), and folds it left with the
    * Column function `f(acc, geom)` — one row out, column name `fold`.
    *
    * `order` is the reader's row order: the `geojson` source's
    * `(file, seq)` columns (GeoJsonDataSource emits `seq` = position within
    * the file). The whole input folds on ONE row — the inherent price of
    * sequential semantics; prefer [[foldGeometry]] whenever `f` commutes.
    */
  def foldGeometryOrdered(df: DataFrame, jsonCol: String, order: Seq[Column],
                          init: Column, f: (Column, Column) => Column): DataFrame =
    foldOrdered(df, order,
      from_geojson(col(jsonCol)).getField("feature").getField("geometry"), init, f)

  /** ORDERED fold_props — sequential twin of [[foldProps]]; `f` receives the
    * properties JSON text. */
  def foldPropsOrdered(df: DataFrame, jsonCol: String, order: Seq[Column],
                       init: Column, f: (Column, Column) => Column): DataFrame =
    foldOrdered(df, order,
      from_geojson(col(jsonCol)).getField("feature").getField("properties"), init, f)

  private def foldOrdered(df: DataFrame, order: Seq[Column], value: Column,
                          init: Column, f: (Column, Column) => Column): DataFrame = {
    val keyed  = struct((order :+ value.as("__v")): _*)
    val sorted = sort_array(collect_list(keyed)) // lexicographic: order cols first
    df.agg(aggregate(transform(sorted, _.getField("__v")), init, f).as("fold"))
  }

  /** iter_geometry (geojsone.ml:259-275): side-effecting visit of every
    * `"geometry"` member in document order, exactly like the reference's
    * token-stream scan — it fires wherever the member name appears (each
    * feature of a collection; even inside user properties), passes the full
    * member value (bbox and foreign members intact, the reference's
    * `G.of_json` result), and does not recurse into a visited subtree
    * (`decode_single_object` consumes it). The reference is a single-fiber
    * sequential visit, so this drains to the driver with `toLocalIterator`
    * — one partition in flight at a time, constant driver memory.
    * Distributed side effects should use `df.foreach`. */
  def iterGeometry(df: DataFrame, jsonCol: String)(f: String => Unit): Unit =
    iterMember(df, jsonCol, "geometry")(f)

  /** iter_props (geojsone.ml:277-290): every `"properties"` member. */
  def iterProps(df: DataFrame, jsonCol: String)(f: String => Unit): Unit =
    iterMember(df, jsonCol, "properties")(f)

  private def iterMember(df: DataFrame, jsonCol: String, member: String)(
      f: String => Unit): Unit = {
    import graft.geo.json.{JArr, JObj, JValue}
    def walk(v: JValue): Unit = v match {
      case JObj(fields) =>
        fields.foreach { case (k, fv) =>
          if (k == member) f(fv.render) // consume: no recursion inside
          else walk(fv)
        }
      case JArr(items) => items.foreach(walk)
      case _           =>
    }
    df.select(col(jsonCol)).toLocalIterator()
      .forEachRemaining(r => JValue.parse(r.getString(0)).foreach(walk))
  }
}
