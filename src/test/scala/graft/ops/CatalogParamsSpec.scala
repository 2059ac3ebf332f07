package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The signature catalog's `params` table: what it records and when it
  * exists (it is the catalog's commit marker). */
class CatalogParamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def corpus(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"catalog params $tag document body number $i")).toDF("id", "text")

  test("near mode rejects an exact-only catalog, appended shards included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_exact").toString + "/catalog"
    Dedup.writeCatalog(corpus(30, "base"), "id", "text", dir, withMinhash = false)
    Dedup.appendToCatalog(corpus(5, "shard").select(($"id" + 1000L).as("id"), $"text"),
      "id", "text", dir)
    // a near-dup of a BASE document: the catalog has no bands for it
    val shard = Seq((5000L, "catalog params base document body number 3 and a tail"))
      .toDF("id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupAgainst(shard, "id", "text", dir, mode = "near").collect())
    assert(e.getMessage.contains("withMinhash = false"), e.getMessage)
    intercept[IllegalArgumentException](Dedup.catalogPairs(shard, "id", "text", dir).collect())
    // exact mode still works and sees both the base and the appended shard
    val again = corpus(2, "base").unionByName(
      Seq((1001L, "catalog params shard document body number 1")).toDF("id", "text"))
      .select(($"id" + 7000L).as("id"), $"text")
    assert(Dedup.dedupAgainst(again, "id", "text", dir, mode = "exact").isEmpty)
  }

  test("a failed rebuild over an existing catalog leaves no params marker") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_rebuild").toString + "/catalog"
    Dedup.writeCatalog(corpus(20, "first"), "id", "text", dir)
    assert(new java.io.File(s"$dir/params/_SUCCESS").exists())
    val failing = corpus(20, "second")
      .withColumn("text", when($"id" === 7L, raise_error(lit("corpus column failed")))
        .otherwise($"text"))
    intercept[Exception](Dedup.writeCatalog(failing, "id", "text", dir))
    assert(!new java.io.File(s"$dir/params").exists(),
      "the previous build's params survived a failed rebuild")
  }
}
