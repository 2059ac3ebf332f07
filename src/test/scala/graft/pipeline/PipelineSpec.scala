package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

import graft.SparkTestBase

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("GRB1 codec: decode inverts encode; lossy PSNR >= 40dB; phash stable") {
    for (id <- 0L until 200L) {
      val bytes = ImageGen.encode(id)
      val (w, h, lossy, rgb) = ImageGen.decode(bytes)
      assert((w, h) == ImageGen.pixelCount(id))
      assert(lossy == ImageGen.isLossy(id))
      val raw = ImageGen.rawPixels(id, w, h)
      if (!lossy) assert(rgb sameElements raw)
      else {
        val p = ImageGen.psnr(raw, rgb)
        assert(p >= 40.0, s"id=$id PSNR $p < 40dB")
      }
      assert(ImageGen.phash(w, h, rgb) == ImageGen.phash(w, h, rgb))
    }
  }

  test("image table: schema matches input_hint; deterministic across runs") {
    val df = ImageGen.table(spark, 500)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) == Seq(
      "image_id" -> "string", "bytes" -> "binary", "w" -> "int", "h" -> "int",
      "fmt" -> "string", "caption" -> "string", "phash" -> "bigint"))
    val a = df.orderBy("image_id").collect()
    val b = ImageGen.table(spark, 500, partitions = 7).orderBy("image_id").collect()
    a.zip(b).foreach { case (x, y) => assert(x == y) } // partitioning-invariant
  }

  test("expression-based image table ≡ round-6 row-based generator, bit for bit") {
    // the round-7 generator builds every column from codegen expressions
    // (grb1_bytes / grb1_phash kernels + Column math) so Catalyst can prune
    // and fuse — this differential pins that every value, including the
    // payload bytes, is identical to the mapPartitions original
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("image_id")
      .collect().map { r =>
        (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2), r.getInt(3),
          r.getString(4), r.getString(5), r.getLong(6)) }
    val neu = rows(ImageGen.table(spark, 600, partitions = 3))
    val old = rows(ImageGen.tableRowBased(spark, 600, partitions = 3))
    assert(neu.length == 600)
    neu.zip(old).foreach { case (a, b) => assert(a == b) }
    // pruning really fires: a metadata-only projection must not carry the
    // synthesis kernels in its optimized plan
    val meta = ImageGen.table(spark, 10).select("image_id", "w", "h", "fmt")
    val opt = meta.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ImageGen.encode(") && !opt.contains("ImageGen.phashOf("),
      s"metadata projection should prune the synthesis kernels:\n$opt")
    // and the phash-but-not-bytes shape keeps only the raster kernel
    val ph = ImageGen.table(spark, 10).select("image_id", "phash")
    val opt2 = ph.queryExecution.optimizedPlan.toString
    assert(!opt2.contains("ImageGen.encode(") && opt2.contains("ImageGen.phashOf("),
      s"phash projection should keep grb1_phash and prune grb1_bytes:\n$opt2")
  }

  test("expression-based audio/video tables ≡ row-based generators, bit for bit") {
    val na = AudioGen.table(spark, 300).orderBy("audio_id").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2), r.getInt(3)))
    val oa = AudioGen.tableRowBased(spark, 300).orderBy("audio_id").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2), r.getInt(3)))
    assert(na.length == 300); na.zip(oa).foreach { case (a, b) => assert(a == b) }
    val nv = VideoGen.table(spark, 200).orderBy("video_id").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2), r.getInt(3), r.getInt(4)))
    val ov = VideoGen.tableRowBased(spark, 200).orderBy("video_id").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(nv.length == 200); nv.zip(ov).foreach { case (a, b) => assert(a == b) }
    // metadata-only projections prune the payload kernels
    for ((df, kern) <- Seq(
      (AudioGen.table(spark, 10).select("audio_id", "rate"), "AudioGen.encode("),
      (VideoGen.table(spark, 10).select("video_id", "w", "h"), "VideoGen.encode("))) {
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.contains(kern), s"$kern not pruned:\n$opt")
    }
  }

  test("payload kernels are nullable only when an argument is; q80 infers no filter over the payload") {
    for (df <- Seq(ImageGen.table(spark, 5), AudioGen.table(spark, 5), VideoGen.table(spark, 5)))
      assert(!df.schema("bytes").nullable, df.schema)
    val range = spark.range(5)
    assert(!range.select(call_function("pca1_bytes", $"id", lit(8000), lit(800))).schema.head.nullable)
    val ids = Seq[java.lang.Long](1L, null).toDF("id")
    for (f <- Seq("grb1_bytes", "vid1_bytes"))
      assert(ids.select(call_function(f, $"id")).schema.head.nullable, f)
    assert(ids.select(call_function("pca1_bytes", $"id", lit(8000), lit(800))).schema.head.nullable)
    // a non-null payload gives a non-null ahash, so the band join over it
    // infers no isnotnull filter below the shard's projection
    val opt = graft.SparkEntry.queries("q80_perceptual_catalog")(spark, "")
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("isnotnull(static_invoke(graft.ops.MmRuntime.imageAhash(") &&
      !opt.contains("isnotnull((shiftrightunsigned("), opt)
  }

  test("withLngLat matches the closed-form scala formula") {
    val rows = ImageGen.withLngLat(ImageGen.table(spark, 300))
      .select($"image_id", $"lng", $"lat").collect()
    rows.foreach { r =>
      val id = r.getString(0).stripPrefix("img_").toLong
      assert(r.getDouble(1) == ImageGen.lngOf(id))
      assert(r.getDouble(2) == ImageGen.latOf(id))
    }
  }

  test("stages: checkpoint resume + per-partition lineage") {
    val dir = Files.createTempDirectory("graft_stages").toString
    var builds = 0
    def build() = { builds += 1; spark.range(100).select($"id", ($"id" * 2).as("v")) }

    val (df1, info1) = Stages.runStage(spark, dir, "s1")(build())
    assert(!info1.resumed && builds == 1 && info1.rows == 100)
    // lineage sums to total
    val lineage = Files.readString(java.nio.file.Paths.get(s"$dir/s1.lineage.json"))
    assert(lineage.contains("\"rows\":100") && lineage.contains("\"partition\""))

    val (df2, info2) = Stages.runStage(spark, dir, "s1")(build())
    assert(info2.resumed && builds == 1, "resume must not recompute")
    assert(df2.count() == df1.count())

    Stages.invalidate(dir, "s1")
    val (_, info3) = Stages.runStage(spark, dir, "s1")(build())
    assert(!info3.resumed && builds == 2)
  }

  test("stages: a crashed (partial, no _SUCCESS) stage recomputes cleanly") {
    val dir = Files.createTempDirectory("graft_crash").toString
    // simulate a mid-write crash: data files exist but no _SUCCESS marker
    val partial = new java.io.File(s"$dir/s2")
    partial.mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$dir/s2/part-00000.parquet"), "garbage")
    var builds = 0
    val (df, info) = Stages.runStage(spark, dir, "s2") {
      builds += 1; spark.range(50).toDF()
    }
    assert(!info.resumed && builds == 1 && df.count() == 50)
    // and now it resumes
    val (_, info2) = Stages.runStage(spark, dir, "s2")(spark.range(50).toDF())
    assert(info2.resumed)
  }

  test("ingest flow: five-stage results stable, resume skips completed stages, crash resumes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val root = Files.createTempDirectory("graft_ingest_spec").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val first = rows(Ingest.run(spark, docs, root))
    assert(first.nonEmpty)
    // survivors ⊂ shard (never the accepted slice), with the stats constant
    assert(first.forall(r => r(0).asInstanceOf[Long] % 3 != 0))
    assert(first.map(_(2)).distinct.size == 1)
    // re-run over the SAME root: every stage resumes (parquet read-back),
    // results identical
    val again = rows(Ingest.run(spark, docs, root))
    assert(again == first)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/s1_dedup/_SUCCESS")) &&
           Files.exists(java.nio.file.Paths.get(s"$root/s5_stats/_SUCCESS")))
    // lineage JSON landed per stage
    Seq("s1_dedup", "s2_decontam", "s3_quality", "s4_sample", "s5_stats").foreach { s =>
      assert(Files.exists(java.nio.file.Paths.get(s"$root/$s.lineage.json")), s)
    }
    // crash simulation: wipe a middle stage — the re-run recomputes it (and
    // only downstream reads change) and lands on the same values
    Stages.invalidate(root, "s3_quality")
    val resumed = rows(Ingest.run(spark, docs, root))
    assert(resumed == first)
    // fresh root reproduces the same values (determinism across workspaces)
    val root2 = Files.createTempDirectory("graft_ingest_spec2").toString
    assert(rows(Ingest.run(spark, docs, root2)) == first)
    // line-synthesis mode (the q92 demonstration flag) runs green too and
    // keeps the survivors-within-shard invariant; default is VERBATIM text
    val root3 = Files.createTempDirectory("graft_ingest_spec3").toString
    val synth = rows(Ingest.run(spark, docs, root3, synthesizeLines = true))
    assert(synth.nonEmpty && synth.forall(r => r(0).asInstanceOf[Long] % 3 != 0))
  }

  test("flagship pipeline end-to-end: join rows + tile totals + resume") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val r = GeoImagePipeline.run(spark, nImages = 3000, workDir = dir)
    assert(r.images.count() == 3000)
    val joined = r.joined.count()
    assert(joined > 0, "flagship join matched nothing")
    assert(r.tiled.count() == 3000, "every image gets exactly one tile")
    assert(r.infos.length == 4 && r.infos.forall(!_.resumed))
    // mosaic stage: member counts sum to the image count, payloads are 16x16
    assert(r.mosaics.agg(sum($"n_images")).as[Long].head() == 3000L)
    val m = r.mosaics.select(
      graft.ops.Multimodal.image_meta($"mosaic").getField("w"),
      graft.ops.Multimodal.image_meta($"mosaic").getField("h"))
      .distinct().as[(Int, Int)].collect()
    assert(m.toSeq == Seq((16, 16)))

    // join output equals brute force
    val polys = GeoImagePipeline.fixturePolygons(spark)
    val pts   = ImageGen.withLngLat(r.images)
    val brute = pts.crossJoin(polys)
      .where(graft.geo.sql.GeoFunctions.st_contains($"geom", $"lng", $"lat"))
      .select("image_id", "poly_id")
    assert(r.joined.select("image_id", "poly_id").exceptAll(brute).isEmpty)
    assert(brute.exceptAll(r.joined.select("image_id", "poly_id")).isEmpty)

    // second run resumes all four stages
    val r2 = GeoImagePipeline.run(spark, nImages = 3000, workDir = dir)
    assert(r2.infos.length == 4 && r2.infos.forall(_.resumed))
    assert(r2.joined.count() == joined)
    assert(r2.mosaics.count() == r.mosaics.count())
  }
}
