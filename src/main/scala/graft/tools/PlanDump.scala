package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Dump formatted physical plans of the engine's key flows to PLANS.md —
  * the `.explain("formatted")` evidence the build brief asks to iterate on.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.buildSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    graft.geo.sql.GeoFunctions.register(spark)
    graft.ops.TextFunctions.register(spark)
    graft.ops.Multimodal.register(spark)
    graft.ops.Sketches.register(spark)
    graft.geo.plans.PipPrefilterRule.install(spark)
    import graft.geo.sql.GeoFunctions._
    import spark.implicits._

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the key flows (auto-generated by graft.tools.PlanDump)\n")

    def dump(title: String, notes: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$notes\n\n```\n")
      sb.append(arraysByContent(df, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }

    val imgs  = graft.pipeline.ImageGen.withLngLat(graft.pipeline.ImageGen.table(spark, 1000))
    val polys = graft.pipeline.GeoImagePipeline.fixturePolygons(spark)

    dump("Flagship: image PIP join + tile assignment",
      "Points indexed once (codegen hex_cell), polygon covers exploded and BROADCAST, " +
      "int64 equi-join, codegen st_contains refine, codegen tile_key — one narrow " +
      "pipeline around a single broadcast join; no shuffle on the 10^12-row side.") {
      graft.geo.join.SpatialJoins.assignTiles(
        graft.geo.join.SpatialJoins.pipJoin(imgs, "lng", "lat", polys, "geom", 5),
        "lng", "lat", 12)
        .select("image_id", "poly_id", "tile_key")
    }

    val customers = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumn("lng", (col("c_custkey") * 7919L % 36000L) / 100.0 - 180.0)
      .withColumn("lat", (col("c_custkey") * 104729L % 16800L) / 100.0 - 84.0)

    dump("Constant-geometry st_contains filter (PipPrefilterRule applied)",
      "The custom optimizer rule conjoins a sound s2_cell InSet prefilter; with a " +
      "stored/sorted cell column this becomes parquet min-max pruning.") {
      customers.where(st_contains(from_geojson_geom(
        lit("""{"type":"Polygon","coordinates":[[[100.0,0.0],[101.0,0.0],[101.0,1.0],[100.0,1.0],[100.0,0.0]]]}""")),
        col("lng"), col("lat")))
    }

    dump("Cell rollup (map-side partial aggregation)",
      "HashAggregate(partial) before the exchange — combine happens map-side.") {
      customers.withColumn("cell", s2_cell(col("lng"), col("lat"), lit(10)))
        .groupBy("cell").count()
    }

    dump("from_geojson round-trip projection (narrow, no shuffle)",
      "Parse → struct → serialize stays a single project over the scan.") {
      Seq("""{"type":"Point","coordinates":[1.0,2.0]}""").toDF("raw")
        .select(to_geojson(from_geojson(col("raw"))).as("back"))
    }

    dump("multi-field extraction: whole-stage codegen + one shared parse",
      "The codec kernels generate real code (static GeoRuntime calls), so " +
        "the Project stays inside WholeStageCodegen (`*(N)` prefix) and " +
        "subexpression elimination evaluates fromgeojsongeom ONCE for all " +
        "three field extractions (with CodegenFallback this re-parsed per " +
        "field — measured ~3x).") {
      val g = from_geojson_geom(col("json"))
      spark.range(10)
        .withColumn("json", concat(lit("""{"type":"Point","coordinates":["""),
          (col("id") % 360 - 180).cast("string"), lit(","),
          (col("id") % 160 - 80).cast("string"), lit("]}")))
        .select(element_at(g.getField("coords"), 1).as("lng"),
          element_at(g.getField("coords"), 2).as("lat"),
          st_geometry_type(g).as("gtype"))
    }

    dump("Random generator round-trip (q34 shape): whole-stage codegen, one shared generator call",
      "random_geojson / with_feature_props / with_feature_geometry generate " +
        "real code (static GeoRuntime calls) like the codec kernels, so the " +
        "q34 projection — which references the generated text three times " +
        "(kind, round-trip, equality) after CollapseProject inlining — stays " +
        "inside WholeStageCodegen and subexpression elimination evaluates the " +
        "generator ONCE per row (as CodegenFallback the interpreted Project " +
        "ran it up to 3x).") {
      spark.range(500)
        .withColumn("json", call_function("random_geojson", col("id"), lit(42L)))
        .withColumn("back", to_geojson(from_geojson(col("json"))))
        .select(col("id"),
          get_json_object(col("json"), "$.type").as("kind"),
          (col("back") === col("json")).as("ok"))
    }

    // the geobench geojson_etl pass over 4 one-feature files
    val etlIn = Files.createTempDirectory("plan_etl")
    (1 to 4).foreach(i => Files.writeString(etlIn.resolve(s"f$i.geojson"), """{"type":"FeatureCollection",""" +
      s""""features":[{"type":"Feature","properties":{"i":$i},"geometry":{"type":"Point","coordinates":[$i,2]}}]}"""))
    val etl = graft.streaming.GeoStreams.mapProps(spark.read.format("geojson").load(etlIn.toString)
        .select(col("feature_json"), st_geometry_type(from_geojson(col("feature_json")).getField("feature")
          .getField("geometry")).as("gtype")), "feature_json",
        p => concat(p.substr(lit(1), length(p) - 1), lit(",\"gtype\":\""), col("gtype"), lit("\"}")))
      .select(to_geojson(from_geojson(col("feature_json"))).as("json"))
    val parses = "GeoRuntime\\.fromGeoJson\\(".r.findAllIn(org.apache.spark.sql.execution.debug
      .codegenStringSeq(etl.queryExecution.executedPlan).map(_._2).mkString).length
    dump("GeoJSON ETL pass (one parse, no exchange)", "read → from_geojson + accessor → mapProps → " +
      s"to_geojson: one codegen Project over the scan whose code calls fromGeoJson $parses times: once " +
      "on the read text (shared by the accessor, the replacement and renderWithFeatureProps), once " +
      "on the rewritten text for to_geojson.")(etl)
    sb.append("\nThe FeatureCollection sink over this pass (`GeoJsonWriter.featureCollections`, 2 files " +
      "from the 4 scan splits) coalesces them: its RDD lineage has no shuffle, so the pass and the " +
      "write are one stage of 2 tasks.\n\n```\n")
      .append(graft.geo.sources.GeoJsonWriter.featureCollections(etl, "json", 2).toDebugString)
      .append("\n```\n")

    dump("Exact dedup (narrow hash shuffle key + min_by verify)",
      "The corpus-scale aggregation exchanges on (xxhash64(text), length) — " +
        "16 fixed bytes per row, not the document text; the verify joins " +
        "against the small canon side broadcast. The text-keyed exchange in " +
        "the second Union branch carries only hash-collision stragglers " +
        "(~0 rows).") {
      val docs = spark.range(1000).select(col("id").as("doc_id"),
        concat(lit("doc text number "), col("id")).as("text"))
      graft.ops.Dedup.exact(docs, "doc_id", "text")
    }

    dump("IVF top-k (shuffle-free corpus assignment)",
      "Nearest-centroid assignment is a narrow aggregate-HOF argmax over a " +
        "LITERAL centroid array (no crossJoin, no per-corpus-row window); " +
        "the corpus reaches the final top-k window without any exchange " +
        "before the partial WindowGroupLimit, and the probe side (tiny) is " +
        "broadcast.") {
      val embs = spark.range(256).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(8)),
          i => (pmod(col("id") * i, lit(97)) / 97.0).cast("float")).as("embedding"))
      val qs = embs.limit(4).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Similarity.ivfTopK(qs, "qid", "qvec", embs, "vec_id", "embedding",
        k = 2, nlist = 4, nprobe = 2)
    }

    dump("Banded embedding near-dup (ids-only candidate shuffle)",
      "Each band's bucket join moves (band, bucket-hash, id) rows only — the " +
        "wide embedding arrays never ride the banded exchange; candidates are " +
        "deduped on (id_a, id_b) in the HashAggregate and the vectors are " +
        "re-attached ABOVE it, so each surviving pair is cosine-verified " +
        "exactly once however many bands it collided in.") {
      val embs = spark.range(256).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(8)),
          i => (pmod(col("id") * i, lit(97)) / 97.0).cast("float")).as("embedding"))
      graft.ops.Dedup.embeddingPairs(embs, "vec_id", "embedding", threshold = 0.95)
    }

    dump("Shared-passage dedup (winnowing buckets, verify after re-attach)",
      "Fingerprint explode → equi-join → per-pair count aggregation all run " +
        "on (fingerprint, id) rows; document text joins back only for the " +
        "surviving candidate pairs, where the char-exact common_substring " +
        "kernel refines.") {
      val docs = spark.range(512).select(col("id").as("doc_id"),
        concat(lit("document body text "), col("id"), lit(" trailing words here")).as("text"))
      graft.ops.Dedup.sharedPassagePairs(docs, "doc_id", "text")
    }

    dump("Sharded sequence packing (two-phase prefix sums)",
      "The wide window is keyed by (group, __shard) — parallel in the data " +
        "size — while the cross-shard prefix runs on the tiny per-shard " +
        "totals table and broadcasts back; a plain running sum over the " +
        "group alone would serialize a 100 TB corpus into one task per " +
        "language.") {
      val docs = spark.range(4000).select(col("id"),
        concat(lit("g"), pmod(col("id"), lit(3))).as("grp"),
        (pmod(col("id") * 37, lit(90)) + 1).as("toks"))
      graft.ops.TextOps.packSequencesSharded(docs, "toks", "id", "grp",
        budgetTokens = 512L, shardSize = 500L)
    }

    dump("Cross-corpus contamination (benchmark side broadcast)",
      "The corpus explodes winnowing fingerprints and joins a BROADCAST " +
        "benchmark fingerprint table — the corpus side never shuffles; the " +
        "exact common_substring verify runs after the per-pair count " +
        "aggregation with the (small) benchmark texts broadcast too.") {
      val corpus = spark.range(2048).select(col("id").as("doc_id"),
        concat(lit("corpus document body "), col("id"), lit(" with trailing words")).as("text"))
      val bench = spark.range(16).select(col("id").as("bench_id"),
        concat(lit("benchmark question "), col("id")).as("btext"))
      graft.ops.Dedup.contaminationPairs(corpus, "doc_id", "text", bench, "bench_id", "btext")
    }

    val capQs = spark.range(64).select(col("id").as("qid"),
      (pmod(col("id") * 37, lit(360)) - 180.0).as("qlng"),
      (pmod(col("id") * 23, lit(160)) - 80.0).as("qlat"))
    val capPts = spark.range(4096).select(col("id").as("pid"),
      (pmod(col("id") * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
      (pmod(col("id") * 104729, lit(16800)) / 100.0 - 84.0).as("lat"))

    dump("Within-distance join (single-level metric-cap covers, single equi-join)",
      "Query caps explode to their few S2 cells at one level chosen from the " +
        "radius, each point keys its one cell at that level in the join " +
        "condition: every true pair meets on exactly ONE hashed int64 cell " +
        "key, one hash join, exact haversine refine — no radius loop, no " +
        "window, no dedup.") {
      graft.geo.join.SpatialJoins.distanceJoin(capQs, "qlng", "qlat",
        capPts, "lng", "lat", maxDistM = 250000.0)
    }

    dump("kNN round (in-cap filter below the window, sentinel rows, one checkpoint)",
      "One knnJoinS2 round (SpatialJoins.knnRound): candidates are cut to the cap below the " +
        "window, and each query unions in one sentinel row (null point columns and dist_m, " +
        "sorted last), so an undecided query keeps a row with no anti join. CollectMetrics " +
        "observes the undecided counts; the loop's eager localCheckpoint is the round's one action.") {
      graft.geo.join.SpatialJoins.knnRound(capQs, "qid", "qlng", "qlat", capPts, "lng", "lat",
        k = 8, radiusM = 500000.0, minLevel = 4, maxLevel = 10, org.apache.spark.sql.Observation("knn_round"))
    }

    dump("AS-OF join (union + running-last, one key-keyed window)",
      "Both sides union into one frame; the matched right row propagates as " +
        "one struct via last(ignoreNulls) over the running window ordered " +
        "(ts, side). One shuffle on the key, no range join, no candidate " +
        "explosion — every row passes its window once with O(1) state.") {
      val ev = spark.range(4000).select(col("id").as("eid"),
        pmod(col("id"), lit(100)).as("user_id"), (col("id") * 37 % 100000).as("ts_ms"))
      val marks = spark.range(500).select(pmod(col("id"), lit(100)).as("user_id"),
        (col("id") * 199 % 100000).as("mark_ms"), col("id").as("version"))
        .dropDuplicates("user_id", "mark_ms")
      graft.ops.TemporalJoins.asofJoin(ev, marks, "user_id", "ts_ms", "mark_ms", Seq("version"))
    }

    dump("Incremental catalog dedup (catalog streams; shard signatures broadcast)",
      "The persisted signature catalog is the BIG side (the accumulated " +
        "corpus) and never moves: its parquet scans stream straight through " +
        "BroadcastHashJoins against the new shard's broadcast signatures — " +
        "no sort-merge, no exchange keyed on (h, len) or (band, bh); only " +
        "the narrow matched-id set (shard-sized) rides the distinct + " +
        "anti-join at the top.") {
      val dir = java.nio.file.Files.createTempDirectory("plan_cat").toString + "/catalog"
      val corpus = spark.range(512).select(col("id"),
        concat(lit("catalog document body "), col("id")).as("text"))
      graft.ops.Dedup.writeCatalog(corpus, "id", "text", dir)
      val shard = spark.range(32).select((col("id") + 9000L).as("id"),
        concat(lit("shard document body "), col("id")).as("text"))
      graft.ops.Dedup.dedupAgainst(shard, "id", "text", dir)
    }

    dump("Incremental PERCEPTUAL catalog dedup (pixel-computed ahash, zero catalog exchange)",
      "The image twin of the signature catalog: the shard decodes its " +
        "payloads ONCE (codegen image_ahash in the scan projection), bands " +
        "the 64-bit hash 4x16 and broadcasts ~5 rows/image; the catalog's " +
        "(band, bh, ph) parquet streams through one BroadcastHashJoin — " +
        "hamming verify inline on the join output, only matched ids ride " +
        "the anti-join. At 10^12 images the catalog is ~80 GB of " +
        "signatures; the historical payloads (~100 TB) are never read.") {
      val dir = java.nio.file.Files.createTempDirectory("plan_pcat").toString + "/catalog"
      val corpus = graft.pipeline.ImageGen.table(spark, 512)
        .select(col("image_id"), graft.ops.Multimodal.image_ahash(col("bytes")).as("ahash"))
      graft.ops.Dedup.writePerceptualCatalog(corpus, "image_id", "ahash", dir)
      val shard = graft.pipeline.ImageGen.table(spark, 64)
        .select(concat(lit("re_"), col("image_id")).as("image_id"),
          graft.ops.Multimodal.image_ahash(col("bytes")).as("ahash"))
      graft.ops.Dedup.dedupAgainstPerceptual(shard, "image_id", "ahash", dir)
    }

    dump("Tile mosaic pyramid rollup (partial-agg binary canvases)",
      "z->z-1 reduction: parent key + quadrant are bit math in the scan " +
        "projection; the typed integer-sum aggregator partial-aggregates " +
        "map-side (ObjectHashAggregate partial_tilemosaic before the ONE " +
        "tile-keyed exchange — member/quadrant counts come out of the " +
        "aggregator buffer itself, not a separate countDistinct pass), so " +
        "only ~6 KB canvases per (tile, partition) — never the member " +
        "images — ride the shuffle.") {
      val imgs  = graft.pipeline.ImageGen.withLngLat(graft.pipeline.ImageGen.table(spark, 1000))
      val tiled = graft.geo.join.SpatialJoins.assignTiles(imgs, "lng", "lat", z = 8)
      graft.ops.Multimodal.mosaicTiles(tiled, "tile_key", "bytes")
    }

    dump("Geo-aware perceptual dedup (one equi-join on cell x phash band)",
      "Both gates collapse into a single hash-join key: hex-cell adjacency " +
        "(b side explodes k-ring-1 + seam frames) and the 16-bit phash " +
        "band; exact bit_count + haversine refine after. No cross join, no " +
        "per-pair windows — candidate cardinality is bounded by band-bucket " +
        "x cell co-location.") {
      val imgs = spark.range(4096).select(col("id").as("iid"),
        xxhash64(col("id")).as("phash"),
        (pmod(col("id") * 7919, lit(36000)) / 100.0 - 180.0).as("lng"),
        (pmod(col("id") * 104729, lit(16800)) / 100.0 - 84.0).as("lat"))
      graft.ops.Dedup.geoPhashPairs(imgs, "iid", "phash", "lng", "lat")
    }

    dump("IVF-PQ query (ADC over stored codes — no vector re-attach)",
      "The inverted file carries (id, code, rnorm) only; each query " +
        "computes one m x 256 dot LUT (pq_lut, query side) and every " +
        "candidate scores as m table lookups through the codegen pq_adc " +
        "kernel. The candidate side reaches the top-k window without any " +
        "embedding column in the plan — the 100 TB memory story in plan " +
        "form (m + 12 bytes per candidate row through the probe join vs " +
        "dim x 4 for raw vectors).") {
      val dir = java.nio.file.Files.createTempDirectory("plan_pq").toString + "/pq"
      val corpus = spark.range(512).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          d => ((col("id") * (d + 2) + d * d) % (d + 5) + 1).cast("float")).as("embedding"))
      graft.ops.Similarity.trainIvfPq(corpus, "vec_id", "embedding", dir,
        nlist = 4, m = 8, maxIter = 3)
      val qs = corpus.limit(4).select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.ops.Similarity.pqTopKWith(qs, "qid", "qvec", dir, "vec_id", k = 3, nprobe = 2)
    }

    dump("Exact-geometry polygon tiling (narrow explode -> clip, no shuffle)",
      "tilePolygons: bbox tile cover explodes per geometry, tile_bounds is " +
        "codegen bit math, st_clip_box carries the exact per-tile piece — " +
        "the whole flow is one narrow generator + projection pipeline with " +
        "zero exchanges until the caller's tiled write.") {
      val polys = spark.range(64).select(col("id").as("pid"),
        (col("id") % 10 * 30.0 - 150.0).as("w"), (col("id") % 5 * 20.0 - 50.0).as("s"))
        .select(col("pid"), from_geojson_geom(concat(
          lit("""{"type":"Polygon","coordinates":[[["""),
          col("w").cast("string"), lit(","), col("s").cast("string"), lit("],["),
          (col("w") + 25.0).cast("string"), lit(","), col("s").cast("string"), lit("],["),
          (col("w") + 25.0).cast("string"), lit(","), (col("s") + 15.0).cast("string"), lit("],["),
          col("w").cast("string"), lit(","), (col("s") + 15.0).cast("string"), lit("],["),
          col("w").cast("string"), lit(","), col("s").cast("string"), lit("]]]}"))).as("geom"))
      graft.geo.join.SpatialJoins.tilePolygons(polys, "geom", z = 3)
    }

    dump("tf-idf retrieval (hits filter before any exchange, TakeOrdered top-k)",
      "The exploded token stream filters to the query's literal term set " +
        "BEFORE the first exchange — at 10^12 docs only query-term hits " +
        "shuffle, never the corpus; document frequency derives from the " +
        "hits and BROADCASTS back with the in-plan corpus count; the top-k " +
        "is a TakeOrderedAndProject on the (score DESC, doc ASC) total " +
        "order, never a global sort.") {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      graft.ops.CorpusStats.tfidfSearch(docs, "doc_id", "text", "spark window join", 20)
    }

    dump("Corpus n-gram statistics (two-phase aggregation + TakeOrdered top-k)",
      "Phase 1 partial-aggregates per (doc, gram) map-side, so a hot gram " +
        "reaches the per-gram exchange as <= one row per document; phase 2 " +
        "re-aggregates the pre-reduced rows (doc_freq = count of phase-1 " +
        "rows — no countDistinct exchange); the top-k is a " +
        "TakeOrderedAndProject (per-partition heaps), never a global Sort.") {
      val docs = spark.range(2048).select(col("id").as("doc_id"),
        concat(lit("the quick word "), pmod(col("id"), lit(50)),
          lit(" of the corpus body")).as("text"))
      graft.ops.CorpusStats.topNgrams(docs, "doc_id", "text", n = 2, k = 100)
    }

    dump("Bag-of-words featurization (vocabulary broadcast BEFORE the agg)",
      "The exploded gram stream joins the broadcast vocabulary while still " +
        "narrow — only vocabulary hits reach the single (doc, vocab_id) " +
        "count exchange; joining after a per-doc pre-agg would shuffle " +
        "every distinct gram of every document.") {
      val docs = spark.range(2048).select(col("id").as("doc_id"),
        concat(lit("the quick word "), pmod(col("id"), lit(50)),
          lit(" of the corpus body")).as("text"))
      val vocab = Seq(("of the", 1), ("the quick", 2)).toDF("gram", "vocab_id")
      graft.ops.CorpusStats.bowRows(docs, "doc_id", "text", vocab, n = 2)
    }

    dump("Corpus profile (histogram percentiles — no buffer-everything aggregate)",
      "Token counts collapse to a value histogram (bounded by max tokens, " +
        "partial-agg map-side) before the percentile scan; the only " +
        "single-partition work is the window over distinct count VALUES. " +
        "percentile_disc itself would buffer one entry per document in one " +
        "reducer.") {
      val docs = spark.range(2048).select(col("id").as("doc_id"),
        concat(lit("w "), pmod(col("id"), lit(50))).as("text"))
      graft.ops.CorpusStats.corpusProfile(docs, "doc_id", "text")
    }

    dump("General polygon overlay (st_intersection — a row-local scalar kernel)",
      "The slab-decomposition boolean evaluates inside a plain Project over " +
        "the joined candidate pairs: ZERO exchanges are introduced by " +
        "construction — at scale it runs after the cell-cover equi-join " +
        "has already reduced pairs (the q03 plan), exactly like " +
        "st_contains refinement.") {
      val a = """{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,4.0],[4.0,4.0],[4.0,10.0],[0.0,10.0],[0.0,0.0]]]}"""
      customers.limit(64)
        .withColumn("g", call_function("st_intersection",
          from_geojson_geom(lit(a)),
          from_geojson_geom(concat(lit("""{"type":"Polygon","coordinates":[[["""),
            col("lng") % 10, lit(",0],["), col("lng") % 10 + 6, lit(",0],["),
            col("lng") % 10 + 6, lit(",6],["), col("lng") % 10, lit(",6],["),
            col("lng") % 10, lit(",0]]]}")))))
        .select(col("c_custkey"), st_area(col("g")).as("a"))
    }

    dump("KLL quantile sketch (two-phase shard partials → merge)",
      "kll_sketch partial-aggregates map-side (ObjectHashAggregate); the " +
        "only exchange carries O(k log n) sketch blobs, never values; " +
        "kll_merge combines persisted shard partials the same way — the " +
        "percentile path for unbounded domains at 10^12 rows.") {
      val docs = spark.range(4096).select((col("id") % 7).as("grp"),
        (col("id") % 997).as("v"))
      docs.groupBy("grp").agg(graft.ops.Sketches.kll_sketch(col("v"), 256).as("sk"))
        .agg(graft.ops.Sketches.kll_merge(col("sk.v"), 256).as("m"))
        .select(graft.ops.Sketches.kll_quantile(col("m.v"), lit(0.5)).as("p50"))
    }

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }

  /** The plan text with each array literal shown by its elements: an
    * UnsafeArrayData prints as `UnsafeArrayData@<hash>`, which hides a
    * planned literal such as a constant-folded `sequence(0, n)`. */
  private def arraysByContent(df: org.apache.spark.sql.DataFrame, text: String): String = {
    val shown = scala.collection.mutable.LinkedHashMap.empty[String, String]
    df.queryExecution.optimizedPlan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case Literal(a: UnsafeArrayData, t) => shown(a.toString) = render(a, t)
      case _                              =>
    }))
    shown.foldLeft(text) { case (s, (hashed, elements)) => s.replace(hashed, elements) }
  }

  private def render(v: Any, t: DataType): String = (v, t) match {
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(render(_, et)).mkString("[", ", ", "]")
    case _                                => String.valueOf(v)
  }
}
