package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

class SessionIvfSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("IVF with nprobe = nlist equals brute force exactly") {
    val qs = embs.limit(12).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val ivf = Similarity.ivfTopK(qs, "qid", "qvec",
      embs.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 4, nlist = 8, nprobe = 8)
      .select("qid", "vec_id", "rank")
    val brute = Similarity.bruteForceTopK(qs, "qid", "qvec",
      embs.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 4)
      .select("qid", "vec_id", "rank")
    assert(ivf.exceptAll(brute).isEmpty && brute.exceptAll(ivf).isEmpty)
  }

  test("IVF with nprobe < nlist: planted twin recall stays high") {
    val corpus = embs.select($"vec_id", $"embedding")
    val qs = corpus.limit(100).select(($"vec_id" + 900000L).as("qid"),
      transform($"embedding", x => x + lit(0.0005f)).as("qvec"))
    val out = Similarity.ivfTopK(qs, "qid", "qvec", corpus, "vec_id", "embedding",
      k = 1, nlist = 16, nprobe = 4)
    val hits = out.where($"qid" - 900000L === $"vec_id").count()
    assert(hits >= 90, s"IVF recall $hits/100 < 90 (twin lives in the probed list)")
  }

  test("trained IVF: persisted index ≡ brute force at nprobe=nlist; k-means balances lists") {
    // clustered synthetic corpus — the common embedding distribution where
    // hash-drawn centroids skew: 8 tight clusters of very different sizes
    // would still balance better under Lloyd rounds than under the raw draw
    def mix(i: Long): Double = (graft.ops.TextKernels.mix64(i) & 0xffffL).toDouble / 0xffffL
    val corpus = spark.range(800).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d => {
        // cluster center = one-hot-ish on (id % 8); small deterministic noise
        val c = pmod($"id", lit(8))
        (when(d === c, lit(4.0)).otherwise(lit(0.0)) +
          pmod(xxhash64($"id", d), lit(1000)).cast("double") / 5000.0).cast("float")
      }).as("embedding")).localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/ivf"
    val sizes = Similarity.trainIvf(corpus, "vec_id", "embedding", idx,
      nlist = 8, maxIter = 8)
    // Lloyd rounds must spread the lists over the clusters: bounded skew
    // (a raw hash draw on clustered data routinely doubles/zeroes lists)
    val mx = sizes.values.max.toDouble
    val mean = sizes.values.sum.toDouble / sizes.size
    assert(sizes.size == 8 && mx / mean <= 2.0,
      s"trained lists unbalanced: $sizes (max/mean ${mx / mean})")
    // the trained, persisted index at nprobe = nlist is exactly brute force
    val qs = corpus.limit(12).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val trained = Similarity.ivfTopKWith(qs, "qid", "qvec", idx,
      "vec_id", "embedding", k = 4, nprobe = 8).select("qid", "vec_id", "rank")
    val brute = Similarity.bruteForceTopK(qs, "qid", "qvec",
      corpus, "vec_id", "embedding", k = 4).select("qid", "vec_id", "rank")
    assert(trained.exceptAll(brute).isEmpty && brute.exceptAll(trained).isEmpty)
    // reuse: a second query batch hits the same persisted index, no retrain
    val qs2 = corpus.where($"vec_id" % 97 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val r2 = Similarity.ivfTopKWith(qs2, "qid", "qvec", idx,
      "vec_id", "embedding", k = 1, nprobe = 2)
    // tight clusters: nprobe 2 must find the query itself at rank 1
    assert(r2.where($"rank" === 1 && $"qid" === $"vec_id").count() == qs2.count())
  }

  test("IVF-PQ small-alphabet: exact reconstruction, nprobe=nlist ≡ brute force, codes not vectors") {
    // dim 8, m = dim: each 1-dim subspace draws from a <=13-value integer
    // alphabet, so the small-alphabet codebooks reconstruct EXACTLY and the
    // ADC ranking equals exact cosine ranking (the q61 oracle construction)
    val corpus = spark.range(400).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (when(d === 0, pmod($"id", lit(13)) + 1)
          .otherwise(pmod(xxhash64($"id", d), lit(7)) + 1)).cast("float")).as("embedding"))
      .localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/pq"
    // residual = false: bit-exact equality with brute force needs the codes
    // to reconstruct v ITSELF (fl(v - c) residual rounding is ~1e-7 off on
    // exact cosine ties, e.g. duplicate/scalar-multiple vectors)
    val sizes = Similarity.trainIvfPq(corpus, "vec_id", "embedding", idx,
      nlist = 8, m = 8, maxIter = 6, residual = false)
    assert(sizes.values.sum == 400L)
    // the inverted file stores codes + rnorm, NEVER the vector — the 100 TB
    // memory story in schema form: m + 8 bytes per row vs dim x 4
    val listSchema = spark.read.parquet(s"$idx/lists").schema.fieldNames.toSet
    assert(!listSchema.contains("embedding") && listSchema.contains("code")
      && listSchema.contains("rnorm"), listSchema.toString)
    val qs = corpus.limit(15).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val pq = Similarity.pqTopKWith(qs, "qid", "qvec", idx, "vec_id", k = 5, nprobe = 8)
      .select("qid", "vec_id", "rank")
    val brute = Similarity.bruteForceTopK(qs, "qid", "qvec",
      corpus, "vec_id", "embedding", k = 5).select("qid", "vec_id", "rank")
    assert(pq.exceptAll(brute).isEmpty && brute.exceptAll(pq).isEmpty,
      "exact-reconstruction PQ at full probe must equal brute force")
    // plan pin: scoring runs on the stored code via the codegen ADC kernel;
    // no embedding column exists anywhere on the candidate side
    val plan = Similarity.pqTopKWith(qs, "qid", "qvec", idx, "vec_id", k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PqKernels.adc("), "ADC kernel missing from the plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("IVF-PQ trained codebooks: recall on a clustered corpus, 9x smaller index rows") {
    // dim 16, m = 4 (dsub 4): continuous noise makes every subspace exceed
    // 256 distinct values -> the L2 Lloyd's codebook path trains for real
    def noise(d: org.apache.spark.sql.Column) =
      pmod(xxhash64($"id", d, lit(17)), lit(100000)).cast("double") / 50000.0
    val corpus = spark.range(1200).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(15)), d => {
        val c = pmod($"id", lit(4)) * 4
        (when(d >= c && d < c + 4, lit(3.0)).otherwise(lit(0.0)) + noise(d)).cast("float")
      }).as("embedding")).localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("graft_pqk").toString + "/pq"
    // a continuous corpus must never reach the exact-distinct alphabet job:
    // the approx_count_distinct gate routes every subspace straight to
    // Lloyd's (listener watches for the "pq-exact-alphabet" job marker)
    val exactJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
          Option(p.getProperty("spark.job.description")).exists(_ == "pq-exact-alphabet")))
          exactJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Similarity.trainIvfPq(corpus, "vec_id", "embedding", idx,
        nlist = 8, m = 4, maxIter = 6, pqIter = 5) // residual (the default)
      Thread.sleep(1000) // listener delivery is async (CLAUDE.md)
      assert(exactJobs.get() == 0,
        "continuous training shuffled the corpus through the exact distinct")
    } finally spark.sparkContext.removeSparkListener(listener)
    val qs = corpus.where($"vec_id" % 83 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val brute = Similarity.bruteForceTopK(qs, "qid", "qvec",
      corpus, "vec_id", "embedding", k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopKWith(qs, "qid", "qvec", idx, "vec_id", k = 10, nprobe = 8)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = (pq intersect brute).size.toDouble / brute.size
    assert(recall >= 0.7, f"PQ recall@10 $recall%.3f < 0.7 at full probe")
    // residual encoding must not LOSE recall vs quantizing raw vectors with
    // the same m-byte budget (faiss's IndexIVFPQ rationale: per-list
    // residual spread << corpus spread)
    val idxRaw = java.nio.file.Files.createTempDirectory("graft_pqr").toString + "/pq"
    Similarity.trainIvfPq(corpus, "vec_id", "embedding", idxRaw,
      nlist = 8, m = 4, maxIter = 6, pqIter = 5, residual = false)
    val pqRaw = Similarity.pqTopKWith(qs, "qid", "qvec", idxRaw, "vec_id", k = 10, nprobe = 8)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recallRaw = (pqRaw intersect brute).size.toDouble / brute.size
    assert(recall >= recallRaw - 0.02,
      f"residual recall $recall%.3f fell below raw-vector recall $recallRaw%.3f")
    // a probed query still finds ITSELF at rank 1 (its own code scores top
    // by reconstruction proximity in a well-separated cluster)
    val self = Similarity.pqTopKWith(qs, "qid", "qvec", idx, "vec_id", k = 1, nprobe = 2)
    assert(self.where($"rank" === 1 && $"qid" === $"vec_id").count() == qs.count())
  }

  test("streaming exact dedup: first occurrence per text survives, narrow state key") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // duplicate every text under higher ids: first arrival (min doc_id in
    // one ordered batch) must win
    val corpus = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text")).orderBy("doc_id")
    val dir = java.nio.file.Files.createTempDirectory("dedup_src")
    corpus.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(corpus.schema).parquet(dir.toString + "/b1")
    val q = Dedup.exactStreaming(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("select * from dedup_stream")
    // one survivor per distinct text, and no survivor from the duplicated range
    val nDistinct = docs.select("text").distinct().count()
    assert(out.count() == nDistinct, s"${out.count()} vs $nDistinct")
    // batch mode of the same operator agrees
    val batchOut = Dedup.exactStreaming(corpus, "doc_id", "text")
    assert(batchOut.count() == nDistinct)
  }

  test("ivfRecallReport: recall monotone in nprobe, exactly 1.0 at nprobe = nlist") {
    val corpus = spark.range(600).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)), d => {
        val c = pmod($"id", lit(8))
        (when(d === c, lit(4.0)).otherwise(lit(0.0)) +
          pmod(xxhash64($"id", d), lit(1000)).cast("double") / 5000.0).cast("float")
      }).as("embedding")).localCheckpoint()
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfrep").toString + "/ivf"
    Similarity.trainIvf(corpus, "vec_id", "embedding", idx, nlist = 8, maxIter = 6)
    val sample = corpus.where($"vec_id" % 31 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val rep = Similarity.ivfRecallReport(sample, "qid", "qvec", idx,
        "vec_id", "embedding", k = 3, nprobes = Seq(1, 2, 4, 8))
      .select("nprobe", "n_pairs", "n_found", "recall")
      .as[(Int, Long, Long, Double)].collect()
    assert(rep.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rep.foreach { case (_, n, f, r) => assert(f <= n && r >= 0.0 && r <= 1.0) }
    assert(rep.sliding(2).forall { case Array(a, b) => b._4 >= a._4 - 1e-12 },
      s"recall not monotone: ${rep.toSeq}")
    assert(rep.last._4 == 1.0, s"nprobe=nlist must be exact: ${rep.last}")
  }

  test("streaming near-dup: cross-batch first arrival wins, fresh docs survive") {
    def tok(doc: Long, j: Int): String = f"${graft.ops.TextKernels.mix64(doc * 1000 + j)}%016x"
    def gib(doc: Long, n: Int): String = (0 until n).map(tok(doc, _)).mkString(" ")
    val b1 = (0L until 30L).map(i => (i, gib(i, 12))).toDF("doc_id", "text")
    // batch 2: exact copies under new ids, near-mutations, and fresh docs
    val b2 = ((0L until 10L).map(i => (1000L + i, gib(i, 12))) ++
      (0L until 10L).map(i => (1100L + i, gib(10 + i, 12) + " tail" + i)) ++
      (0L until 10L).map(i => (1200L + i, gib(7000L + i, 12)))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_src").toString
    b1.coalesce(1).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/in")
    val q = Dedup.nearDupStreaming(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(dir + "/in")
    q.processAllAvailable()
    q.stop()
    val survivors = spark.sql("select doc_id from neardup_stream")
      .as[Long].collect().toSet
    // batch-1 docs own every bucket; batch-2 exact copies own none, the
    // mutations lose their shared bands, only the fresh docs survive
    assert(survivors == ((0L until 30L) ++ (1200L until 1210L)).toSet,
      s"unexpected survivors: ${survivors.toSeq.sorted}")
    // batch-frame twin on an exact-dup-free frame: everything survives
    val batchAll = Dedup.nearDupStreaming(b1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(batchAll == (0L until 30L).toSet)
  }

  test("streaming perceptual dedup: cross-batch first arrival, band semantics") {
    val b1 = (0L until 30L).map(i => (i, graft.ops.TextKernels.mix64(i)))
      .toDF("image_id", "ahash")
    // batch 2: exact re-crawls (same hash), near-dups (3 flips in one band
    // -> lose the 3 intact bands), fresh hashes
    val b2 = ((0L until 10L).map(i => (1000L + i, graft.ops.TextKernels.mix64(i))) ++
      (0L until 10L).map(i => (1100L + i, graft.ops.TextKernels.mix64(10 + i) ^ 7L)) ++
      (0L until 10L).map(i => (1200L + i, graft.ops.TextKernels.mix64(90000L + i))))
      .toDF("image_id", "ahash")
    val dir = java.nio.file.Files.createTempDirectory("pdup_src").toString
    b1.coalesce(1).write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/in")
    val q = Dedup.perceptualStreaming(stream, "image_id", "ahash")
      .writeStream.format("memory").queryName("pdup_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(dir + "/in")
    q.processAllAvailable()
    q.stop()
    val survivors = spark.sql("select image_id from pdup_stream")
      .as[Long].collect().toSet
    assert(survivors == ((0L until 30L) ++ (1200L until 1210L)).toSet,
      s"unexpected survivors: ${survivors.toSeq.sorted}")
    // batch-frame twin on a dup-free frame: everything survives
    assert(Dedup.perceptualStreaming(b1, "image_id", "ahash")
      .select("image_id").as[Long].collect().toSet == (0L until 30L).toSet)
    // bands=1 degenerates to exact-hash dedup: near-dups and fresh hashes
    // survive; each co-arriving identical pair keeps exactly one member
    val exact = Dedup.perceptualStreaming(b1.unionByName(b2), "image_id", "ahash", bands = 1)
      .select("image_id").as[Long].collect().toSet
    assert((1100L until 1110L).forall(exact.contains))
    assert((1200L until 1210L).forall(exact.contains))
    assert((10L until 30L).forall(exact.contains))
    assert((0L until 10L).forall(i => exact.contains(i) ^ exact.contains(1000L + i)))
  }

  test("mapGroupsWithState user stats: stream equals the groupBy oracle") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", ($"ts".cast("timestamp").cast("double") * 1000).cast("long").as("ts_ms"),
        $"value")
    val dir = java.nio.file.Files.createTempDirectory("ustats_src")
    raw.write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(raw.schema).parquet(dir.toString + "/b1")
      .as[Sessionize.Ev]
    val q = Sessionize.userStatsStream(stream)
      .writeStream.format("memory").queryName("ustats_stream")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
      "select user_id, n_events, round(total_value, 4) as tv, first_ms, last_ms from ustats_stream")
    val oracle = raw.groupBy("user_id").agg(
      count(lit(1)).as("n_events"), round(sum($"value"), 4).as("tv"),
      min($"ts_ms").as("first_ms"), max($"ts_ms").as("last_ms"))
    assert(streamed.count() == oracle.count())
    assert(streamed.exceptAll(oracle).isEmpty && oracle.exceptAll(streamed).isEmpty)
  }

  test("deterministic sampling is stream-safe: stateless filter, stream == batch") {
    val ids = spark.range(5000).select($"id".as("doc_id"))
    val dir = java.nio.file.Files.createTempDirectory("sample_src")
    ids.write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(ids.schema).parquet(dir.toString + "/b1")
    val q = graft.ops.TextOps.deterministicSample(stream, "doc_id", 200)
      .writeStream.format("memory").queryName("sample_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select doc_id from sample_stream")
      .as[Long].collect().toSet
    val batch = graft.ops.TextOps.deterministicSample(ids, "doc_id", 200)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
  }

  test("watermarked tumbling-window aggregation: stream equals batch grouping") {
    // the remaining cell of the streaming matrix: event-time windows with a
    // watermark in append mode (windows close and emit exactly once)
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", $"ts".cast("timestamp").as("ts"), $"value")
    val dir = java.nio.file.Files.createTempDirectory("winagg_src").toString
    raw.write.mode("overwrite").parquet(dir + "/in")
    val stream = spark.readStream.schema(raw.schema).parquet(dir + "/in")
    val q = stream.withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "6 hours"), $"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("v"))
      .writeStream.format("memory").queryName("winagg_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // append mode emits a window only once its watermark passes: write a
    // far-future row so every real window closes
    raw.limit(1).select($"user_id", lit("2030-01-01 00:00:00").cast("timestamp").as("ts"), $"value")
      .write.mode("append").parquet(dir + "/in")
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
      "select window.start as ws, user_id, n, v from winagg_stream")
    val batch = raw.groupBy(window($"ts", "6 hours"), $"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("v"))
      .select($"window.start".as("ws"), $"user_id", $"n", $"v")
    assert(streamed.count() == batch.count(),
      s"stream ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sessionization (flatMapGroupsWithState) matches the batch oracle") {
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", ($"ts".cast("timestamp").cast("double") * 1000).cast("long").as("ts_ms"),
        $"value")
    val gap = 120 // minutes

    val batch = Sessionize.sessionsBatch(raw, gap)
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        round($"total_value", 4).as("tv")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

    // drive the stream in ONE batch; per-user far-future sentinel events
    // close every real session through the normal gap logic (no reliance on
    // processing-time timeouts — each extra state commit costs process forks
    // in this no-native-Hadoop sandbox). Sentinel sessions stay open in
    // state and are never emitted.
    val sentinels = raw.groupBy($"user_id")
      .agg((max($"ts_ms") + gap * 60000L * 10).as("ts_ms"))
      .withColumn("value", lit(0.0))
      .select("user_id", "ts_ms", "value")
    val dir = java.nio.file.Files.createTempDirectory("sess_src")
    raw.unionByName(sentinels).write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(raw.schema).parquet(dir.toString + "/b1")
      .as[Sessionize.Ev]
    val q = Sessionize.sessionsStream(stream, gap)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select * from sessions")
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        round($"total_value", 4).as("tv")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == batch,
      s"stream=${streamed.size} batch=${batch.size}; missing=${(batch -- streamed).take(3)}; extra=${(streamed -- batch).take(3)}")
  }
}
