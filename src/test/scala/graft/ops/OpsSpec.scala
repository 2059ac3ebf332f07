package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.TextFunctions._

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  TextFunctions.register(SparkTestBase.spark)
  Multimodal.register(SparkTestBase.spark)

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("exact dedup: canonical ids match a groupBy oracle") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == docs.count())
    // oracle: every text group's min id
    val oracle = docs.groupBy("text").agg(min("doc_id").as("c"), count(lit(1)).as("n"))
    val nDupRows = oracle.agg(sum(col("n") - 1)).as[Long].collect()(0)
    assert(out.where($"is_dup").count() == nDupRows)
    // canonical is never a dup, and dup rows' canonical exists
    assert(out.where($"is_dup" && $"doc_id" === $"canonical_id").count() == 0)
  }

  test("exact dedup: equality with groupBy-text oracle, incl. forced hash collisions") {
    val corpus = docs.select($"doc_id", $"text").unionByName(
      docs.limit(200).select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val oracle = corpus.join(
        corpus.groupBy("text").agg(min("doc_id").as("canonical_id")), Seq("text"))
      .select($"doc_id", $"canonical_id", ($"doc_id" =!= $"canonical_id").as("is_dup"))
    def sameAs(df: org.apache.spark.sql.DataFrame) =
      df.exceptAll(oracle).isEmpty && oracle.exceptAll(df).isEmpty
    assert(sameAs(Dedup.exact(corpus, "doc_id", "text")))
    // 1-bit "hash" ⇒ every group is a collision pile-up ⇒ the straggler
    // re-group path carries the result; must still be exact
    assert(sameAs(Dedup.exact(corpus, "doc_id", "text", t => length(t) % 2)))
    // constant hash: one giant group, all but one text are stragglers
    assert(sameAs(Dedup.exact(corpus, "doc_id", "text", _ => lit(0L))))
  }

  test("exact dedup is modality-general: BINARY image payloads dedup too") {
    // xxhash64/length/=== all operate on binary, so the same narrow-key plan
    // deduplicates image bytes without any text assumption
    val imgs = graft.pipeline.ImageGen.table(spark, 200)
      .withColumn("iid", expr("CAST(substring(image_id, 5) AS BIGINT)"))
      .select($"iid", $"bytes")
    val corpus = imgs.unionByName(imgs.select(($"iid" + 1000L).as("iid"), $"bytes"))
    val out = Dedup.exact(corpus, "iid", "bytes")
    assert(out.count() == 400)
    assert(out.where($"is_dup").count() == 200)
    // every copy resolves to its base id
    assert(out.where($"iid" >= 1000L && $"canonical_id" =!= $"iid" - 1000L).count() == 0)
  }

  test("exact dedup shuffles the narrow hash key, not the text") {
    val plan = Dedup.exact(docs, "doc_id", "text").queryExecution.executedPlan.toString
    // the corpus-scale aggregation exchanges on (__h, __l)
    assert(plan.contains("hashpartitioning(__h"), plan.take(2000))
    assert(plan.contains("min_by"), "verify text must ride the agg via min_by")
    // text-keyed exchanges may appear only in the collision-straggler branch
    // (runtime rows ~0); the corpus-side agg (first exchange in the main
    // branch, which the plan prints first) must be the hash key
    assert(plan.indexOf("hashpartitioning(__h") < {
      val t = plan.indexOf("hashpartitioning(text"); if (t < 0) Int.MaxValue else t
    }, "corpus-scale agg must shuffle on the hash, not the text")
  }

  test("IVF assignment is a narrow argmax: single Window, no corpus exchange") {
    val qs  = embs.limit(4).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.ivfTopK(qs, "qid", "qvec",
      embs.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 2, nlist = 8, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 1, s"expected exactly the final top-k window, got $windows:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "assignment must not cross-join the corpus against the centroid table")
  }

  test("minhash-LSH finds mutated near-dups and respects the threshold") {
    val base = docs.limit(60).select($"doc_id", $"text")
    // plant near-dups: append a few tokens (high jaccard), ids offset by 10^6
    val mutated = base.select(($"doc_id" + 1000000L).as("doc_id"),
      concat($"text", lit(" extra token")).as("text"))
    val corpus = base.unionByName(mutated)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.6)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted pair whose true jaccard >= 0.8 must be found
    val planted = corpus.as("a").join(corpus.as("b"),
        col("a.doc_id") + 1000000L === col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        ngram_jaccard(col("a.text"), col("b.text"), lit(5)).as("j"))
      .as[(Long, Long, Double)].collect()
    // r=8, b=16 theory: p(found | j) = 1-(1-j^8)^16 — j>=0.9 ⇒ p≈0.9999
    planted.filter(_._3 >= 0.9).foreach { case (a, b, j) =>
      assert(found.contains((a, b)), s"missed planted pair ($a,$b) j=$j")
    }
    val high = planted.filter(_._3 >= 0.8)
    val rec  = high.count(p => found.contains((p._1, p._2))).toDouble / high.length
    assert(rec >= 0.85, s"recall at j>=0.8 was $rec")
    // no reported pair below threshold
    assert(pairs.where($"jaccard" < 0.6).count() == 0)
  }

  test("simhash: identical texts collide at hamming 0; banding catches <=3") {
    val base = docs.limit(50).select($"doc_id", $"text")
    val twin = base.select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val pairs = Dedup.simhashPairs(base.unionByName(twin), "doc_id", "text")
    val exact = pairs.where($"hamming" === 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 50).foreach { i =>
      val id = base.orderBy("doc_id").collect()(i).getLong(0)
      assert(exact.exists(p => p._1 == id && p._2 == id + 1000000L), s"twin of $id missed")
    }
  }

  test("embedding near-dup pairs: planted twins found, threshold respected") {
    val base = embs.limit(80).select($"vec_id", $"embedding")
    val twin = base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", x => x * 1.0001f).as("embedding"))
    val pairs = Dedup.embeddingPairs(base.unionByName(twin), "vec_id", "embedding",
      threshold = 0.99, bits = 12)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = base.select("vec_id").as[Long].collect()
    val recall = ids.count(id => found.contains((id, id + 1000000L))).toDouble / ids.length
    assert(recall >= 0.9, s"twin recall $recall < 0.9")
    assert(pairs.where($"cosine" < 0.99).count() == 0)
  }

  test("clusters: transitive chain a-b, b-c shares one cluster without an a-c pair") {
    // three texts: a ~ b (prefix overlap), b ~ c (suffix overlap), a vs c
    // nearly disjoint — minhash finds (a,b) and (b,c) but not (a,c); the
    // cluster closure must still unite all three
    val mid = "the quick brown fox jumps over the lazy dog near the river bank today " +
      "and every day after that one for the whole of the long hot summer which followed " +
      "the spring rains that had soaked the entire valley floor for weeks"
    val a = mid + " alpha beta gamma delta"
    val c = "one two three four five " + mid
    val df = Seq((10L, a), (20L, mid), (30L, c)).toDF("id", "text")
    // exact jaccards: a-mid and mid-c share all of mid (j ~ 0.9); a-c share
    // mid but each adds its own flank (j ~ 0.82) — threshold 0.85 separates
    val j = (x: String, y: String) =>
      Seq((x, y)).toDF("x", "y").select(ngram_jaccard($"x", $"y", lit(5))).as[Double].head()
    assert(j(a, mid) >= 0.87 && j(mid, c) >= 0.87, s"${j(a, mid)} ${j(mid, c)}")
    assert(j(a, c) < 0.85, s"setup broken: j(a,c)=${j(a, c)}")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.85)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((10L, 20L)) && found.contains((20L, 30L)), found.toString)
    assert(!found.contains((10L, 30L)), s"a-c unexpectedly pairwise-similar: $found")
    val cl = Dedup.clusters(pairs, "id", universe = Some(df.select("id")))
      .select("id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(cl == Map(10L -> 10L, 20L -> 10L, 30L -> 10L), cl.toString)
  }

  test("clusters: long path converges via pointer jumping; singletons kept") {
    // path 0-1-2-...-63 (diameter 63) plus isolated ids 100..109
    val path = spark.range(63).select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val uni  = spark.range(64).select($"id")
      .unionByName(spark.range(100, 110).select($"id"))
    val out = Dedup.clusters(path, "id", universe = Some(uni), maxRounds = 12)
      .select("id", "canonical_id", "is_dup").as[(Long, Long, Boolean)].collect()
    assert(out.length == 74)
    out.foreach { case (id, c, dup) =>
      if (id < 64) { assert(c == 0L, s"$id -> $c"); assert(dup == (id != 0L)) }
      else { assert(c == id && !dup, s"singleton $id -> $c") }
    }
    // empty pair set: everything is its own singleton
    val none = Dedup.clusters(path.limit(0), "id", universe = Some(uni))
    assert(none.where($"is_dup").count() == 0 && none.count() == 74)
  }

  test("clusters: random graph equals union-find oracle") {
    // 3000 nodes, 2500 deterministic pseudo-random edges: a mix of small
    // components, chains and isolated nodes; exact equality vs union-find
    val edges = (0 until 2500).map { i =>
      val a = TextKernels.mix64(i * 2 + 1) % 3000
      val b = TextKernels.mix64(i * 2 + 2) % 3000
      (math.abs(a), math.abs(b))
    }
    val uni = spark.range(3000).select($"id")
    val out = Dedup.clusters(edges.toDF("id_a", "id_b"), "id", universe = Some(uni))
      .select("id", "canonical_id").as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { val (lo, hi) = (math.min(ru, rv), math.max(ru, rv)); parent(hi) = lo } }
    (0L until 3000L).foreach { id =>
      assert(out(id) == find(id), s"node $id: got ${out(id)}, want ${find(id)}")
    }
  }

  test("nearDedupCorpus keeps one canonical row per near-dup cluster") {
    val base = docs.limit(40).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.select(($"doc_id" + 1000L).as("doc_id"), $"text"))
      .unionByName(base.select(($"doc_id" + 2000L).as("doc_id"),
        concat($"text", lit(" tail")).as("text")))
    val kept = Dedup.nearDedupCorpus(corpus, "doc_id", "text", threshold = 0.6)
    // exact oracle: union-find over the (tiny) verified pair set — keepers
    // are exactly the ids that equal their component minimum; singletons
    // (ids in no pair, incl. any doc naturally unlike everything) survive
    val pairList = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairList.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { val (lo, hi) = (math.min(ru, rv), math.max(ru, rv)); parent(hi) = lo } }
    val all = corpus.select("doc_id").as[Long].collect().toSet
    val expected = all.filter(id => find(id) == id)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    assert(ids == expected, s"diff: ${(ids diff expected) ++ (expected diff ids)}")
    // exact copies at +1000 can never be a component minimum
    assert(!ids.exists(id => id >= 1000L && id < 2000L), s"exact copies kept: $ids")
    assert(kept.columns.toSeq == corpus.columns.toSeq)
  }

  test("nearDedupEmbeddings keeps one canonical vector per cosine cluster") {
    val base = embs.limit(60).select($"vec_id", $"embedding")
    val twin = base.select(($"vec_id" + 5000L).as("vec_id"),
      transform($"embedding", x => x * 1.001f).as("embedding")) // cosine 1.0
    val kept = Dedup.nearDedupEmbeddings(base.unionByName(twin), "vec_id", "embedding",
      threshold = 0.999)
    val ids = kept.select("vec_id").as[Long].collect().toSet
    // every base id survives as its cluster's minimum; every scaled twin is
    // a cosine-identical dup and must be gone (unless its base naturally
    // clustered under a smaller id, in which case the cluster min survives)
    assert(!ids.exists(_ >= 5000L), s"twins kept: ${ids.filter(_ >= 5000L)}")
    assert(ids.nonEmpty && ids.subsetOf(base.select("vec_id").as[Long].collect().toSet))
    assert(kept.columns.toSeq == Seq("vec_id", "embedding"))
  }

  test("embeddingPairs: banded candidates dedup on ids; copies verified once") {
    // adversarial pile-up: n copies of ONE vector collide in every band; the
    // id-level distinct must reduce that to exactly C(n,2) verified pairs
    // (the true answer), not bands x C(n,2) re-verifications
    val one = embs.limit(1).select($"embedding").as[Array[Float]].collect()(0)
    val n = 60
    // identical vectors at runtime, but NOT foldable (id-dependent no-op):
    // a pure literal would let Catalyst constant-fold vec_cosine away and
    // defeat the plan assertions below
    val copies = spark.range(n).select($"id".as("vec_id"),
      transform(typedlit(one), x => x + ($"id" % 1).cast("float")).as("embedding"))
    val pairs = Dedup.embeddingPairs(copies, "vec_id", "embedding", threshold = 0.999)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    assert(pairs.select("id_a", "id_b").distinct().count() == n.toLong * (n - 1) / 2)
    // cosine verification sits ABOVE the id-level distinct (plans print
    // top-down, so every cosine kernel call — the projection and the
    // filter Spark pushes into the re-attach join — must appear BEFORE the
    // distinct aggregate; per-band re-verification would put one below it)
    val plan = pairs.queryExecution.executedPlan.toString
    val agg  = plan.indexOf("HashAggregate(keys=[id_a")
    assert(agg >= 0, plan.take(3000))
    assert(plan.contains("TextKernels.cosineAD("), plan.take(3000))
    assert(plan.lastIndexOf("TextKernels.cosineAD(") < agg,
      "vec_cosine must only be evaluated above the id-level distinct")
  }

  test("embeddingPairs: banding recall at moderate cosine beats single-signature") {
    // perturbed twins at cosine ~0.99: banded SRP (8 bands x 16 bits) must
    // reach high recall where a single 16-bit signature sits near ~0.5
    val base = embs.limit(100).select($"vec_id", $"embedding")
    val twin = base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", (x, i) => x + when(i % 7 === 0, 0.03f).otherwise(0.0f))
        .as("embedding"))
    val pairs = Dedup.embeddingPairs(base.unionByName(twin), "vec_id", "embedding",
      threshold = 0.9)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = base.select("vec_id").as[Long].collect()
    val recall = ids.count(id => found.contains((id, id + 1000000L))).toDouble / ids.length
    assert(recall >= 0.9, s"banded twin recall $recall < 0.9")
  }

  test("brute-force cosine top-k: self is rank 1; ranks complete") {
    val qs = embs.limit(10).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val out = Similarity.bruteForceTopK(qs, "qid", "qvec",
      embs.select($"vec_id", $"embedding"), "vec_id", "embedding", k = 5)
    assert(out.count() == 50)
    val r1 = out.where($"rank" === 1).select("qid", "vec_id").as[(Long, Long)].collect()
    r1.foreach { case (q, c) => assert(q == c, s"rank-1 of $q was $c, not itself") }
  }

  test("LSH top-k: planted near-neighbor recall >= 0.8 at 12 bits + multiprobe") {
    val corpus = embs.select($"vec_id", $"embedding").cache()
    // queries = perturbed corpus vectors (cos ~ 0.999)
    val qs = corpus.limit(100).select(($"vec_id" + 5000000L).as("qid"),
      transform($"embedding", x => x + lit(0.001f)).as("qvec"))
    val out = Similarity.lshTopK(qs, "qid", "qvec", corpus, "vec_id", "embedding",
      k = 1, bits = 12)
    val hits = out.where($"qid" - 5000000L === $"vec_id").count()
    assert(hits >= 80, s"LSH recall $hits/100 < 80")
  }

  test("q20 plan never evaluates the BPE kernel (ws-only variant)") {
    // the ws-only token count must keep q20 independent of column pruning:
    // no token_count_bpe node anywhere in the plan
    val df = graft.SparkEntry.queries("q20_text_analysis")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("tokencountbpe") && !plan.contains("token_count_bpe"), plan.take(2000))
  }

  test("text ops: token counts, quality, langid, fingerprints") {
    val out = TextOps.withTokenCounts(
      TextOps.withQuality(
        TextOps.withLangId(
          TextOps.withFingerprint(docs, "text"), "text"), "text"), "text")
    val r = out.select("n_chars", "q_tokens", "n_tokens_ws", "n_tokens_bpe",
      "q_score", "lang_pred", "fingerprint").collect()
    r.foreach { row =>
      assert(row.getInt(1) == row.getInt(2)) // q_tokens == ws tokens
      assert(row.getInt(3) >= row.getInt(2)) // bpe >= ws count
      assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0)
      assert(row.getString(5).nonEmpty)
      assert(row.getSeq[Long](6).nonEmpty)
    }
    // langid on unambiguous sentences
    val langs = Seq(
      "the cat sat on the mat and it was happy with the food for the day",
      "der Hund ist nicht mit der Katze und das ist ein Problem von den Tieren",
      "le chat est dans la maison et il est pour les enfants avec une balle",
      "el perro es un animal que vive en la casa con los niños y las niñas",
      "这是一个中文句子用来测试语言识别功能的准确性",
      "это русское предложение для проверки определения языка"
    ).toDF("text").select(lang_id($"text")).as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "fr", "es", "zh", "ru"), langs.toSeq.toString)
  }

  test("minhashRecallReport: measured recall tracks banding theory") {
    // corpus: docs + exact twins (+1000, j = 1.0) + lightly-mutated twins
    // (+2000, j ~ 0.85-0.95): the top band must read recall ~1.0 and every
    // band must sit above the theoretical floor at its LOWER edge
    val base = docs.limit(80).select($"doc_id", $"text")
    val corpus = base
      .unionByName(base.select(($"doc_id" + 1000L).as("doc_id"), $"text"))
      .unionByName(base.select(($"doc_id" + 2000L).as("doc_id"),
        concat($"text", lit(" tail words")).as("text")))
    val rep = Dedup.minhashRecallReport(corpus, "doc_id", "text", sampleN = 500)
      .as[(Double, Long, Long, Double)].collect()
    assert(rep.nonEmpty)
    val byBand = rep.map(r => r._1 -> r).toMap
    // exact twins land in the 1.0 band (floor(1.0*10)/10) with recall 1.0
    assert(byBand.contains(1.0) && byBand(1.0)._4 == 1.0, byBand.toString)
    // each band's recall >= theory at the band's LOWER edge minus slack
    def theory(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, 8), 16)
    rep.foreach { case (band, n, f, rec) =>
      assert(f <= n)
      assert(rec >= theory(band) - 0.2, s"band $band recall $rec << theory ${theory(band)}")
    }
  }

  test("sharedPassagePairs: planted passages found, zero false positives, hot-fp filter") {
    // gibberish corpus: 16-hex-token sentences from disjoint splitmix streams
    // (no two docs share an 11-char substring); planted pairs share a long
    // passage copied verbatim into otherwise-fresh gibberish
    def tok(doc: Long, j: Int): String = f"${TextKernels.mix64(doc * 1000 + j)}%016x"
    def gibberish(doc: Long, n: Int): String = (0 until n).map(tok(doc, _)).mkString(" ")
    val base = (0L until 30L).map(i => (i, gibberish(i, 12)))
    val planted = (0L until 30L).filter(_ % 3 == 0).map { i =>
      val passage = gibberish(i, 12).substring(10, 60) // 50 chars of doc i
      (i + 1000L, gibberish(i + 500L, 4) + " " + passage + " " + gibberish(i + 700L, 4))
    }
    val corpus = (base ++ planted).toDF("id", "text")
    val pairs = Dedup.sharedPassagePairs(corpus, "id", "text")
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0L until 30L).filter(_ % 3 == 0).map(i => (i, i + 1000L)).toSet
    assert(found == expected, s"diff: ${(found diff expected) ++ (expected diff found)}")
    // verification is exact: a doc-frequency cap of 1 keeps only fingerprints
    // unique to a pair — planted passages are unique, so nothing changes
    val capped = Dedup.sharedPassagePairs(corpus, "id", "text", maxDocFrequency = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == expected)
    // common_substring kernel: exact boundaries
    val probe = Seq(("abcdefghijk", "XXabcdefghijkYY", 11, true),
      ("abcdefghijk", "XXabcdefghijYY", 11, false)).toDF("a", "b", "l", "want")
    probe.select(common_substring($"a", $"b", $"l") === $"want").collect()
      .foreach(r => assert(r.getBoolean(0)))
  }

  test("sharedPassagePairs: hot-fingerprint cap is ON by default (boilerplate bounded)") {
    def tok(doc: Long, j: Int): String = f"${TextKernels.mix64(doc * 1000 + j)}%016x"
    def gibberish(doc: Long, n: Int): String = (0 until n).map(tok(doc, _)).mkString(" ")
    // 1100 byte-identical boilerplate docs (identical text ⇒ identical
    // fingerprint set, no winnowing boundary effects): every fingerprint has
    // doc frequency 1100 > the default 1000 cap and is dropped, so the
    // candidate join produces ZERO of the C(1100,2) ~ 6e5 boilerplate pairs
    val footer = "standard legal boilerplate footer shared by every crawled page verbatim"
    val boiler = (0L until 1100L).map(i => (i, footer))
    // plus one genuinely-shared unique passage that must survive the cap
    val passage = gibberish(90000L, 8)
    val corpus = (boiler ++ Seq((5000L, gibberish(91000L, 3) + " " + passage),
      (5001L, gibberish(92000L, 3) + " " + passage))).toDF("id", "text")
    val found = Dedup.sharedPassagePairs(corpus, "id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found == Set((5000L, 5001L)),
      s"default cap must kill boilerplate-only pairs, keep unique ones: $found")
    // opt-out (maxDocFrequency = 0) on a small slice: boilerplate pairs return
    val slice = (0L until 40L).map(i => (i, footer)).toDF("id", "text")
    val all = Dedup.sharedPassagePairs(slice, "id", "text", maxDocFrequency = 0)
    assert(all.count() == 40L * 39 / 2)
  }

  test("sampleBucket: ANSI-safe for full-range 64-bit ids, equal to the direct formula") {
    // xxhash-scale ids (|id| >= 3.47e9 overflowed the old checked multiply)
    val big = Seq(Long.MaxValue, Long.MinValue, -1L, 0L, 3470000000L,
      8187236872689921321L, -6239871263871623123L).toDF("id")
    val got = big.select(TextOps.sampleBucket($"id").as("b")).as[Long].collect()
    got.foreach(b => assert(b >= 0 && b < 1000))
    // reference: BigInteger arithmetic of the documented formula
    val want = Seq(Long.MaxValue, Long.MinValue, -1L, 0L, 3470000000L,
      8187236872689921321L, -6239871263871623123L).map { id =>
      val m32 = java.math.BigInteger.valueOf(id)
        .multiply(java.math.BigInteger.valueOf(2654435761L))
        .mod(java.math.BigInteger.valueOf(4294967296L))
      m32.multiply(java.math.BigInteger.valueOf(1000L))
        .divide(java.math.BigInteger.valueOf(4294967296L)).longValueExact()
    }
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
  }

  test("clusters: certificate is sound when a universe under-covers the pairs") {
    // universe covers only id 0; pairs bring 0-1-2: endpoints must be folded
    // into the label universe up front, so the closure still resolves
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs, "id", universe = Some(Seq(0L).toDF("id")))
      .select("id", "canonical_id").as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L), out.toString)
    // maxRounds exhaustion throws instead of returning partial labels
    val chain = spark.range(30).select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    intercept[IllegalStateException] {
      Dedup.clusters(chain, "id", maxRounds = 1).count()
    }
  }

  test("tile mosaic: quadrant placement exact, averaging deterministic, pyramid meta") {
    import graft.geo.algo.GeoAlgo.packTile
    import graft.pipeline.ImageGen
    // four child tiles of parent (z=7, 5, 10), one image each, plus a second
    // image sharing quadrant 0 and an absent quadrant elsewhere
    val rows = Seq(
      (packTile(8, 10, 20), ImageGen.encode(1L)),  // quadrant 0
      (packTile(8, 10, 20), ImageGen.encode(2L)),  // quadrant 0 (averaged)
      (packTile(8, 11, 20), ImageGen.encode(4L)),  // quadrant 1
      (packTile(8, 10, 21), ImageGen.encode(5L)),  // quadrant 2
      // second parent with a single member -> 3 empty quadrants
      (packTile(8, 30, 40), ImageGen.encode(7L)))
    val df = rows.toDF("tile_key", "bytes")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.mosaicTiles(d, "tile_key", "bytes")
        .select("tile_key", "mosaic", "n_images", "n_quadrants")
        .as[(Long, Array[Byte], Long, Long)].collect().sortBy(_._1)
    val out = run(df)
    assert(out.length == 2)
    val (k1, m1, n1, q1) = out(0)
    assert(k1 == packTile(7, 5, 10) && n1 == 4 && q1 == 3)
    val (w1, h1, _, px1) = ImageGen.decode(m1)
    assert(w1 == 16 && h1 == 16)
    // single-image quadrant 1 == its 8x8 nearest-neighbor thumbnail exactly
    val (w4, h4, _, rgb4) = ImageGen.decode(ImageGen.encode(4L))
    for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3) {
      val want = rgb4(((y * h4 / 8) * w4 + (x * w4 / 8)) * 3 + c) & 0xff
      val got  = px1((y * 16 + (8 + x)) * 3 + c) & 0xff
      assert(got == want, s"quadrant-1 pixel ($x,$y,$c): $got != $want")
    }
    // two-image quadrant 0 = exact integer mean of the two thumbnails
    val (wa, ha, _, ra) = ImageGen.decode(ImageGen.encode(1L))
    val (wb, hb, _, rb) = ImageGen.decode(ImageGen.encode(2L))
    for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3) {
      val va = ra(((y * ha / 8) * wa + (x * wa / 8)) * 3 + c) & 0xff
      val vb = rb(((y * hb / 8) * wb + (x * wb / 8)) * 3 + c) & 0xff
      val got = px1((y * 16 + x) * 3 + c) & 0xff
      assert(got == (va + vb) / 2, s"avg pixel ($x,$y,$c)")
    }
    // empty quadrant 3 is black
    for (y <- 8 until 16; x <- 8 until 16; c <- 0 until 3)
      assert(px1((y * 16 + x) * 3 + c) == 0)
    // second parent: 1 member, 1 quadrant
    assert(out(1)._1 == packTile(7, 15, 20) && out(1)._3 == 1 && out(1)._4 == 1)
    // averaging is associative/commutative: repartitioning changes nothing
    val shuffled = run(df.repartition(7))
    assert(shuffled.zip(out).forall { case (a, b) =>
      a._1 == b._1 && java.util.Arrays.equals(a._2, b._2) })
    // single-member mosaic quadrant vs resize expression: identical payload
    // pixels (average of one is the identity) -> PSNR is infinite/99
    val single = Multimodal.mosaicTiles(
      Seq((packTile(8, 30, 40), ImageGen.encode(7L))).toDF("tile_key", "bytes"),
      "tile_key", "bytes")
    val ps = single.select(Multimodal.image_psnr(
      Multimodal.image_resize(col("mosaic"), lit(16), lit(16)),
      col("mosaic"))).as[Double].head()
    assert(ps == 99.0, s"identity-resize PSNR $ps")
  }

  test("tile mosaic composes into a pyramid: z=8 -> z=7 -> z=6") {
    import graft.geo.sql.GeoFunctions.tile_z
    val imgs = graft.pipeline.ImageGen.withLngLat(graft.pipeline.ImageGen.table(spark, 400))
    val t8 = graft.geo.join.SpatialJoins.assignTiles(imgs, "lng", "lat", z = 8)
    val m7 = Multimodal.mosaicTiles(t8, "tile_key", "bytes")
    // a mosaic IS a GRB1 image, so the same operator rolls it up again
    val m6 = Multimodal.mosaicTiles(m7, "tile_key", "mosaic")
    assert(m7.select(tile_z($"tile_key")).distinct().as[Int].collect().toSeq == Seq(7))
    assert(m6.select(tile_z($"tile_key")).distinct().as[Int].collect().toSeq == Seq(6))
    // each level's member count is the previous level's tile count
    assert(m7.agg(sum($"n_images")).as[Long].head() == 400L)
    assert(m6.agg(sum($"n_images")).as[Long].head() == m7.count())
    // payloads stay fixed-size 16x16 at every level
    val meta = m6.select(Multimodal.image_meta($"mosaic").getField("w"),
      Multimodal.image_meta($"mosaic").getField("h")).distinct().as[(Int, Int)].collect()
    assert(meta.toSeq == Seq((16, 16)))
  }

  test("catalog dedup: shard anti-joined against persisted signatures; append grows it") {
    def tok(doc: Long, j: Int): String = f"${TextKernels.mix64(doc * 1000 + j)}%016x"
    def gibberish(doc: Long, n: Int): String = (0 until n).map(tok(doc, _)).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString + "/catalog"
    val corpus = (0L until 100L).map(i => (i, gibberish(i, 12))).toDF("id", "text")
    Dedup.writeCatalog(corpus, "id", "text", dir)
    // shard: 10 exact re-crawls, 10 near-mutations (same doc + a short tail,
    // jaccard ~0.93 -> banded collision), 10 genuinely fresh docs
    val shard = ((0L until 10L).map(i => (1000L + i, gibberish(i, 12))) ++
      (0L until 10L).map(i => (1100L + i, gibberish(10 + i, 12) + " tail" + i)) ++
      (0L until 10L).map(i => (1200L + i, gibberish(5000L + i, 12)))).toDF("id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    // exact mode: only byte-identical re-crawls go
    assert(ids(Dedup.dedupAgainst(shard, "id", "text", dir, mode = "exact")) ==
      ((1100L until 1110L) ++ (1200L until 1210L)).toSet)
    // near mode (default): mutations go too; fresh docs survive
    val survivors = Dedup.dedupAgainst(shard, "id", "text", dir)
    assert(ids(survivors) == (1200L until 1210L).toSet)
    // pair provenance: exact matches flagged, mutations carry band counts
    val pairs = Dedup.catalogPairs(shard, "id", "text", dir)
      .select("shard_id", "catalog_id", "exact", "n_bands")
      .as[(Long, Long, Boolean, Long)].collect()
    assert(pairs.filter(_._3).map(p => (p._1, p._2)).toSet ==
      (0L until 10L).map(i => (1000L + i, i)).toSet)
    assert((1100L until 1110L).forall(s =>
      pairs.exists(p => p._1 == s && p._2 == s - 1100L + 10L && p._4 >= 1)))
    // incremental flow: accepted survivors are appended; a re-crawl of the
    // same shard now matches everything
    Dedup.appendToCatalog(survivors, "id", "text", dir)
    assert(Dedup.dedupAgainst(shard, "id", "text", dir).isEmpty)
  }

  test("compactCatalog: self-dedup + bounded files, dedupAgainst results identical") {
    def tok(doc: Long, j: Int): String = f"${TextKernels.mix64(doc * 500 + j)}%016x"
    def gibberish(doc: Long, n: Int): String = (0 until n).map(tok(doc, _)).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/catalog"
    val corpus = (0L until 80L).map(i => (i, gibberish(i, 12))).toDF("id", "text")
    Dedup.writeCatalog(corpus, "id", "text", dir)
    // the re-crawl pathology: the SAME corpus appended twice more — every
    // doc now matches itself in triplicate and the tables carry 3x rows
    Dedup.appendToCatalog(corpus, "id", "text", dir)
    Dedup.appendToCatalog(corpus, "id", "text", dir)
    def parts(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.startsWith("part-"))
    def rows(sub: String) = spark.read.parquet(s"$dir/$sub").count()
    val (exactBefore, mhBefore) = (rows("exact"), rows("minhash"))
    assert(exactBefore == 240L, s"3 appends should triple the rows, got $exactBefore")
    val shard = ((0L until 10L).map(i => (2000L + i, gibberish(i, 12))) ++
      (0L until 10L).map(i => (2100L + i, gibberish(9000L + i, 12)))).toDF("id", "text")
    def result() = Dedup.dedupAgainst(shard, "id", "text", dir)
      .select("id").as[Long].collect().toSet
    val before = result()
    Dedup.compactCatalog(spark, dir, filesPerTable = 2)
    // duplicate signature rows collapsed, file count bounded, answers identical
    assert(rows("exact") == 80L && rows("minhash") == mhBefore / 3)
    assert(parts("exact") <= 2 && parts("minhash") <= 2,
      s"file counts after compaction: exact=${parts("exact")} minhash=${parts("minhash")}")
    assert(result() == before && before == (2100L until 2110L).toSet)
    // idempotent: compacting a compacted catalog is a no-op on rows
    Dedup.compactCatalog(spark, dir, filesPerTable = 2)
    assert(rows("exact") == 80L && result() == before)
  }

  test("compactCatalog: crash between the two renames is recovered, no data loss") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/catalog"
    val corpus = (0L until 40L).map(i => (i, s"crash recovery corpus document body $i"))
      .toDF("id", "text")
    Dedup.writeCatalog(corpus, "id", "text", dir)
    val shard = (0L until 10L).map(i => (3000L + i, s"crash recovery corpus document body $i"))
      .toDF("id", "text")
    def matchedIds() = shard.count() - Dedup.dedupAgainst(shard, "id", "text", dir).count()
    assert(matchedIds() == 10L)
    // simulate a compaction that died BETWEEN its two renames: the live dir
    // was already moved to the backup, the compacted tmp never arrived —
    // the backup is now the ONLY copy of the exact table
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.move(Paths.get(s"$dir/exact"), Paths.get(s"$dir/.old_exact"),
      StandardCopyOption.ATOMIC_MOVE)
    // re-entry must restore the backup before deleting anything
    Dedup.compactCatalog(spark, dir, filesPerTable = 2)
    assert(matchedIds() == 10L, "catalog lost rows after crash recovery")
    assert(spark.read.parquet(s"$dir/exact").count() == 40L)
    assert(!Files.exists(Paths.get(s"$dir/.old_exact")) &&
           !Files.exists(Paths.get(s"$dir/.compact_exact")))
  }

  test("catalog dedup: STRING doc ids (URLs) catalog as-is") {
    // production doc ids are often strings; signatures must preserve the
    // id type instead of silently nulling it through a long cast
    val dir = java.nio.file.Files.createTempDirectory("graft_cats").toString + "/catalog"
    val corpus = (0 until 50).map(i => (s"https://ex.com/p$i", s"catalog page body number $i"))
      .toDF("url", "text")
    Dedup.writeCatalog(corpus, "url", "text", dir)
    val shard = ((0 until 10).map(i => (s"https://ex.com/re$i", s"catalog page body number $i")) ++
      (0 until 10).map(i => (s"https://ex.com/new$i", s"genuinely fresh page $i")))
      .toDF("url", "text")
    val survivors = Dedup.dedupAgainst(shard, "url", "text", dir)
      .select("url").as[String].collect().toSet
    assert(survivors == (0 until 10).map(i => s"https://ex.com/new$i").toSet, survivors.toString)
    val pairs = Dedup.catalogPairs(shard, "url", "text", dir)
      .where($"exact").select("shard_id", "catalog_id").as[(String, String)].collect().toSet
    assert(pairs == (0 until 10).map(i => (s"https://ex.com/re$i", s"https://ex.com/p$i")).toSet)
  }

  test("catalog dedup plan: catalog side streams, signatures never shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_catp").toString + "/catalog"
    val corpus = spark.range(200).select($"id",
      concat(lit("catalog doc body "), $"id").as("text"))
    Dedup.writeCatalog(corpus, "id", "text", dir)
    val shard = spark.range(20).select(($"id" + 5000L).as("id"),
      concat(lit("shard doc body "), $"id").as("text"))
    val plan = Dedup.dedupAgainst(shard, "id", "text", dir)
      .queryExecution.executedPlan.toString
    // the catalog's (h,len)/(band,bh) rows must never ride an exchange: the
    // shard signatures broadcast, the catalog streams through BHJs
    assert(!plan.contains("SortMergeJoin"), s"catalog side must not sort-merge:\n${plan.take(3000)}")
    assert(!plan.contains("hashpartitioning(h#") && !plan.contains("hashpartitioning(len#") &&
      !plan.contains("hashpartitioning(band#") && !plan.contains("hashpartitioning(bh#"),
      s"signature keys must not shuffle:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), "shard signatures must broadcast")
  }

  test("perceptual catalog: hamming-banded dedup, append grows it, catalog never shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pcat").toString + "/catalog"
    // synthetic 64-bit hashes (the API is modality-agnostic: any phash column)
    val corpus = spark.range(100).select($"id", xxhash64($"id").as("ph"))
    Dedup.writePerceptualCatalog(corpus, "id", "ph", dir)
    // shard: re-crawls (hamming 0), near-dups (3 flips in ONE band — banding
    // keeps 3 intact bands AND verify passes), in-band 4-flip (a band still
    // intact -> candidate, but hamming 4 > 3 -> SURVIVES via verify), and
    // spread 4-flip (one flip per band -> no intact band -> survives)
    val flip3 = (h: org.apache.spark.sql.Column) =>
      h.bitwiseXOR(lit(1L)).bitwiseXOR(lit(2L)).bitwiseXOR(lit(4L))
    val flip4inband = (h: org.apache.spark.sql.Column) =>
      h.bitwiseXOR(lit(0x000FL))
    val flip4spread = (h: org.apache.spark.sql.Column) =>
      h.bitwiseXOR(lit(1L)).bitwiseXOR(lit(1L << 16)).bitwiseXOR(lit(1L << 32)).bitwiseXOR(lit(1L << 48))
    val shard =
      spark.range(10).select(($"id" + 1000L).as("id"), xxhash64($"id").as("ph"))
        .unionByName(spark.range(10).select(($"id" + 1100L).as("id"), flip3(xxhash64($"id")).as("ph")))
        .unionByName(spark.range(10).select(($"id" + 1200L).as("id"), flip4inband(xxhash64($"id")).as("ph")))
        .unionByName(spark.range(10).select(($"id" + 1300L).as("id"), flip4spread(xxhash64($"id")).as("ph")))
        .unionByName(spark.range(10).select(($"id" + 1400L).as("id"), xxhash64($"id" + 77000L).as("ph")))
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("id").as[Long].collect().toSet
    val survivors = Dedup.dedupAgainstPerceptual(shard, "id", "ph", dir)
    assert(ids(survivors) ==
      ((1200L until 1210L) ++ (1300L until 1310L) ++ (1400L until 1410L)).toSet)
    // incremental flow: accepted survivors append; a re-crawl now matches
    Dedup.appendToPerceptualCatalog(survivors, "id", "ph", dir)
    assert(Dedup.dedupAgainstPerceptual(shard, "id", "ph", dir).isEmpty)
    // maintenance: a duplicate append self-dedups under compaction, file
    // count bounded, dedup results identical
    Dedup.appendToPerceptualCatalog(survivors, "id", "ph", dir)
    Dedup.compactPerceptualCatalog(spark, dir, filesPerTable = 2)
    assert(Dedup.dedupAgainstPerceptual(shard, "id", "ph", dir).isEmpty)
    val rows = spark.read.parquet(s"$dir/phash")
    assert(rows.count() == rows.distinct().count(), "compaction must drop duplicate signature rows")
    val nFiles = new java.io.File(s"$dir/phash").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles <= 2, s"expected <=2 parquet files after compaction, got $nFiles")
    // plan: catalog (band, bh, ph) rows stream through a BHJ, never shuffle
    val plan = Dedup.dedupAgainstPerceptual(shard, "id", "ph", dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"catalog side must not sort-merge:\n${plan.take(3000)}")
    assert(!plan.contains("hashpartitioning(band#") && !plan.contains("hashpartitioning(bh#"),
      s"signature keys must not shuffle:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), "shard signatures must broadcast")
  }

  test("text kernels stay inside whole-stage codegen (no CodegenFallback ejection)") {
    // a triple projection of the three hottest LSH kernels plus lang-ID and
    // BPE counting: ONE interpreted expression would eject the whole
    // Project from WholeStageCodegen and kill subexpression elimination
    val plan = docs.select(
      minhash_sig($"text", lit(32), lit(5)).as("mh"),
      simhash64($"text", lit(4)).as("sh"),
      winnow_fp($"text", lit(5), lit(8)).as("fp"),
      lang_id($"text").as("lg"),
      token_count_bpe($"text").as("tc"))
      .queryExecution.executedPlan.toString
    val projLine = plan.linesIterator
      .find(l => l.contains("minhashArray") || l.contains("Project")).getOrElse("")
    assert(projLine.contains("*("),
      s"text-kernel projection fell out of whole-stage codegen:\n${plan.take(1500)}")
    // hyperplane signatures over embeddings: same pin
    val hp = embs.select(hyperplane_sig($"embedding", lit(16), lit(42L)))
      .queryExecution.executedPlan.toString
    val hpLine = hp.linesIterator.find(_.contains("Project")).getOrElse("")
    assert(hpLine.contains("*("),
      s"hyperplane projection fell out of whole-stage codegen:\n${hp.take(1500)}")
    // the kernels' SQL results equal their direct Scala calls
    val texts = docs.limit(50).select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    docs.limit(50).select($"doc_id",
      minhash_sig($"text", lit(16), lit(5)).as("mh"),
      simhash64($"text", lit(4)).as("sh"),
      winnow_fp($"text", lit(5), lit(8)).as("fp"),
      lang_id($"text").as("lg"),
      token_count_bpe($"text").as("tc")).collect().foreach { r =>
      val t = texts(r.getLong(0))
      assert(r.getSeq[Long](1) == TextKernels.minhash(t, 16, 5).toSeq)
      assert(r.getLong(2) == TextKernels.simhash(t, 4))
      assert(r.getSeq[Long](3) == TextKernels.winnow(t, 5, 8).toSeq)
      assert(r.getString(4) == TextKernels.langId(t))
      assert(r.getInt(5) == TextKernels.tokenCountBpe(t))
    }
  }

  test("kll probe expressions COMPILE under codegen (no silent whole-stage fallback)") {
    import Sketches._
    Sketches.register(spark)
    // fallback=false turns a janino compile failure into a hard error
    // instead of a silent interpreted downgrade of the whole stage — the
    // round-6 ADVICE defect: kllQuantile returns Any (nullable) and
    // defineCodeGen assigned it into the primitive long slot, which janino
    // rejects, ejecting every kll_quantile stage from codegen.
    val old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = spark.range(300)
        .select((col("id") % 7).as("g"), ((col("id") * 37) % 1000).as("v"))
        .groupBy("g").agg(kll_sketch(col("v"), 64).as("s"))
        .select(col("g"), kll_quantile(col("s.v"), lit(0.5)).as("p50"),
          kll_rank(col("s.v"), lit(500L)).as("r"), kll_n(col("s.v")).as("n"))
        .collect() // throws SparkException(CompileException) if codegen breaks
      assert(rows.length == 7 && rows.forall(!_.isNullAt(1)))
      // the empty-sketch (n = 0) null guard must work in GENERATED code too
      val empty = spark.range(0).select(col("id").as("v"))
        .agg(kll_sketch(col("v"), 64).as("s"))
        .select(kll_quantile(col("s.v"), lit(0.5)).as("q"), lit(1).as("k"))
        .head()
      assert(empty.isNullAt(0), "empty sketch must yield NULL under codegen")
    } finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("KLL quantile sketch: exact mode, planted distributions, merge ≡ one-shot bounds") {
    import Sketches._
    Sketches.register(spark)
    def sk(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.agg(kll_sketch($"v", k).as("s")).select($"s.v".as("blob")).head().getSeq[Long](0)
    def quantile(blob: Seq[Long], q: Double): Long = {
      val r = Seq(Tuple1(blob.toArray)).toDF("blob")
        .selectExpr(s"kll_quantile(blob, ${q}d) AS qv").head()
      r.getLong(0)
    }
    // ---- exact mode (n <= k): percentile_disc equality + partition independence
    val vals = (1L to 150L).map(i => (i * 37) % 151) // a permutation of 1..150
    val exact = vals.sorted
    Seq(1, 7).foreach { parts =>
      val blob = sk(vals.toDF("v").repartition(parts), 200)
      assert(blob(2) == 150L)
      Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0).foreach { q =>
        val want = exact(math.max(1, math.ceil(q * 150).toInt) - 1)
        assert(quantile(blob, q) == want, s"q=$q parts=$parts")
      }
    }
    // exact-mode blobs are BYTE-identical across partitionings (sorted
    // multiset union is merge-order invariant)
    assert(sk(vals.toDF("v").repartition(1), 200) == sk(vals.toDF("v").repartition(7), 200))
    // ---- compacted mode: planted distributions with closed-form quantiles
    val n = 100000L
    val eps = 0.02 // generous bound: k=400 → levels ~ log2(n/k) ≈ 8
    def checkDist(df: org.apache.spark.sql.DataFrame, trueQ: Double => Long, name: String): Unit = {
      val blob = sk(df, 400)
      assert(blob(2) == n, s"$name n")
      // total stored weight must equal n (compaction conserves mass)
      val l = blob(1).toInt
      val mass = (0 until l).map(i => blob(3 + i) * (1L << i)).sum
      assert(mass == n, s"$name stored weight $mass != $n")
      Seq(0.01, 0.1, 0.5, 0.9, 0.99).foreach { q =>
        val got = quantile(blob, q)
        // value-space check via the true rank of the returned value
        val lo = trueQ(math.max(0.0, q - eps)); val hi = trueQ(math.min(1.0, q + eps))
        assert(got >= lo && got <= hi, s"$name q=$q got $got not in [$lo, $hi]")
      }
    }
    // uniform 0..999 (value = rank-scaled)
    checkDist(spark.range(n).select((col("id") % 1000).as("v")),
      q => math.min(999L, (q * 1000).toLong), "uniform")
    // heavy-skew: 90% zeros + a 10% spike at 5000 (the two-point closed form)
    checkDist(spark.range(n).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(lit(5000L)).as("v")),
      q => if (q <= 0.9) 0L else 5000L, "skew")
    // ---- merge ≡ one-shot: shard partials through kll_merge land within
    // the same rank bound as the one-shot sketch
    val uniform = spark.range(n).select((col("id") % 1000).as("v"), (col("id") % 7).as("shard"))
    val shards = uniform.groupBy("shard").agg(kll_sketch($"v", 400).as("s"))
      .select($"s.v".as("blob"))
    val merged = shards.agg(kll_merge($"blob", 400).as("m")).select($"m.v".as("blob"))
      .head().getSeq[Long](0)
    assert(merged(2) == n)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val got = quantile(merged, q)
      val want = (q * 1000).toLong
      assert(math.abs(got - want) <= 1000 * 2 * eps, s"merged q=$q got $got want ~$want")
    }
    // null shard partials are skipped, not an NPE
    val withNull = shards.union(Seq(Tuple1(null.asInstanceOf[Array[Long]])).toDF("blob"))
      .agg(kll_merge($"blob", 400).as("m")).select($"m.v".as("blob")).head().getSeq[Long](0)
    assert(withNull(2) == n)
    // ---- rank query: strict-below counting on the exact-mode sketch
    val blob150 = sk(vals.toDF("v"), 200)
    val ranks = Seq(Tuple1(blob150.toArray)).toDF("blob")
      .selectExpr("kll_rank(blob, 76L) AS r", "kll_n(blob) AS n").head()
    assert(ranks.getLong(0) == exact.count(_ < 76L) && ranks.getLong(1) == 150L)
  }

  test("KLL stress: random merge trees conserve mass and keep rank bounds") {
    // adversarial merging (the shapes Spark's partial aggregation can
    // produce): random chunking, random merge-tree order, repeated
    // compaction — mass must be conserved exactly and quantiles stay
    // within the rank bound at every trial
    import Sketches._
    val rnd = new scala.util.Random(990L)
    val agg = new KllAggregator(256)
    (0 until 12).foreach { trial =>
      val n = 20000 + rnd.nextInt(30000)
      val values = Array.fill(n)(rnd.nextInt(10000).toLong)
      val chunks = values.grouped(1 + rnd.nextInt(4000)).toBuffer
      val bufs = chunks.map(_.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
      while (bufs.length > 1) {
        val i = rnd.nextInt(bufs.length)
        val a = bufs.remove(i)
        val j = rnd.nextInt(bufs.length)
        val b = bufs.remove(j)
        bufs += agg.merge(a, b)
      }
      val blob = agg.finish(bufs.head).v
      assert(blob(2) == n, s"trial $trial: n ${blob(2)} != $n")
      val l = blob(1).toInt
      val mass = (0 until l).map(i => blob(3 + i) * (1L << i)).sum
      assert(mass == n, s"trial $trial: stored mass $mass != $n")
      val sorted = values.sorted
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(blob)
      Seq(0.05, 0.25, 0.5, 0.75, 0.95).foreach { q =>
        val got = SketchRuntime.kllQuantile(ad, q).asInstanceOf[Long]
        // the returned value's true rank window must sit within q ± 5% of n
        val lo = sorted.indexWhere(_ >= got)      // first index with value >= got
        val hi = sorted.lastIndexWhere(_ <= got)  // last index with value <= got
        val target = math.max(1, math.ceil(q * n).toInt) - 1
        assert(target >= lo - 0.05 * n && target <= hi + 0.05 * n,
          s"trial $trial q=$q: value $got rank window [$lo,$hi] vs target $target")
      }
    }
  }

  test("CountMin sketch: never underestimates, exact shard SUM-merge, point accuracy") {
    import Sketches._
    // key = doc length bucket (0..~60): true counts from an exact groupBy
    val keyed = docs.select(TextOps.tokenCountWs($"text").cast("long").as("k"))
    val truth = keyed.groupBy("k").count().as[(Long, Long)].collect().toMap
    val cms = keyed.select(mix64_col($"k").as("hh"))
      .agg(cms_sketch($"hh", w = 4096, d = 4)).head().getAs[org.apache.spark.sql.Row](0).getSeq[Long](0).toArray
    assert(cms.length == 4 * 4096 && cms.sum == 4 * docs.count())
    // point estimates: >= truth always; with ~60 keys in 4096 buckets,
    // collisions are rare enough that every estimate is EXACT here
    val est = keyed.distinct().crossJoin(Seq(Tuple1(cms)).toDF("cms"))
      .select($"k", cms_estimate($"cms", mix64_col($"k"), lit(4)).as("e"))
      .as[(Long, Long)].collect()
    est.foreach { case (k, e) =>
      assert(e >= truth(k), s"CMS underestimated key $k: $e < ${truth(k)}")
      assert(e == truth(k), s"unexpected collision on key $k: $e != ${truth(k)}")
    }
    // shard partials SUM together element-wise to the one-shot blob
    val sharded = docs.select(mix64_col(TextOps.tokenCountWs($"text").cast("long")).as("hh"),
        ($"doc_id" % 3).as("shard"))
      .groupBy("shard").agg(cms_sketch($"hh", 4096, 4).as("c"))
      .select($"c").collect().map(_.getAs[org.apache.spark.sql.Row](0).getSeq[Long](0).toArray)
    val summed = sharded.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    assert(java.util.Arrays.equals(cms, summed))
  }

  test("Bloom sketch: no false negatives, byte-identical shard OR-merge, bounded FPs") {
    import Sketches._
    val keys = docs.where($"doc_id" % 7 === 0).select(mix64_col($"doc_id").as("hh"))
    val bf = keys.agg(bloom_sketch($"hh", mBits = 4096, k = 4)).head().getAs[Array[Byte]](0)
    assert(bf.length == 512)
    // every inserted key hits (no false negatives)
    val misses = keys.crossJoin(Seq(bf).toDF("bf"))
      .where(!bloom_contains($"bf", $"hh", lit(4))).count()
    assert(misses == 0)
    // shard partials OR together byte-identically to the one-shot filter
    val sharded = docs.where($"doc_id" % 7 === 0)
      .select(mix64_col($"doc_id").as("hh"), ($"doc_id" % 3).as("shard"))
      .groupBy("shard").agg(bloom_sketch($"hh", 4096, 4).as("bf"))
      .select($"bf")
    val merged = sharded.as[Array[Byte]].collect()
      .reduce((a, b) => a.zip(b).map { case (x, y) => (x | y).toByte })
    assert(java.util.Arrays.equals(bf, merged))
    // non-members: FP rate bounded well under the theoretical envelope x4
    val nonMembers = docs.where($"doc_id" % 7 =!= 0)
      .crossJoin(Seq(bf).toDF("bf"))
      .where(bloom_contains($"bf", mix64_col($"doc_id"), lit(4))).count()
    val n = docs.where($"doc_id" % 7 === 0).count().toDouble
    val fpTheory = math.pow(1.0 - math.exp(-4.0 * n / 4096.0), 4)
    assert(nonMembers <= math.max(4.0, 4 * fpTheory * 500).toLong,
      s"$nonMembers false positives vs theory $fpTheory")
    // determinism: the blob is a pure function of the key set
    val bf2 = keys.repartition(9).agg(bloom_sketch($"hh", 4096, 4)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bf, bf2))
  }

  test("fixedKSample: window-oracle equality, partition independence, small groups, partial agg") {
    import org.apache.spark.sql.expressions.Window
    val corpus = docs.select($"lang", $"doc_id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id").as[(String, Long)].collect().toSet
    // oracle: the row_number window over the same (mix64, id) order
    val oracle = ids(corpus
      .withColumn("__h", mix64_col($"doc_id"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"lang").orderBy($"__h", $"doc_id")))
      .where($"__rn" <= 7).drop("__h", "__rn"))
    assert(ids(TextOps.fixedKSample(corpus, "lang", "doc_id", 7)) == oracle)
    // partitioning never changes the sample (merge path exercised)
    assert(ids(TextOps.fixedKSample(corpus.repartition(13), "lang", "doc_id", 7)) == oracle)
    assert(ids(TextOps.fixedKSample(corpus.repartition(1), "lang", "doc_id", 7)) == oracle)
    // duplicate (group, id) input rows collapse to one slot: the sample is
    // still the same k DISTINCT ids (reduce + merge both dedupe equal pairs)
    assert(ids(TextOps.fixedKSample(
      corpus.union(corpus).union(corpus.limit(40)).repartition(5), "lang", "doc_id", 7)) == oracle)
    // a group smaller than k returns the whole group
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("lang", "doc_id")
    assert(ids(TextOps.fixedKSample(tiny, "lang", "doc_id", 10)) ==
      Set(("a", 1L), ("a", 2L), ("b", 3L)))
    // plan: partial ObjectHashAggregate before the one group-keyed exchange
    val plan = TextOps.fixedKSample(corpus, "lang", "doc_id", 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan.take(2000))
  }

  test("HLL sketches: closed-form registers, byte-identical shard merge, estimate accuracy") {
    import Sketches._
    // hand-built hashes with known (bucket, rho): top 8 bits = bucket, the
    // remaining 56 carry a single set bit at rho-1 (57 = all-zero tail)
    def h(b: Int, r: Int): Long =
      if (r == 57) b.toLong << 56 else (b.toLong << 56) | ((1L << (64 - r)) >>> 8)
    val sk = Seq(h(3, 5), h(3, 9), h(200, 1), h(255, 57)).toDF("hh")
      .agg(hll_sketch($"hh", 8)).head().getAs[Array[Byte]](0)
    assert(sk.length == 256)
    assert((sk(3) & 0xff) == 9 && (sk(200) & 0xff) == 1 && (sk(255) & 0xff) == 57)
    assert(sk.count(_ != 0) == 3)
    // hll_registers exposes the same values through the SQL surface
    val regs = Seq(sk).toDF("sk").select(hll_registers($"sk")).head().getSeq[Int](0)
    assert(regs(3) == 9 && regs(200) == 1 && regs(255) == 57 && regs.sum == 67)
    // shard partials merge BYTE-IDENTICALLY to the one-shot sketch
    val hashed = docs.select($"doc_id", mix64_col($"doc_id").as("hh"),
      ($"doc_id" % 3).as("shard"))
    val whole = hashed.agg(hll_sketch($"hh", 12)).head().getAs[Array[Byte]](0)
    val merged = hashed.groupBy("shard").agg(hll_sketch($"hh", 12).as("sk"))
      .agg(hll_merge($"sk", 12)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged))
    // a null partial (e.g. a shard table with an empty shard's null sketch)
    // is skipped with ignore-nulls semantics, not an NPE
    val withNull = hashed.groupBy("shard").agg(hll_sketch($"hh", 12).as("sk"))
      .union(Seq((99L, null.asInstanceOf[Array[Byte]])).toDF("shard", "sk"))
      .agg(hll_merge($"sk", 12)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, withNull))
    // estimate: 500 distinct ids at p=12 sits in the linear-counting regime
    val est = Seq(whole).toDF("sk").select(hll_estimate($"sk")).head().getDouble(0)
    val exact = docs.select(countDistinct($"doc_id")).head().getLong(0).toDouble
    assert(math.abs(est - exact) / exact < 0.05, s"estimate $est vs exact $exact")
    // text cardinality through the same pipeline (hash of the content)
    val tsk = docs.agg(hll_sketch(mix64_col(xxhash64($"text")), 12)).head().getAs[Array[Byte]](0)
    val test_ = Seq(tsk).toDF("sk").select(hll_estimate($"sk")).head().getDouble(0)
    val texact = docs.select(countDistinct($"text")).head().getLong(0).toDouble
    assert(math.abs(test_ - texact) / texact < 0.05, s"estimate $test_ vs exact $texact")
  }

  test("int8 embedding quantization: bounded reconstruction, scale-invariant cosine, ANN-grade fidelity") {
    val vecs = embs.limit(200).select($"vec_id", $"embedding")
    // reconstruction error per component <= scale/2 (round-to-nearest)
    val errs = vecs.select($"embedding".as("v"),
        vec_dequantize(vec_quantize($"embedding")).as("d"))
      .select(expr("aggregate(zip_with(v, d, (x, y) -> abs(x - y)), CAST(0.0 AS DOUBLE), (a, e) -> greatest(a, CAST(e AS DOUBLE)))").as("maxerr"),
        expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))").as("maxabs"))
      .as[(Double, Double)].collect()
    errs.foreach { case (e, mx) =>
      assert(e <= mx / 127.0 / 2.0 * (1 + 1e-5) + 1e-12, s"reconstruction err $e vs bound ${mx / 254}")
    }
    // byte layout: 4-byte scale header + one byte per dim
    val dims = vecs.select(size($"embedding").as("n"), length(vec_quantize($"embedding")).as("b"))
      .as[(Int, Int)].collect()
    dims.foreach { case (n, b) => assert(b == n + 4) }
    // quantized cosine == cosine of the dequantized floats (scales cancel),
    // and stays within 0.01 of the full-precision cosine for real pairs
    val pairs = vecs.limit(50).select($"vec_id".as("ia"), $"embedding".as("va"))
      .crossJoin(vecs.limit(50).select($"vec_id".as("ib"), $"embedding".as("vb")))
      .where($"ia" < $"ib")
      .select(vec_cosine($"va", $"vb").as("full"),
        vec_cosine_q(vec_quantize($"va"), vec_quantize($"vb")).as("q"),
        vec_cosine(vec_dequantize(vec_quantize($"va")),
          vec_dequantize(vec_quantize($"vb"))).as("deq"))
      .as[(Double, Double, Double)].collect()
    pairs.foreach { case (full, q, deq) =>
      // cosineQ is exact integer arithmetic; the dequantized path rounds
      // each component through float32 — agreement to the f32 epsilon scale
      assert(math.abs(q - deq) <= 1e-6, s"cosineQ $q != dequantized cosine $deq")
      assert(math.abs(q - full) <= 0.01, s"quantized cosine drifted: $q vs $full")
    }
    // scale invariance is EXACT: v and 2v quantize to identical int vectors
    val inv = vecs.limit(20)
      .select(vec_cosine_q(vec_quantize($"embedding"),
        vec_quantize(transform($"embedding", x => x * 2.0f))).as("c"))
      .as[Double].collect()
    inv.foreach(c => assert(c == 1.0, s"scale invariance broken: $c"))
    // zero vector round-trips to zeros with cosine 0
    val z = Seq(Tuple1(Array.fill(8)(0.0f))).toDF("v")
      .select(vec_cosine_q(vec_quantize($"v"), vec_quantize($"v")).as("c"),
        vec_dequantize(vec_quantize($"v")).as("d"))
      .as[(Double, Array[Float])].head()
    assert(z._1 == 0.0 && z._2.forall(_ == 0.0f))
  }

  test("asofJoin equals the per-row brute oracle: ties, strict, inner/left, one shuffle") {
    // left events and right marks with planted EQUAL-ts ties
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 100L, 30L), (4L, 100L, 5L),
      (5L, 200L, 10L), (6L, 200L, 40L), (7L, 300L, 99L)).toDF("eid", "k", "ts")
    val right = Seq((100L, 10L, "a"), (100L, 20L, "b"), (100L, 30L, "c"),
      (200L, 15L, "x"), (200L, 40L, "y")).toDF("k", "ts", "v")
    def brute(strict: Boolean) = {
      val cond = if (strict) $"rts" < $"ts" else $"rts" <= $"ts"
      left.join(right.select($"k", $"ts".as("rts"), $"v"), Seq("k"))
        .where(cond)
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"eid").orderBy($"rts".desc)))
        .where($"__rn" === 1).select($"eid", $"v", $"rts".as("asof_ts"))
    }
    for (strict <- Seq(false, true)) {
      val got = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts",
          Seq("v"), strict = strict)
        .select($"eid", $"v", $"asof_ts")
      val want = brute(strict)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"strict=$strict: got ${got.collect().toSeq} want ${want.collect().toSeq}")
    }
    // <= at the tie: eid 1 (ts 10) matches the ts-10 mark; strict steps back
    val tieRow = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
      .where($"eid" === 1).select($"v").as[String].head()
    assert(tieRow == "a")
    val strictTie = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts",
      Seq("v"), strict = true).where($"eid" === 1)
    assert(strictTie.isEmpty, "strict must exclude the equal-ts mark (and eid 1 has none before)")
    // inner drops unmatched (eids 4 and 5 precede their keys' first marks,
    // eid 7's key has no marks); left keeps them with null values
    val inner = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
    assert(inner.select("eid").as[Long].collect().toSet == Set(1L, 2L, 3L, 6L))
    val outer = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts",
      Seq("v"), joinType = "left")
    assert(outer.count() == 7)
    assert(outer.where($"v".isNull).select("eid").as[Long].collect().toSet == Set(4L, 5L, 7L))
    // plan: one exchange (the window key), no cartesian/range explosion
    val plan = inner.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"asof must not explode candidates:\n${plan.take(2000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected one window shuffle per side of the union, got $exchanges")
  }

  test("asofJoin: TIMESTAMP columns compare at microsecond precision") {
    // a mark 0.7s AFTER the event must not match (second-truncation would
    // order it before the event and invert the backward semantics)
    val left = Seq((1L, 7L, "2024-01-01 10:00:00.200"),
      (2L, 7L, "2024-01-01 10:00:02.900")).toDF("eid", "k", "ts")
      .withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq((7L, "2024-01-01 10:00:00.700", "late"),
      (7L, "2024-01-01 10:00:00.100", "early")).toDF("k", "ts", "v")
      .withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
      .select("eid", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "early", 2L -> "late"), out.toString)
  }

  test("asofJoinSharded equals asofJoin on a planted one-hot-key corpus; window keyed on (key, shard)") {
    // 90% of rows on ONE key — the distribution where the unsharded window
    // serializes that key into a single task; the sharded variant must be
    // bit-identical while windowing on (key, time-shard)
    val left = spark.range(2000).select($"id".as("eid"),
      when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 5).as("k"),
      (xxhash64($"id") % 100000L + 100000L).as("ts"))
    val right = spark.range(300).select(
      when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 5).as("k"),
      (xxhash64($"id" + 777L) % 100000L + 100000L).as("ts"),
      concat(lit("v"), $"id").as("v"))
      .dropDuplicates("k", "ts") // contract: right unique on (key, ts)
      .localCheckpoint()
    for (strict <- Seq(false, true); jt <- Seq("inner", "left");
         width <- Seq(1000L, 7L, 1000000L)) {
      val plain = graft.ops.TemporalJoins.asofJoin(
        left, right, "k", "ts", "ts", Seq("v"), strict, jt)
      val sharded = graft.ops.TemporalJoins.asofJoinSharded(
        left, right, "k", "ts", "ts", Seq("v"), width, strict, jt)
      assert(sharded.exceptAll(plain).isEmpty && plain.exceptAll(sharded).isEmpty,
        s"sharded != plain at strict=$strict joinType=$jt width=$width")
    }
    // plan pin: the corpus-scale running-last window partitions on
    // (key, shard), not the bare key — the whole point of the variant
    val plan = graft.ops.TemporalJoins.asofJoinSharded(
      left, right, "k", "ts", "ts", Seq("v"), 1000L)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.exists(l => l.contains("__k") && l.contains("__shard")),
      s"expected a (__k, __shard)-keyed window:\n${windowLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("asofJoin: null keys never match (SQL join equality semantics)") {
    // a null-key left row must NOT pair with a null-key right row (DuckDB's
    // ASOF JOIN equality predicate drops null = null); it is unmatched —
    // dropped under inner, null-valued under left
    val left = Seq((1L, Some(100L), 20L), (2L, Option.empty[Long], 20L))
      .toDF("eid", "k", "ts")
    val right = Seq((Some(100L), 10L, "a"), (Option.empty[Long], 5L, "nullmark"))
      .toDF("k", "ts", "v")
    val inner = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts", Seq("v"))
    assert(inner.select("eid").as[Long].collect().toSeq == Seq(1L))
    val outer = graft.ops.TemporalJoins.asofJoin(left, right, "k", "ts", "ts",
      Seq("v"), joinType = "left")
    val byEid = outer.select("eid", "v").as[(Long, Option[String])].collect().toMap
    assert(byEid == Map(1L -> Some("a"), 2L -> None), byEid.toString)
  }

  test("vec_cosine_q fails loudly on mismatched QV1 dimensions") {
    // silently truncating to the shorter payload would return a plausible
    // but wrong cosine on a schema mix-up
    val a = TextKernels.vecQuantize(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(1.0f, 2.0f, 3.0f)))
    val b = TextKernels.vecQuantize(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(1.0f, 2.0f)))
    val e = intercept[IllegalArgumentException] { TextKernels.vecCosineQ(a, b) }
    assert(e.getMessage.contains("dimension mismatch"))
    assert(TextKernels.vecCosineQ(a, a) == 1.0)
  }

  test("deterministic sampling: monotone rates, partition-independent, ~uniform") {
    val ids = spark.range(20000).select($"id".as("doc_id"))
    def sample(pm: Int) =
      TextOps.deterministicSample(ids, "doc_id", pm).select("doc_id").as[Long].collect().toSet
    val s100 = sample(100); val s500 = sample(500)
    assert(s100.subsetOf(s500), "rate monotonicity broken")
    assert(math.abs(s100.size - 2000) < 300, s"100 permille kept ${s100.size}/20000")
    assert(math.abs(s500.size - 10000) < 700, s"500 permille kept ${s500.size}/20000")
    // decision is a pure function of the id: partitioning must not matter
    val repart = TextOps.deterministicSample(ids.repartition(13), "doc_id", 100)
      .select("doc_id").as[Long].collect().toSet
    assert(repart == s100)
  }

  test("weighted sampling: per-row rates, monotone re-weighting, 0/1000 edges") {
    val ids = spark.range(20000).select($"id".as("doc_id"),
      pmod($"id" * 7, lit(1000)).as("w"))
    def kept(wExpr: org.apache.spark.sql.Column) =
      TextOps.weightedSample(ids, "doc_id", wExpr).select("doc_id").as[Long].collect().toSet
    // equals the manual bucket filter
    val manual = ids.where(TextOps.sampleBucket($"doc_id") < $"w")
      .select("doc_id").as[Long].collect().toSet
    assert(kept($"w") == manual)
    // monotone: raising every weight never drops a survivor
    assert(kept($"w").subsetOf(kept(least($"w" + 200, lit(1000)))))
    // edges: 0 keeps nothing, 1000 keeps everything
    assert(kept(lit(0)).isEmpty && kept(lit(1000)).size == 20000)
    // a fixed weight reproduces the unweighted sampler exactly
    assert(kept(lit(250)) ==
      TextOps.deterministicSample(ids, "doc_id", 250).select("doc_id").as[Long].collect().toSet)
  }

  test("redactPii masks emails, IPs and phones; idempotent; plain text untouched") {
    val cases = Seq(
      ("write to jane.doe+spam@sub.example.org today",
       "write to <EMAIL> today"),
      ("server 192.168.1.254 and peer 10.0.0.1 up",
       "server <IP> and peer <IP> up"),
      ("call +1 555 123-4567 or +44 20 7946 0958 now",
       "call <PHONE> or <PHONE> now"),
      // \b protects letter-attached version strings; bare quads redact
      ("v2.0.1.3 stays but bare 2.0.1.3 redacts",
       "v2.0.1.3 stays but bare <IP> redacts"),
      ("nothing sensitive here 123 456", "nothing sensitive here 123 456"))
    val out = TextOps.redactPii(cases.map(_._1).toDF("text"), "text")
      .as[String].collect()
    cases.map(_._2).zip(out).foreach { case (want, got) => assert(got == want) }
    // idempotent: redacting redacted text changes nothing
    val twice = TextOps.redactPii(TextOps.redactPii(docs, "text"), "text")
      .select("text").as[String].collect()
    val once = TextOps.redactPii(docs, "text").select("text").as[String].collect()
    assert(twice.toSeq == once.toSeq)
  }

  test("stratifiedSample: per-group rates, absent groups dropped, bucket consistency") {
    val rows = spark.range(9000).select($"id".as("doc_id"),
      concat(lit("g"), pmod($"id", lit(3))).as("grp"))
    val out = TextOps.stratifiedSample(rows, "doc_id", "grp",
      Map("g0" -> 600, "g1" -> 100)) // g2 absent -> dropped
    val byGrp = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(!byGrp.contains("g2"))
    assert(math.abs(byGrp("g0") - 1800) < 200, byGrp.toString) // 3000 * 0.6
    assert(math.abs(byGrp("g1") - 300) < 120, byGrp.toString)  // 3000 * 0.1
    // same bucket function as the unstratified sampler: a group's stratified
    // sample == the global sample at that rate restricted to the group
    val g0 = out.where($"grp" === "g0").select("doc_id").as[Long].collect().toSet
    val global600 = TextOps.deterministicSample(rows.where($"grp" === "g0"), "doc_id", 600)
      .select("doc_id").as[Long].collect().toSet
    assert(g0 == global600)
  }

  test("packSequences: bins contiguous per group, budget arithmetic exact") {
    val rows = (0L until 200L).map(i => (i, s"g${i % 3}", (i % 37 + 1).toInt))
    val df = rows.toDF("id", "grp", "toks").repartition(7)
    val out = TextOps.packSequences(df, "toks", "id", "grp", budgetTokens = 50L)
      .select("id", "grp", "toks", "bin", "bin_offset")
      .as[(Long, String, Int, Long, Long)].collect()
    // Scala reference: running sum per group in id order
    val expected = rows.groupBy(_._2).flatMap { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._1).map { case (id, g, t) =>
        val off = cum; cum += t; (id, (off / 50L, off))
      }
    }.toMap
    out.foreach { case (id, _, _, bin, off) =>
      assert((bin, off) == expected(id), s"doc $id")
    }
    // bins are nondecreasing in document order within each group
    out.groupBy(_._2).foreach { case (_, g) =>
      val bins = g.sortBy(_._1).map(_._4)
      assert(bins.zip(bins.tail).forall { case (a, b) => a <= b })
    }
    // the sharded two-phase formulation is EXACTLY equal (shard size 30 cuts
    // every group into several shards, so the cross-shard offsets matter)
    val shardedOut = TextOps.packSequencesSharded(df, "toks", "id", "grp",
        budgetTokens = 50L, shardSize = 30L)
      .select("id", "bin", "bin_offset").as[(Long, Long, Long)].collect()
      .map { case (id, b, o) => id -> ((b, o)) }.toMap
    out.foreach { case (id, _, _, bin, off) =>
      assert(shardedOut(id) == ((bin, off)), s"sharded mismatch for doc $id")
    }
    // and the wide window is keyed by (group, shard), not the group alone
    val plan = TextOps.packSequencesSharded(df, "toks", "id", "grp", 50L, 30L)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(grp#\\d+, __shard".r.findFirstIn(plan).isDefined,
      plan.take(2500))
  }

  test("contaminationPairs: planted quotes found across tables, clean bench empty") {
    val corpus = docs.limit(60).select($"doc_id", $"text")
    val bench = corpus.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 900L).as("bid"),
        concat(lit("Q: "), substring($"text", 3, 30), lit(" ?")).as("btext"))
    val found = Dedup.contaminationPairs(corpus, "doc_id", "text", bench, "bid", "btext")
      .select("corpus_id", "bench_id").as[(Long, Long)].collect().toSet
    val planted = corpus.where($"doc_id" % 7 === 0).select("doc_id").as[Long].collect()
      .map(d => (d, d + 900L)).toSet
    assert(planted.subsetOf(found), s"missed: ${planted diff found}")
    // a benchmark with no corpus text in it flags nothing
    val clean = (0 until 20).map(i => (i.toLong, f"${TextKernels.mix64(i + 77)}%016x" * 4))
      .toDF("bid", "btext")
    assert(Dedup.contaminationPairs(corpus, "doc_id", "text", clean, "bid", "btext")
      .count() == 0)
    // the benchmark fingerprint side is broadcast — the corpus never shuffles
    val plan = Dedup.contaminationPairs(corpus, "doc_id", "text", bench, "bid", "btext")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("winnowing fingerprint overlap detects shared passages") {
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "completely different opening words but jumps over the lazy dog near the river bank today"
    val c = "nothing in common with either of those two sentences at all whatsoever"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
      .select($"id", winnow_fp($"text", lit(8), lit(4)).as("fp"))
    val rows = df.as[(Long, Array[Long])].collect().toMap
    def overlap(x: Array[Long], y: Array[Long]) = x.toSet.intersect(y.toSet).size
    assert(overlap(rows(1L), rows(2L)) > 0, "shared passage not detected")
    assert(overlap(rows(1L), rows(3L)) == 0 && overlap(rows(2L), rows(3L)) == 0)
  }

  test("audio: PCA1 codec roundtrip, energy/rms consistency, downsample") {
    import Multimodal._
    import graft.pipeline.AudioGen
    // kernel roundtrip
    val enc = AudioGen.encode(7L, 12000, 100)
    val (rate, samples) = AudioGen.decode(enc)
    assert(rate == 12000 && samples.length == 100)
    (0 until 100).foreach(i => assert(samples(i) == AudioGen.sample(7L, i).toByte))
    // expressions over the table
    val a = AudioGen.table(spark, 50)
    val out = a.select($"audio_id", $"rate", $"n_samples",
      audio_meta($"bytes").as("meta"),
      audio_energy($"bytes").as("energy"),
      audio_rms($"bytes").as("rms"),
      audio_meta(audio_downsample($"bytes", lit(4))).as("down"))
      .collect()
    out.foreach { r =>
      assert(r.getStruct(3).getInt(0) == r.getInt(1))   // meta.rate == rate
      assert(r.getStruct(3).getInt(1) == r.getInt(2))   // meta.n == n_samples
      val energy = r.getLong(4); val n = r.getInt(2)
      assert(math.abs(r.getDouble(5) - math.sqrt(energy.toDouble / n)) < 1e-9)
      assert(r.getStruct(6).getInt(0) == r.getInt(1) / 4)       // rate/k
      assert(r.getStruct(6).getInt(1) == (n + 3) / 4)           // ceil(n/k)
    }
    // energy matches the closed-form synthesis recomputation
    val expect = (0L until 50L).map { id =>
      (0 until 800).map { i => val s = AudioGen.sample(id, i).toLong; s * s }.sum
    }
    val got = a.orderBy("audio_id")
      .select($"audio_id", audio_energy($"bytes")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    (0L until 50L).foreach(id => assert(got(s"aud_$id") == expect(id.toInt)))
  }

  test("geoPhashPairs: hamming and distance gates, seam pairs, recall <= 3 bits") {
    import graft.pipeline.ImageGen
    val base = ImageGen.withLngLat(ImageGen.table(spark, 100))
      .withColumn("iid", expr("CAST(substring(image_id, 5) AS BIGINT)"))
      .select($"iid", $"phash", $"lng", $"lat")
      // keep clear of the seam so the crafted seam rows below are the only
      // cross-seam pairs, and clear of high lat for metric soundness
      .where(abs($"lng") < 170 && abs($"lat") < 80)
    // twin A: same phash, ~100 m away -> found
    val twinSame = base.select(($"iid" + 1000L).as("iid"), $"phash",
      ($"lng" + 0.001).as("lng"), $"lat")
    // twin B: phash off by 3 bits -> still found (pigeonhole recall)
    val twin3 = base.select(($"iid" + 2000L).as("iid"),
      $"phash".bitwiseXOR(lit(7L)).as("phash"), ($"lng" + 0.001).as("lng"), $"lat")
    // twin C: phash off by 5 bits -> excluded by the hamming gate
    val twin5 = base.select(($"iid" + 3000L).as("iid"),
      $"phash".bitwiseXOR(lit(31L)).as("phash"), ($"lng" + 0.001).as("lng"), $"lat")
    // twin D: same phash but ~50 km away -> excluded by the distance gate
    val twinFar = base.select(($"iid" + 4000L).as("iid"), $"phash",
      ($"lng" + 0.5).as("lng"), $"lat")
    val corpus = base.unionByName(twinSame).unionByName(twin3)
      .unionByName(twin5).unionByName(twinFar)
    val found = Dedup.geoPhashPairs(corpus, "iid", "phash", "lng", "lat")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = base.select("iid").as[Long].collect()
    ids.foreach { i =>
      assert(found.contains((i, i + 1000L)), s"same-phash twin of $i missed")
      assert(found.contains((i, i + 2000L)), s"3-bit twin of $i missed")
      assert(!found.contains((i, i + 3000L)), s"5-bit twin of $i wrongly kept")
      assert(!found.contains((i, i + 4000L)), s"far twin of $i wrongly kept")
    }
    // antimeridian: a pair straddling ±180 within ~25 m must be found
    val seam = Seq((1L, 42L, 179.9999, 10.0), (2L, 42L, -179.9999, 10.0),
      (3L, 99L, 0.0, 0.0)).toDF("iid", "phash", "lng", "lat")
    val seamFound = Dedup.geoPhashPairs(seam, "iid", "phash", "lng", "lat")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(seamFound == Set((1L, 2L)), seamFound.toString)
  }

  test("sampleFrames keeps every n-th frame per key") {
    val frames = (0L until 30L).map(i => (s"clip${i % 3}", i / 3)).toDF("clip", "frame")
    val out = Multimodal.sampleFrames(frames, "clip", "frame", every = 4)
      .select("clip", "frame").as[(String, Long)].collect()
    assert(out.forall(_._2 % 4 == 0))
    assert(out.length == 3 * 3) // frames 0,4,8 per clip
  }

  test("video: VID1 frames compose with the image expression surface") {
    import Multimodal._
    import graft.pipeline.VideoGen
    val v = VideoGen.table(spark, 40)
    val out = v.select($"video_id", $"w", $"h", $"n_frames",
      video_meta($"bytes").as("meta"),
      image_meta(video_frame($"bytes", lit(0))).as("f0meta"),
      image_gray_mean(video_frame($"bytes", lit(1))).as("gray1"),
      video_frame($"bytes", lit(99)).isNull.as("oob"),
      size(video_frames($"bytes", lit(2))).as("sampled"),
      video_motion($"bytes").as("motion"))
      .collect()
    out.foreach { r =>
      val (w, h, nf) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(r.getStruct(4).getInt(0) == w && r.getStruct(4).getInt(1) == h
        && r.getStruct(4).getInt(2) == nf)
      assert(r.getStruct(5).getInt(0) == w && r.getStruct(5).getInt(1) == h)
      assert(r.getDouble(6) > 0 && r.getDouble(6) < 255) // gray mean of frame 1
      assert(r.getBoolean(7), "out-of-range frame must be null (Optional)")
      assert(r.getInt(8) == (nf + 1) / 2) // every-2nd frame sample
      assert(r.getDouble(9) > 10.0, "random frames must show motion")
    }
    // frame extraction is byte-exact against the kernel synthesis
    val row = v.where($"video_id" === "vid_3")
      .select(video_frame($"bytes", lit(2))).collect()(0)
    val (w3, h3, _) = VideoGen.dims(3L)
    val expect = VideoGen.frameAsImage(w3, h3, VideoGen.framePixels(3L, 2, w3, h3))
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]](0), expect))
  }

  test("multimodal: meta/psnr/gray/resize over the binary image column") {
    import Multimodal._
    val imgs = graft.pipeline.ImageGen.table(spark, 300)
    val out = imgs.select($"image_id", $"w", $"h", $"fmt",
      image_meta($"bytes").as("meta"),
      image_psnr($"bytes", $"bytes").as("self_psnr"),
      image_gray_mean($"bytes").as("gray"),
      image_meta(image_resize($"bytes", lit(4), lit(4))).as("small"))
      .collect()
    out.foreach { r =>
      assert(r.getStruct(4).getInt(0) == r.getInt(1)) // meta.w == w
      assert(r.getStruct(4).getInt(1) == r.getInt(2))
      assert(r.getStruct(4).getBoolean(2) == (r.getString(3) == "grb1q"))
      assert(r.getDouble(5) == 99.0) // self PSNR clamped at 99
      assert(r.getDouble(6) > 0 && r.getDouble(6) < 255)
      assert(r.getStruct(7).getInt(0) == 4 && r.getStruct(7).getInt(1) == 4)
    }
    // lossy vs lossless re-encode of the same id: psnr >= 40
    val psnrs = imgs.where($"fmt" === "grb1q").limit(50)
      .select(image_psnr($"bytes", $"bytes").as("p")).as[Double].collect()
    assert(psnrs.forall(_ >= 40.0))
  }

  test("image_crop: identity, tiling additivity, clamping, codegen") {
    import Multimodal._
    val imgs = graft.pipeline.ImageGen.table(spark, 60).localCheckpoint()
    // full-window crop reproduces the payload byte-for-byte
    assert(imgs.where(image_crop($"bytes", lit(0), lit(0), $"w", $"h") =!= $"bytes")
      .count() == 0)
    // a 2x2 tiling of crops partitions the pixels: gray sums add up exactly
    // (Spark / on ints is DOUBLE division — crop args must be int halves)
    val w2 = ($"w" / 2).cast("int"); val h2 = ($"h" / 2).cast("int")
    val wr = $"w" - w2;              val hr = $"h" - h2
    val halves = imgs.select($"image_id", $"w", $"h",
      (image_gray_mean($"bytes") * $"w" * $"h").as("full"),
      (coalesce(image_gray_mean(image_crop($"bytes", lit(0), lit(0), w2, h2)) * w2 * h2, lit(0.0)) +
       coalesce(image_gray_mean(image_crop($"bytes", w2, lit(0), wr, h2)) * wr * h2, lit(0.0)) +
       coalesce(image_gray_mean(image_crop($"bytes", lit(0), h2, w2, hr)) * w2 * hr, lit(0.0)) +
       coalesce(image_gray_mean(image_crop($"bytes", w2, h2, wr, hr)) * wr * hr, lit(0.0))).as("tiled"))
    assert(halves.where(abs($"full" - $"tiled") > 1e-6).count() == 0)
    // clamping: an over-large window equals the full image; empty -> null
    assert(imgs.where(image_crop($"bytes", lit(-5), lit(-5), $"w" + lit(99), $"h" + lit(99)) =!= $"bytes")
      .count() == 0)
    assert(imgs.where(image_crop($"bytes", $"w", $"h", lit(3), lit(3)).isNotNull).count() == 0)
    assert(imgs.where(image_crop($"bytes", lit(0), lit(0), lit(0), lit(3)).isNotNull).count() == 0)
    // bigint args implicitly cast (ImplicitCastInputTypes) instead of a
    // runtime ClassCastException — same leniency as every sibling kernel
    assert(imgs.selectExpr("image_crop(bytes, 0L, 0L, 8L, 8L) AS c")
      .where($"c".isNull).count() == 0)
    // meta of a crop reflects the window dims
    val m = imgs.select(image_meta(image_crop($"bytes", lit(1), lit(2), lit(4), lit(3))).as("m"))
      .select($"m.w", $"m.h").distinct().collect()
    assert(m.length == 1 && m(0).getInt(0) == 4 && m(0).getInt(1) == 3)
    // whole-stage pin, same as the other image kernels
    val line = imgs.select(image_crop($"bytes", lit(1), lit(1), lit(4), lit(4)).as("c"))
      .queryExecution.executedPlan.toString.linesIterator
      .find(_.toLowerCase.contains("imagecrop")).getOrElse("")
    assert(line.contains("*("), s"imagecrop fell out of whole-stage codegen: $line")
  }

  test("image_ahash + image_histogram: closed forms, additivity, codegen") {
    import Multimodal._
    import graft.pipeline.VideoGen
    // hand-built lossless GRB1 rasters with closed-form answers
    val w = 16; val h = 8
    val flat = Array.fill(w * h * 3)(77.toByte)
    val split = Array.tabulate(w * h * 3) { i =>
      if ((i / 3) % w < w / 2) 0.toByte else 255.toByte
    }
    val hand = Seq(("flat", VideoGen.frameAsImage(w, h, flat)),
      ("split", VideoGen.frameAsImage(w, h, split))).toDF("name", "bytes")
    val r = hand.select($"name", image_ahash($"bytes").as("ah"),
        image_histogram($"bytes", lit(8)).as("hist")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getSeq[Long](2)))).toMap
    // constant image: no block is STRICTLY above the global mean -> hash 0
    assert(r("flat")._1 == 0L)
    // left-black/right-white, w=16: block columns 4..7 bright -> 0xF0 per row
    assert(r("split")._1 == 0xF0F0F0F0F0F0F0F0L)
    // flat luma 77000 -> bin 77000*8/255001 = 2; split: bins 0 and 7
    assert(r("flat")._2 == Seq(0L, 0L, 128L, 0L, 0L, 0L, 0L, 0L))
    assert(r("split")._2 == Seq(64L, 0L, 0L, 0L, 0L, 0L, 0L, 64L))
    // corpus invariants: counts partition the pixels; a left/right crop
    // tiling's histograms add element-wise to the full histogram
    val imgs = graft.pipeline.ImageGen.table(spark, 60).localCheckpoint()
    assert(imgs.where(aggregate(image_histogram($"bytes", lit(8)), lit(0L),
      (acc, x) => acc + x) =!= $"w".cast("long") * $"h").count() == 0)
    val w2 = ($"w" / 2).cast("int"); val wr = $"w" - w2
    val tiled = imgs.select(image_histogram($"bytes", lit(8)).as("full"),
      zip_with(
        image_histogram(image_crop($"bytes", lit(0), lit(0), w2, $"h"), lit(8)),
        image_histogram(image_crop($"bytes", w2, lit(0), wr, $"h"), lit(8)),
        (a, b) => a + b).as("tiled"))
    assert(tiled.where($"full" =!= $"tiled").count() == 0)
    // whole-stage pins, same as the other image kernels
    for (kernel <- Seq("imageahash", "imagehistogram")) {
      val line = imgs.select(image_ahash($"bytes").as("a"),
          image_histogram($"bytes", lit(8)).as("hst"))
        .queryExecution.executedPlan.toString.linesIterator
        .find(_.toLowerCase.contains(kernel)).getOrElse("")
      assert(line.contains("*("), s"$kernel fell out of whole-stage codegen: $line")
    }
  }

  test("multimodal kernels are real codegen: triple projection whole-stage, one decode per row") {
    import Multimodal._
    // the r2 from_geojson CSE test ported to the decode kernels: a
    // projection computing meta + gray_mean + psnr over ONE payload column
    // must (a) stay inside WholeStageCodegen — one CodegenFallback ejects
    // the whole Project and kills sibling subexpression elimination — and
    // (b) decode each row ONCE via the content-keyed per-thread cache, not
    // once per kernel
    val n = 200
    val imgs = graft.pipeline.ImageGen.table(spark, n).localCheckpoint()
    // resize to 4x4 so the psnr right side is genuinely DIFFERENT content
    // (a same-dims resize reproduces the payload byte-for-byte and even its
    // decode hits the content-keyed cache — measured while writing this)
    val proj = imgs.select(
      image_meta($"bytes").getField("w").as("mw"),
      image_gray_mean($"bytes").as("gray"),
      image_psnr($"bytes", image_resize($"bytes", lit(4), lit(4))).as("p"))
    for (kernel <- Seq("imagemeta", "imagegraymean", "imagepsnr", "imageresize")) {
      val line = proj.queryExecution.executedPlan.toString.linesIterator
        .find(_.toLowerCase.contains(kernel)).getOrElse("")
      assert(line.contains("*("),
        s"$kernel Project fell out of whole-stage codegen: $line")
    }
    val before = graft.pipeline.ImageGen.decodeCache.misses.get()
    proj.write.format("noop").mode("overwrite").save()
    val decodes = graft.pipeline.ImageGen.decodeCache.misses.get() - before
    // meta + gray + psnr-left all decode the SAME bytes (cache hits after
    // the first); psnr-right decodes the per-row resized payload — so 2
    // decodes per row, not 5. Small slack for task-thread cache cold starts.
    assert(decodes <= 2L * n + 16,
      s"expected ~${2 * n} decodes (2/row via the shared cache), got $decodes")
    assert(decodes >= 2L * n, s"decode count $decodes below the 2/row floor")

    // audio + video kernels: same whole-stage pin
    val aud = graft.pipeline.AudioGen.table(spark, 8)
      .select(audio_meta($"bytes").getField("rate").as("r"),
        audio_energy($"bytes").as("e"), audio_rms($"bytes").as("rms"))
    for (kernel <- Seq("audiometa", "audioenergy", "audiorms")) {
      val line = aud.queryExecution.executedPlan.toString.linesIterator
        .find(_.toLowerCase.contains(kernel)).getOrElse("")
      assert(line.contains("*("), s"$kernel fell out of whole-stage codegen: $line")
    }
    val vid = graft.pipeline.VideoGen.table(spark, 8)
      .select(video_meta($"bytes").getField("n_frames").as("nf"),
        video_motion($"bytes").as("m"), video_frame($"bytes", lit(0)).as("f0"))
    for (kernel <- Seq("videometa", "videomotion", "videoframe")) {
      val line = vid.queryExecution.executedPlan.toString.linesIterator
        .find(_.toLowerCase.contains(kernel)).getOrElse("")
      assert(line.contains("*("), s"$kernel fell out of whole-stage codegen: $line")
    }
    // null semantics survive the promotion: out-of-range frame is null
    val oob = graft.pipeline.VideoGen.table(spark, 4)
      .select(video_frame($"bytes", lit(9999)).as("f"))
    assert(oob.where($"f".isNotNull).count() == 0)
  }

  test("dup_ngram_stats: kernel equals the declarative mode computation; edges; codegen pin") {
    TextFunctions.register(spark)
    // kernel (hashmap pass) vs a declarative Spark computation of the same
    // stats (split -> grams -> distinct / per-distinct multiplicity count):
    // identical on normal text, whitespace runs, tabs/newlines, and the
    // empty/short edges
    val texts = Seq(
      "a b a b a",                 // top 2-gram "a b" x2, dup words
      "x",                         // 1 word: no 2-grams
      "",                          // empty: all zeros
      "   ",                       // whitespace-only: all zeros
      "a\t b\n\nc  a",             // mixed whitespace runs collapse
      "w w w w w w",               // degenerate: one word repeated
      "p q r s t u v")             // all distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
      .localCheckpoint()
    for (n <- Seq(1, 2, 3)) {
      val ws = filter(split(trim($"t"), "\\s+"), x => length(x) > 0)
      val grams =
        if (n == 1) ws
        // guard: Spark's sequence(1, 0) counts DOWN — short docs need an
        // explicit empty branch
        else when(size(ws) >= n,
          transform(sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*)))
          .otherwise(array().cast("array<string>"))
      val decl = df.select($"id",
        size(grams).as("n_grams"),
        size(array_distinct(grams)).as("n_distinct"),
        coalesce(array_max(transform(array_distinct(grams),
          d => size(filter(grams, x => x === d)))), lit(0)).as("top_count"))
      val kern = df.select($"id",
        dup_ngram_stats($"t", lit(n)).as("s"))
        .select($"id", $"s.n_grams", $"s.n_distinct", $"s.top_count")
      assert(kern.exceptAll(decl).isEmpty && decl.exceptAll(kern).isEmpty,
        s"n=$n kernel != declarative: kernel=${kern.collect().toSeq} decl=${decl.collect().toSeq}")
    }
    // line-stats kernel vs the declarative array-lambda computation (the
    // lambdas live ONLY here in the test — in the operator they'd eject the
    // projection from codegen)
    val lines  = filter(split($"t", "\n"), l => length(trim(l)) > 0)
    val dlines = array_distinct(lines)
    def chars(a: org.apache.spark.sql.Column) =
      aggregate(a, lit(0), (acc, x) => acc + length(x))
    val ldecl = df.select($"id", size(lines).as("n_lines"),
      (size(lines) - size(dlines)).as("n_dup_lines"),
      (chars(lines) - chars(dlines)).as("dup_line_chars"))
    val lkern = df.select($"id", dup_line_stats($"t").as("s"))
      .select($"id", $"s.n_lines", $"s.n_dup_lines", $"s.dup_line_chars")
    assert(lkern.exceptAll(ldecl).isEmpty && ldecl.exceptAll(lkern).isEmpty,
      s"line kernel != declarative: ${lkern.collect().toSeq} vs ${ldecl.collect().toSeq}")
    // codegen pin: the withRepetition projection (4 kernel calls, shared
    // subtrees) stays inside whole-stage codegen
    val proj = TextOps.withRepetition(df, "t")
    for (kernel <- Seq("dupngramstats", "duplinestats")) {
      val line = proj.queryExecution.executedPlan.toString.linesIterator
        .find(_.toLowerCase.contains(kernel)).getOrElse("")
      assert(line.contains("*("),
        s"$kernel Project fell out of whole-stage codegen: $line")
    }
  }

  test("filterRepetitive: boilerplate-heavy docs drop, diverse docs survive, lines count") {
    val diverse = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => f"tok${graft.ops.TextKernels.mix64(i * 100 + j)}%016x").mkString(" ")))
    val repetitive = (100 until 110).map(i =>
      (i.toLong, Seq.fill(15)("buy now click here").mkString(" ")))
    val df = (diverse ++ repetitive).toDF("doc_id", "text")
    val kept = TextOps.filterRepetitive(df, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == diverse.map(_._1).toSet,
      s"expected only the 40 diverse docs to survive, got ${kept.size}")
    // repetition columns are droppable extras: the filter output schema is
    // the input schema
    assert(TextOps.filterRepetitive(df, "text").schema.fieldNames.toSeq ==
      df.schema.fieldNames.toSeq)
    // line stats: duplicate lines count occurrences after the first, and
    // blank lines never count
    val ml = Seq((1L, "aa bb\ncc\n\naa bb\n  \naa bb")).toDF("doc_id", "text")
    val r = TextOps.withRepetition(ml, "text")
      .select("rep_lines", "rep_dup_lines", "rep_dup_line_chars")
      .as[(Int, Int, Int)].head()
    assert(r == ((4, 2, 10)), s"line stats $r") // 3x"aa bb" + "cc"; 2 dups x 5 chars
  }
}
