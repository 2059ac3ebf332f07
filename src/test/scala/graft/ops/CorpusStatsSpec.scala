package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CorpusStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "The cat  sat"),          // case + run of spaces normalize away
    (3L, "on the mat on the mat"), // repeated bigrams inside one doc
    (4L, ""),                      // empty doc: zero grams
    (5L, "word")                   // single token: zero bigrams
  ).toDF("doc_id", "text")

  test("wordNgrams: tokenization, case, short and empty docs") {
    val uni = docs.select($"doc_id", CorpusStats.wordNgrams($"text", 1).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(uni(1L) == Seq("the", "cat", "sat", "on", "the", "mat"))
    assert(uni(2L) == Seq("the", "cat", "sat"))
    assert(uni(4L) == Seq.empty)
    val bi = docs.select($"doc_id", CorpusStats.wordNgrams($"text", 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(bi(1L) == Seq("the cat", "cat sat", "sat on", "on the", "the mat"))
    assert(bi(3L) == Seq("on the", "the mat", "mat on", "on the", "the mat"))
    assert(bi(4L) == Seq.empty && bi(5L) == Seq.empty)
  }

  test("word_ngrams kernel == lambda-chain n-grams (real corpus + edges)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").unionByName(docs.select($"text"))
    for (n <- Seq(1, 2, 3)) {
      val diff = real.select(
          TextFunctions.word_ngrams($"text", lit(n)).as("k"),
          CorpusStats.wordNgrams($"text", n).as("l"))
        .where(not($"k" <=> $"l"))
      assert(diff.count() == 0, s"n=$n kernel/lambda divergence")
    }
    // codegen pin: the kernel projection stays whole-stage
    val line = real.select(TextFunctions.word_ngrams($"text", lit(2)).as("g"))
      .queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("TextKernels.wordNgramArray(")).getOrElse("")
    assert(line.contains("*("), s"word_ngrams fell out of whole-stage codegen: $line")
  }

  test("ngramStats: totals and document frequency") {
    val st = CorpusStats.ngramStats(docs, "doc_id", "text", 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(st("on the") == ((3L, 2L)))  // doc1 x1, doc3 x2 -> total 3, df 2
    assert(st("the mat") == ((3L, 2L)))
    assert(st("the cat") == ((2L, 2L)))
    assert(st("cat sat") == ((2L, 2L)))
    assert(st("sat on") == ((1L, 1L)))
    assert(st("mat on") == ((1L, 1L)))
    assert(st.size == 6)
  }

  test("topNgrams: deterministic order, tie-break by gram, minCount prune") {
    val top = CorpusStats.topNgrams(docs, "doc_id", "text", 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // totals 3,3,2,2,1,1 -> ties break ascending by gram text
    assert(top.toSeq == Seq(("on the", 3L), ("the mat", 3L), ("cat sat", 2L)))
    val pruned = CorpusStats.topNgrams(docs, "doc_id", "text", 2, k = 10, minCount = 2L)
    assert(pruned.count() == 4)
  }

  test("bowRows: tf against the vocabulary, broadcast join before the agg") {
    val vocab = CorpusStats.vocabulary(docs, "doc_id", "text", 2, k = 3)
    val ids = vocab.collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(ids == Map("on the" -> 1, "the mat" -> 2, "cat sat" -> 3))
    val bow = CorpusStats.bowRows(docs, "doc_id", "text", vocab, 2)
    val rows = bow.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // doc1: on the x1, the mat x1, cat sat x1; doc2: cat sat x1; doc3: on the x2, the mat x2
    assert(rows == Map((1L,1)->1L, (1L,2)->1L, (1L,3)->1L, (2L,3)->1L, (3L,1)->2L, (3L,2)->2L))
    // plan pin against a PERSISTED-style vocab (the 100 TB pattern: vocab
    // computed once and reread), so the pin sees only bowRows' own shuffle
    val litVocab = Seq(("on the", 1), ("the mat", 2), ("cat sat", 3)).toDF("gram", "vocab_id")
    val plan = CorpusStats.bowRows(docs, "doc_id", "text", litVocab, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle (post-join count only), plan:\n$plan")
  }

  test("incremental shards: 3-shard accumulation == one-shot stats, idempotent rewrite") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("corpus_shards").toString + "/ng"
    for (s <- 0 to 2)
      CorpusStats.appendNgramShard(real.where(pmod($"doc_id", lit(3)) === s),
        "doc_id", "text", 2, dir, s"s$s")
    // re-running a shard must not double-count
    CorpusStats.appendNgramShard(real.where(pmod($"doc_id", lit(3)) === 1),
      "doc_id", "text", 2, dir, "s1")
    val merged = CorpusStats.ngramStatsFrom(spark, dir)
    val oneShot = CorpusStats.ngramStats(real, "doc_id", "text", 2)
    assert(merged.unionByName(oneShot).distinct().count() == oneShot.count(),
      "merged shard stats differ from one-shot stats")
    val topA = CorpusStats.topNgramsFrom(spark, dir, 50).collect().toSeq
    val topB = CorpusStats.topNgrams(real, "doc_id", "text", 2, 50).collect().toSeq
    assert(topA == topB)
  }

  test("corpusProfile: histogram percentiles differentially equal percentile_disc") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prof = CorpusStats.corpusProfile(real, "doc_id", "text").collect()(0)
    val nt = TextOps.tokenCountWs(col("text")).cast("long")
    val builtin = real.select(nt.as("v")).agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY v)")).collect()(0)
    for ((name, i) <- Seq("tok_p10", "tok_p50", "tok_p90", "tok_p99").zipWithIndex)
      assert(prof.getLong(prof.fieldIndex(name)) == builtin.getDouble(i).toLong,
        s"$name: ${prof.getLong(prof.fieldIndex(name))} vs builtin ${builtin.getDouble(i)}")
    assert(prof.getLong(prof.fieldIndex("n_docs")) == real.count())
  }

  test("corpusProfile: tiny corpora boundary semantics (n=4, n=5)") {
    for (n <- Seq(4, 5)) {
      // doc i has exactly i+1 tokens -> token counts 1..n
      val df = (1 to n).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "))).toDF("doc_id", "text")
      val prof = CorpusStats.corpusProfile(df, "doc_id", "text").collect()(0)
      val expected = if (n == 4) Seq(1L, 2L, 4L, 4L) else Seq(1L, 3L, 5L, 5L)
      val got = Seq("tok_p10", "tok_p50", "tok_p90", "tok_p99")
        .map(c => prof.getLong(prof.fieldIndex(c)))
      assert(got == expected, s"n=$n: $got")
    }
  }

  test("topNgrams plan: TakeOrdered, no global sort, two exchanges") {
    val plan = CorpusStats.topNgrams(docs, "doc_id", "text", 2, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("\nSort "), plan) // no standalone global sort
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 shuffles, plan:\n$plan")
  }

  test("tfidfSearch: closed-form integer scores, total-order ties, top-k plan") {
    // N=4; df(alpha)=2, df(beta)=2 -> idf 2000 each; doc 4 never hits
    val docs = Seq(
      (1L, "alpha alpha beta"),
      (2L, "alpha gamma gamma"),
      (3L, "beta beta beta"),
      (4L, "delta delta delta")).toDF("doc_id", "text")
    val out = CorpusStats.tfidfSearch(docs, "doc_id", "text", "Alpha  beta", 10)
      .as[(Long, Long)].collect().toSeq
    // docs 1 and 3 tie at 6000 -> doc_id ascending breaks it
    assert(out == Seq((1L, 6000L), (3L, 6000L), (2L, 2000L)), out.toString)
    // k truncation at the engine-exact boundary
    assert(CorpusStats.tfidfSearch(docs, "doc_id", "text", "alpha beta", 2)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 6000L), (3L, 6000L)))
    // plan: TakeOrdered top-k, broadcast idf, no standalone global sort
    val plan = CorpusStats.tfidfSearch(docs, "doc_id", "text", "alpha beta", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("\nSort "), plan.take(2000))
  }
}
