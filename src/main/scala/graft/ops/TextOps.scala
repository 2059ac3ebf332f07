package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Text-analysis + corpus-assembly operators: token counting, quality
  * scoring, language ID, fingerprinting (all narrow maps), plus
  * deterministic sampling (narrow filter) and sequence-packing plans (one
  * window shuffle; [[packSequencesSharded]] for few-group corpora) —
  * codegen-friendly built-ins where possible, custom expressions for the
  * stateful kernels.
  */
object TextOps {

  /** Whitespace token count, identical in Spark and ANSI SQL:
    * (len(text) - len(replace(text,' ',''))) + 1 for single-spaced text. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Quality metrics à la large-corpus filtering pipelines: length, token
    * stats, punctuation/digit/upper ratios, stopword ratio, plus a [0,1]
    * composite. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars  = length(t)
    val nTokens = tokenCountWs(t)
    val punct   = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val digits  = nChars - length(regexp_replace(t, "[0-9]", ""))
    val uppers  = nChars - length(regexp_replace(t, "[A-Z]", ""))
    val stop    = size(filter(split(lower(t), "\\s+"),
      w => w.isin("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")))
    df.withColumn("q_chars", nChars)
      .withColumn("q_tokens", nTokens)
      .withColumn("q_mean_token_len",
        when(nTokens > 0, (nChars.cast("double") - (nTokens - 1)) / nTokens).otherwise(0.0))
      .withColumn("q_punct_ratio", when(nChars > 0, punct / nChars.cast("double")).otherwise(0.0))
      .withColumn("q_digit_ratio", when(nChars > 0, digits / nChars.cast("double")).otherwise(0.0))
      .withColumn("q_upper_ratio", when(nChars > 0, uppers / nChars.cast("double")).otherwise(0.0))
      .withColumn("q_stopword_ratio",
        when(nTokens > 0, col("q_tokens").cast("double") * 0 + stop / nTokens.cast("double")).otherwise(0.0))
      .withColumn("q_score",
        greatest(lit(0.0), least(lit(1.0),
          lit(1.0)
            - when(col("q_tokens") < 5, 0.5).otherwise(0.0)
            - when(col("q_punct_ratio") > 0.3, 0.3).otherwise(0.0)
            - when(col("q_digit_ratio") > 0.3, 0.2).otherwise(0.0)
            - when(col("q_mean_token_len") > 15, 0.3).otherwise(0.0))))
  }

  /** Heuristic language ID (script detection + stopword voting). */
  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", lang_id(col(textCol)))

  /** Whitespace token count only — pure built-ins, never touches the BPE
    * kernel. Callers that only need `n_tokens_ws` use this variant so they
    * never depend on column pruning to skip the ~10 µs/row custom kernel
    * (a cached intermediate or any other non-prunable context would
    * otherwise pay it for nothing). */
  def withTokenCountWs(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens_ws", tokenCountWs(col(textCol)))

  /** Whitespace + BPE-ish token counts (the full variant). */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    withTokenCountWs(df, textCol)
      .withColumn("n_tokens_bpe", token_count_bpe(col(textCol)))

  /** Intra-document REPETITION signals — the Gopher-style quality filters
    * (duplicate-line and duplicate/most-frequent word-n-gram measures) a
    * web-corpus pipeline applies before any cross-document dedup. All
    * outputs are INTEGER numerators/denominators (callers derive fractions;
    * the cross-engine oracle stays float-free):
    *   - `rep_lines` / `rep_dup_lines` / `rep_dup_line_chars`: non-blank
    *     lines, lines minus distinct lines, and the characters those
    *     repeat occurrences carry ([[TextFunctions.dup_line_stats]] — a
    *     kernel rather than array lambdas because higher-order functions
    *     are CodegenFallback and one of them ejects the WHOLE projection
    *     from whole-stage codegen, disabling sibling subexpression
    *     elimination)
    *   - `rep_words`, `rep_dup_{words,2grams,3grams}`,
    *     `rep_top_{word,2gram,3gram}`: whitespace word n-gram counts,
    *     duplicate multiplicity mass, and the most-frequent gram's
    *     multiplicity via the codegen [[TextFunctions.dup_ngram_stats]]
    *     kernel — one O(tokens) hashmap pass per (row, n), not the
    *     O(tokens x distinct) of a pure-SQL mode computation
    * Everything is a narrow map; identical n-gram calls are shared by
    * whole-stage-codegen subexpression elimination (plan-pinned). We report
    * multiplicities, not Gopher's character-coverage fractions — the same
    * signal, deterministic and integer-exact across engines. */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val sl = dup_line_stats(col(textCol))
    val s1 = dup_ngram_stats(col(textCol), lit(1))
    val s2 = dup_ngram_stats(col(textCol), lit(2))
    val s3 = dup_ngram_stats(col(textCol), lit(3))
    df.withColumn("rep_lines", sl.getField("n_lines"))
      .withColumn("rep_dup_lines", sl.getField("n_dup_lines"))
      .withColumn("rep_dup_line_chars", sl.getField("dup_line_chars"))
      .withColumn("rep_words", s1.getField("n_grams"))
      .withColumn("rep_dup_words", s1.getField("n_grams") - s1.getField("n_distinct"))
      .withColumn("rep_top_word", s1.getField("top_count"))
      .withColumn("rep_dup_2grams", s2.getField("n_grams") - s2.getField("n_distinct"))
      .withColumn("rep_top_2gram", s2.getField("top_count"))
      .withColumn("rep_dup_3grams", s3.getField("n_grams") - s3.getField("n_distinct"))
      .withColumn("rep_top_3gram", s3.getField("top_count"))
  }

  /** Drop documents whose repetition fractions exceed the (Gopher-shaped)
    * thresholds: duplicate-line fraction, duplicate-2/3-gram fraction, and
    * top-2-gram multiplicity fraction. Pure narrow filter over
    * [[withRepetition]]'s integer columns — fractions materialize only in
    * the predicate. */
  def filterRepetitive(df: DataFrame, textCol: String,
      maxDupLineFrac: Double = 0.30,
      maxDup2gramFrac: Double = 0.40,
      maxDup3gramFrac: Double = 0.30,
      maxTop2gramFrac: Double = 0.20): DataFrame = {
    val r = withRepetition(df, textCol)
    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0)
    r.where(
        frac(col("rep_dup_lines"), col("rep_lines")) <= maxDupLineFrac &&
        frac(col("rep_dup_2grams"), greatest(col("rep_words") - 1, lit(0))) <= maxDup2gramFrac &&
        frac(col("rep_dup_3grams"), greatest(col("rep_words") - 2, lit(0))) <= maxDup3gramFrac &&
        frac(col("rep_top_2gram"), greatest(col("rep_words") - 1, lit(0))) <= maxTop2gramFrac)
      .drop("rep_lines", "rep_dup_lines", "rep_dup_line_chars", "rep_words",
        "rep_dup_words", "rep_top_word", "rep_dup_2grams", "rep_top_2gram",
        "rep_dup_3grams", "rep_top_3gram")
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting). */
  def withFingerprint(df: DataFrame, textCol: String, k: Int = 8, w: Int = 4): DataFrame =
    df.withColumn("fingerprint", winnow_fp(col(textCol), lit(k), lit(w)))

  /** Deterministic corpus sampling — the data-mixing primitive: keep a row
    * iff its id hashes under the rate. Multiplicative (Knuth) hashing over
    * the id keeps the decision a pure narrow filter that (a) is reproducible
    * across runs/engines (exact integer arithmetic, no RNG state), (b)
    * composes monotonically — the 1% sample is a subset of the 10% sample —
    * so mixture weights can be retuned without rescanning, and (c) is
    * independent of partitioning, unlike `df.sample`.
    *
    * `perMille` is the keep rate in 1/1000ths (integer, so oracle engines
    * reproduce the threshold exactly).
    */
  def deterministicSample(df: DataFrame, idCol: String, perMille: Int): DataFrame =
    df.where(sampleBucket(col(idCol)) < perMille)

  /** Buffer/output wrapper so the bounded top-k aggregator's long array
    * rides Spark's product encoder. */
  final case class LongBuf(v: Array[Long])

  /** Bounded top-k by (hash, id): the buffer holds at most k interleaved
    * (hash, id) pairs sorted ascending, so partial aggregation caps what
    * crosses the exchange at k pairs per (group, partition). */
  final class TopKByHash(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), LongBuf, LongBuf] {
    private def less(h1: Long, i1: Long, h2: Long, i2: Long): Boolean =
      h1 < h2 || (h1 == h2 && i1 < i2)
    override def zero: LongBuf = LongBuf(Array.emptyLongArray)
    override def reduce(buf: LongBuf, in: (Long, Long)): LongBuf = {
      val b = buf.v
      val (h, id) = in
      val n = b.length / 2
      if (n == k && !less(h, id, b(2 * (k - 1)), b(2 * (k - 1) + 1))) return buf
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (less(b(2 * mid), b(2 * mid + 1), h, id)) lo = mid + 1 else hi = mid
      }
      // duplicate (group, id) input rows must not occupy two slots: the
      // sample is over DISTINCT ids (k slots = k distinct ids)
      if (lo < n && b(2 * lo) == h && b(2 * lo + 1) == id) return buf
      val outN = math.min(n + 1, k)
      val out = new Array[Long](outN * 2)
      System.arraycopy(b, 0, out, 0, lo * 2)
      out(2 * lo) = h; out(2 * lo + 1) = id
      System.arraycopy(b, lo * 2, out, (lo + 1) * 2, math.min(n - lo, outN - lo - 1) * 2)
      LongBuf(out)
    }
    override def merge(x: LongBuf, y: LongBuf): LongBuf = {
      val a = x.v; val c = y.v
      val n1 = a.length / 2; val n2 = c.length / 2
      val cap = math.min(n1 + n2, k)
      val out = new Array[Long](cap * 2)
      var i = 0; var j = 0; var o = 0
      while (o < cap && (i < n1 || j < n2)) {
        val takeA = j >= n2 || (i < n1 && less(a(2 * i), a(2 * i + 1), c(2 * j), c(2 * j + 1)))
        if (takeA) { out(2 * o) = a(2 * i); out(2 * o + 1) = a(2 * i + 1); i += 1 }
        else {
          out(2 * o) = c(2 * j); out(2 * o + 1) = c(2 * j + 1)
          // equal pairs (same id seen by both partials) collapse to one slot
          if (i < n1 && a(2 * i) == c(2 * j) && a(2 * i + 1) == c(2 * j + 1)) i += 1
          j += 1
        }
        o += 1
      }
      if (o < cap) return LongBuf(java.util.Arrays.copyOf(out, o * 2))
      LongBuf(out)
    }
    override def finish(b: LongBuf): LongBuf =
      LongBuf(Array.tabulate(b.v.length / 2)(i => b.v(2 * i + 1)))
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[LongBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.product[LongBuf]
  }

  /** Exact FIXED-SIZE deterministic sample per group: the k rows with the
    * smallest (mix64(id), id) rank in each group — a pure function of the
    * ids, reproducible across engines, runs, and partitionings (the
    * fixed-count companion of the per-mille [[deterministicSample]]).
    * Scale-safe where a row_number window is NOT: a window over a
    * few-group key (5 languages) serializes the corpus into that many
    * tasks, while the bounded [[TopKByHash]] aggregator partial-aggregates
    * map-side, so only ≤ k (hash, id) pairs per (group, partition) reach
    * the one group-keyed exchange. Returns (groupCol, idCol), exactly
    * min(k, |distinct ids in group|) rows per group — duplicate (group, id)
    * input rows collapse (the aggregator dedupes equal pairs in both
    * reduce and merge), so a dup-carrying input cannot shrink the sample's
    * distinct-id count. */
  def fixedKSample(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val agg = udaf(new TopKByHash(k))
    df.select(col(groupCol), mix64_col(col(idCol)).as("__h"), col(idCol).cast("long").as("__id"))
      .groupBy(groupCol)
      .agg(agg(col("__h"), col("__id")).as("__ids"))
      .select(col(groupCol), explode(col("__ids.v")).as(idCol))
  }

  /** Quality-WEIGHTED deterministic sampling — the data-mixing knob of a
    * training pipeline: each row carries its own keep rate (integer
    * per-mille, e.g. from quality scores or language priors) and survives
    * iff its [[sampleBucket]] falls under it. Same Knuth bucket as
    * [[deterministicSample]], so the kept set is MONOTONE in the weight (a
    * doc kept at w stays kept at every w' ≥ w — re-weighting a mixture
    * never resamples the survivors) and reproducible across engines as
    * exact integer arithmetic. A narrow filter; weights ≤ 0 drop the row,
    * ≥ 1000 always keep it. */
  def weightedSample(df: DataFrame, idCol: String, weightPerMille: Column): DataFrame =
    df.where(sampleBucket(col(idCol)) < weightPerMille)

  /** The sampling bucket in [0, 1000): Knuth multiplicative hash — id *
    * 2654435761 (the golden-ratio multiplier) mod 2^32, scaled to 1/1000ths.
    * Defined for ANY 64-bit id: the product is computed with BOUNDED
    * intermediates (16-bit split below), so ANSI mode never sees a checked
    * multiply overflow — the direct `id * 2654435761` would throw
    * ARITHMETIC_OVERFLOW at |id| >= ~3.47e9, i.e. on every xxhash-derived id
    * space. Wherever the direct formula is defined the split is equal to it,
    * so the small-id oracle SQL twin (`id * 2654435761 % 2^32`) is unchanged. */
  def sampleBucket(id: Column): Column = {
    // (id*m) mod 2^32 with x = pmod(id, 2^32) split as hi*2^16 + lo:
    //   (x*m) mod 2^32 = (lo*m + ((hi*m) mod 2^16) * 2^16) mod 2^32
    // every product <= 65535 * m ~ 1.7e14 << Long.Max. Spark `/` on longs is
    // DOUBLE division; dividing by a power of two below 2^53 is exact, so
    // floor+cast reproduces integer division bit-for-bit (DuckDB `//`).
    val m  = 2654435761L
    val x  = pmod(id.cast("long"), lit(4294967296L))
    val lo = x % 65536L
    val hi = floor(x / 65536L).cast("long")
    val m32 = pmod(lo * m + pmod(hi * m, lit(65536L)) * 65536L, lit(4294967296L))
    floor(m32 * 1000L / lit(4294967296L)).cast("long")
  }

  /** PII redaction — the scrubbing stage of web-corpus pipelines: masks
    * emails, IPv4 addresses and phone-like digit runs with typed
    * placeholders. A narrow map of pure built-in `regexp_replace`s; the
    * patterns avoid backtracking-only constructs so the same regexes run
    * identically under Java regex (Spark) and RE2-family engines. Order
    * matters: emails first (their digits must not look like phones), then
    * IPs, then phones. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol,
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
        "\\+\\d[\\d .-]{7,}\\d", "<PHONE>"))

  /** Stratified deterministic sampling — the data-MIXING op: per-group keep
    * rates (per-mille), applied through the same multiplicative-hash bucket
    * as [[deterministicSample]], so each group's sample is monotone in its
    * rate and reproducible across engines. The rate table rides a broadcast
    * join; the corpus side stays a narrow filter. Groups absent from
    * `rates` are dropped (rate 0) — list every group to keep.
    */
  def stratifiedSample(df: DataFrame, idCol: String, groupCol: String,
                       rates: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(groupCol, "__rate")
    df.join(broadcast(ratesDf), Seq(groupCol))
      .where(sampleBucket(col(idCol)) < col("__rate"))
      .drop("__rate")
  }

  /** Sequence-packing PLAN — assign documents to contiguous token bins of
    * ~`budgetTokens` each (the planning pass of pretraining sequence
    * packing): documents are laid out in `orderCol` order within each
    * `partitionCol` group (e.g. language), and a document's bin is the bin
    * its FIRST token lands in under running concatenation. Emits
    * `bin_offset` (tokens preceding the doc in its group's running stream)
    * and `bin` = bin_offset / budget (0-based). One window shuffle on the
    * partition key; ANSI-SQL reproducible (running sum + integer division).
    */
  def packSequences(df: DataFrame, tokenCol: String, orderCol: String,
                    partitionCol: String, budgetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(col(tokenCol).cast("long")).over(w)
    // floor(double-div) == integer division here (see sampleBucket note);
    // exact for any power-of-two budget and for offsets < 2^52 / budget
    df.withColumn("bin_offset", cum - col(tokenCol))
      .withColumn("bin", floor(col("bin_offset") / lit(budgetTokens)).cast("long"))
  }

  /** Scale-safe [[packSequences]]: identical output, but the running sum is
    * computed in TWO phases so no single task ever owns a whole partition
    * group. [[packSequences]] windows over `partitionCol` alone — with a
    * handful of languages over 100 TB that is a handful of tasks. Here the
    * order column is range-sharded (`shard = orderCol / shardSize`, which
    * preserves contiguity of the packing order), phase 1 aggregates token
    * sums per (group, shard), phase 2 prefix-sums the per-shard totals (a
    * window over the TINY shard table) and broadcasts them back, and phase 3
    * windows only within (group, shard) — the wide shuffle is keyed by
    * (group, shard), parallel in the data size.
    *
    * Requires a non-negative integral `orderCol` (the doc id); output
    * equality with [[packSequences]] is spec-pinned.
    */
  def packSequencesSharded(df: DataFrame, tokenCol: String, orderCol: String,
                           partitionCol: String, budgetTokens: Long,
                           shardSize: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = floor(col(orderCol) / lit(shardSize)).cast("long")
    val sharded = df.withColumn("__shard", shard)
    // per-(group, shard) token totals; prefix-exclusive sum across shards
    val totals = sharded.groupBy(col(partitionCol), col("__shard"))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
    val wShard = Window.partitionBy(col(partitionCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = totals
      .withColumn("__base", sum(col("__t")).over(wShard) - col("__t"))
      .select(col(partitionCol), col("__shard"), col("__base"))
    // local running sum within the shard + the shard's base offset
    val wLocal = Window.partitionBy(col(partitionCol), col("__shard"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = sum(col(tokenCol).cast("long")).over(wLocal)
    sharded
      .join(broadcast(offsets), Seq(partitionCol, "__shard"))
      .withColumn("bin_offset", col("__base") + localCum - col(tokenCol))
      .withColumn("bin", floor(col("bin_offset") / lit(budgetTokens)).cast("long"))
      .drop("__shard", "__base")
  }
}
