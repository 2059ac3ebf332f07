package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Deduplication operators for training-data pipelines, each a declarative
  * DataFrame plan over the `documents`-shaped table:
  *
  *  - exact            hash-groupBy canonicalization (narrow-key shuffle)
  *  - MinHash + LSH    shingle → minhash → band → bucket equi-join →
  *                     verified n-gram Jaccard (banding bounds candidates,
  *                     no quadratic blow-up at scale)
  *  - SimHash          64-bit signature, 16-bit band buckets, hamming verify
  *  - embedding cosine BANDED sign-random-projection buckets, exact verify
  *  - shared passages  winnowing fingerprint buckets + char-exact verify
  *                     (substring-level dedup; cross-corpus variant =
  *                     [[contaminationPairs]] for decontamination)
  *  - clusters         connected components over any pair set → canonical
  *                     ids; [[nearDedupCorpus]]/[[nearDedupEmbeddings]]
  *                     chain pairs → clusters → surviving rows
  *  - catalog          [[writeCatalog]]/[[dedupAgainst]]/[[appendToCatalog]]
  *                     (text) and [[writePerceptualCatalog]]/
  *                     [[dedupAgainstPerceptual]] (64-bit perceptual hash):
  *                     incremental dedup of NEW shards against the persisted
  *                     signature store of the accumulated corpus
  *  - streaming        [[exactStreaming]] (hash-distinct),
  *                     [[nearDupStreaming]] and [[perceptualStreaming]]
  *                     (band-bucket first arrival)
  *
  * Each signature kind is banded in ONE place — [[minhashBands]] for
  * minhash, [[bits64Bands]] for 64-bit simhash/perceptual hashes — so a
  * kind's pairs, catalog and stream always agree on its buckets; the pair
  * operators share [[bandedPairs]] and the streams [[ownsAllBands]].
  */
object Dedup {

  /** Exact dedup: every row tagged with the canonical (minimum) id of its
    * identical-text group. Output: idCol, canonical_id, is_dup.
    *
    * Scale-safe plan: groups on the NARROW `(xxhash64(text), length(text))`
    * key — 16 fixed bytes through the agg exchange instead of the full
    * document text — then verifies candidates by comparing the actual text
    * against the group minimum's text (`min_by` carries exactly one text
    * per group through map-side partial agg). Rows that hash-collide with a
    * different text (vanishingly rare at 64 bits + length, but exactness is
    * the contract) fall to a full-text re-group among themselves only.
    * `hashFn` is injectable so the collision path is testable with a weak
    * hash (DedupExactSpec proves equality under a 1-bit hash).
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
            hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val d = df.select(col(idCol), col(textCol))
      .withColumn("__h", hashFn(col(textCol)))
      .withColumn("__l", length(col(textCol)))
    val canon = d.groupBy(col("__h"), col("__l"))
      .agg(min(col(idCol)).as("__cand"), min_by(col(textCol), col(idCol)).as("__ct"))
    val joined = d.join(canon, Seq("__h", "__l"))
    val matched = joined.where(col(textCol) === col("__ct"))
      .select(col(idCol), col("__cand").as("canonical_id"))
    // collision stragglers: every row of a colliding text lands here (none
    // matches the group-min text), so a per-text min over just these rows
    // yields the correct canonical id
    val stragglers = joined.where(col(textCol) =!= col("__ct"))
    val fixed = stragglers
      .join(stragglers.groupBy(col(textCol)).agg(min(col(idCol)).as("canonical_id")),
        Seq(textCol))
      .select(col(idCol), col("canonical_id"))
    matched.unionByName(fixed)
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
      .select(col(idCol), col("canonical_id"), col("is_dup"))
  }

  /** Streaming twin of [[exact]]: one surviving row per distinct text over
    * an unbounded stream, keyed by the narrow `(xxhash64(text), length)`
    * pair. Across micro-batches the first-arriving group wins; WITHIN a
    * batch (or on a batch frame) the surviving row of a group is an
    * arbitrary engine pick, not a deterministic canonical — use [[exact]]
    * when the canonical id matters.
    *
    * HASH-distinct, not text-exact: streaming state cannot run the batch
    * verify + straggler re-group, so two DISTINCT texts that collide on
    * (64-bit hash, length) conflate with probability ~2^-64 per pair — use
    * the batch [[exact]] when absolute exactness is the contract. State
    * follows [[firstArrivals]] (watermark-GC'd with `eventTime`). Works
    * identically on batch frames (proven in SessionIvfSpec).
    */
  def exactStreaming(df: DataFrame, idCol: String, textCol: String,
                     eventTime: Option[(String, String)] = None): DataFrame =
    firstArrivals(df.withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__l", length(col(textCol))), Seq("__h", "__l"), eventTime)
      .drop("__h", "__l")

  /** The first-arrival state of every streaming dedup operator: one row
    * per distinct `keys` value, the first to arrive across micro-batches.
    * With `eventTime = Some((col, delay))` a watermark is applied and a
    * key's state is GC'd once its window passes
    * (`dropDuplicatesWithinWatermark`); without it state grows with the
    * number of distinct keys. */
  private def firstArrivals(df: DataFrame, keys: Seq[String],
                            eventTime: Option[(String, String)]): DataFrame = eventTime match {
    case Some((c, delay)) => df.withWatermark(c, delay).dropDuplicatesWithinWatermark(keys)
    case None => df.dropDuplicates(keys)
  }

  // ------------------------------------------------ banded signatures

  /** The minhash band definition: adds `band` in [0, bands) and `bh` =
    * xxhash64 over the band's r = numHashes/bands-row slice of
    * `minhash_sig(text)`, and drops the signature; keeps every other
    * column. Pairs, catalog and stream all band through here, so a catalog
    * and an in-frame dedup agree bucket for bucket. */
  private def minhashBands(df: DataFrame, text: Column,
                           numHashes: Int, bands: Int, shingle: Int): DataFrame = {
    val r = numHashes / bands
    df.withColumn("__sig", minhash_sig(text, lit(numHashes), lit(shingle)))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bh", xxhash64(col("band"), slice(col("__sig"), col("band") * r + 1, lit(r))))
      .drop("__sig")
  }

  /** The 64-bit band definition (simhash and perceptual hashes): adds
    * `band` in [0, bands) and `bh` = the band's contiguous (64/bands)-bit
    * slice of `h` (all of `h` when bands == 1); keeps every column.
    * Pigeonhole: two hashes within hamming < bands share an intact band.
    * Callers check that `bands` divides 64. */
  private def bits64Bands(df: DataFrame, h: Column, bands: Int): DataFrame = {
    val width = 64 / bands
    val mask  = if (bands == 1) -1L else (1L << width) - 1
    df.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bh", call_function("shiftrightunsigned", h, col("band") * width)
        .bitwiseAND(lit(mask)))
  }

  /** The pair skeleton of every banded near-dup operator: ids (`__id`)
    * sharing any (band, bh) bucket of `banded` are candidates, verified on
    * `payload` (an (id, value) frame). Output: id_a < id_b and `metric` =
    * verify(value_a, value_b), kept where `keep` holds.
    *
    * The (__id, band, bh) stream is lazily checkpointed: both sides of the
    * candidate self-join read it, and Spark shares identical EXCHANGES, not
    * identical subtrees — without the checkpoint the signature kernel runs
    * once per side (measured as the two dominant jobs of the minhash leg).
    * Materializing costs rows × bands narrow rows — far less than a second
    * signature pass at any scale. Callers alias their id to `__id`, not
    * `id`: the optimizer drops a same-name alias (`id AS id`), which leaves
    * the checkpoint partitioned on an attribute it does not output and
    * costs the candidate `distinct` an exchange on range-partitioned input.
    * Candidates are deduped on (id_a, id_b) BEFORE the payload is
    * re-attached, so the wide payload never rides the band shuffle and a
    * pair colliding in k bands is verified once. */
  private def bandedPairs(banded: DataFrame, payload: DataFrame, metric: String,
                          verify: (Column, Column) => Column,
                          keep: Column => Column): DataFrame = {
    val b = banded.select("__id", "band", "bh").localCheckpoint(eager = false)
    b.toDF("id_a", "ba", "ha")
      .join(b.toDF("id_b", "bb", "hb"),
        col("ba") === col("bb") && col("ha") === col("hb") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(payload.toDF("id_a", "va"), Seq("id_a"))
      .join(payload.toDF("id_b", "vb"), Seq("id_b"))
      .withColumn(metric, verify(col("va"), col("vb")))
      .where(keep(col(metric)))
      .select("id_a", "id_b", metric)
  }

  /** The first-arrival skeleton of every streaming near-dup operator: each
    * row of `banded` claims its `bands` (band, bh) buckets, the first
    * claimant keeps a bucket ([[firstArrivals]] state), and a row survives
    * iff it owns ALL of its buckets — a later near-dup shares >= 1 bucket
    * with an earlier row and fails the ownership count. Output: the `keep`
    * columns of the survivors (emit in update mode: the ownership count is
    * a streaming aggregation). */
  private def ownsAllBands(banded: DataFrame, bands: Int, keep: Seq[String],
                           eventTime: Option[(String, String)]): DataFrame =
    firstArrivals(banded, Seq("band", "bh"), eventTime)
      .groupBy(keep.map(col): _*)
      .agg(count(lit(1)).as("__owned"))
      .where(col("__owned") === bands)
      .select(keep.map(col): _*)

  /** MinHash-LSH candidate pairs, Jaccard-verified.
    * Probability a pair with Jaccard j collides: 1-(1-j^r)^b with
    * r = numHashes/bands rows per band.
    *
    * Default r=8, b=16 (128 hashes): tuned for NEAR-dup detection — a pair
    * at j=0.9 is caught with p≈0.9999, at j=0.8 with p≈0.95, while a
    * corpus-typical pair at j=0.3 collides with p≈1e-3 so band buckets stay
    * tiny and the candidate set stays linear. (Wider bands, e.g. r=4, look
    * more sensitive but DEGENERATE on homogeneous corpora: when every
    * document shares the globally-minimal shingles, 4-row buckets grow to
    * thousands of members and the candidate join goes quadratic — measured
    * as a multi-minute hang at just 10k docs.)
    *
    * Output: id_a < id_b, jaccard (>= threshold).
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.6): DataFrame =
    bandedPairs(minhashBands(df.select(col(idCol).as("__id"), col(textCol)), col(textCol),
        numHashes, bands, shingle),
      df.select(col(idCol), col(textCol)), "jaccard", ngram_jaccard(_, _, lit(shingle)),
      _ >= threshold)

  /** SimHash near-dup pairs: 4×16-bit band buckets guarantee recall for
    * hamming distance <= 3 (pigeonhole: any 3 flipped bits leave one band
    * intact); verified with bit_count(a^b). Output: id_a < id_b, hamming. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 5, maxHamming: Int = 3): DataFrame = {
    // lazy checkpoint: the signature feeds both the bands and the verify
    // re-attach, and the simhash kernel must run once per row, not per read
    val sig = df.select(col(idCol).as("__id"), simhash64(col(textCol), lit(shingle)).as("sh"))
      .localCheckpoint(eager = false)
    bandedPairs(bits64Bands(sig, col("sh"), 4), sig, "hamming",
      (a, b) => bit_count(a.bitwiseXOR(b)), _ <= maxHamming)
  }

  /** Embedding cosine near-dups via BANDED sign-random-projection buckets —
    * the same OR-of-ANDs shape as [[minhashPairs]]: `bands` independent
    * signatures of `bits` hyperplanes each (per-band seed), a pair is a
    * candidate when ANY band matches.
    *
    * Why banded (vs one wide signature): recall for a pair at angle θ is
    * 1-(1-(1-θ/π)^bits)^bands instead of the single-signature (1-θ/π)^bits —
    * at cosine 0.99 the defaults give ≈0.995 vs 0.48 — while bucket
    * cardinality per band stays n/2^bits, so the candidate join is bounded
    * by bands × Σ bucket², never a single giant bucket of the whole
    * near-dup mass. The wide embedding arrays never ride the banded shuffle
    * (only ids do; [[bandedPairs]]).
    *
    * True exact-duplicate pile-ups (m identical vectors) still cost m²/2
    * VERIFIED pairs — that is the correct output, not a candidate-set
    * artifact; feed the pairs to [[clusters]] to canonicalize instead of
    * materializing the full pair list downstream.
    *
    * Output: id_a < id_b, cosine (>= threshold). */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 16, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val src = df.select(col(idCol).as("__id"), col(vecCol).as("v"))
    // per-band signature: an independent hyperplane family per band — the
    // band seed is avalanched through xxhash64 (a linear band<<32 offset
    // would collide with the kernel's own per-bit k<<32 offsets and make
    // bands share hyperplanes; also ANSI-safe: no overflow-checked multiply)
    val banded = src
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bh", hyperplane_sig(col("v"), lit(bits), xxhash64(lit(seed), col("band"))))
    bandedPairs(banded, src, "cosine", vec_cosine(_, _), _ >= threshold)
  }

  /** Substring-level (shared-passage) dup pairs — the training-data op for
    * documents that are NOT near-duplicates overall but share a long copied
    * passage (boilerplate, licenses, quoted spans; Lee et al.'s "Deduplicating
    * Training Data Makes Language Models Better" motivates the substring
    * granularity).
    *
    * Candidates: winnowing fingerprints (Schleimer et al., SIGMOD'03) —
    * explode → fingerprint equi-join → per-pair distinct-shared count. The
    * winnowing GUARANTEE makes recall exact: any shared substring of length
    * >= k + w - 1 shares at least one fingerprint. Verification is the
    * char-exact [[TextKernels.hasCommonSubstring]] (zero false positives
    * from hash collisions); texts are re-attached only after the
    * fingerprint-level aggregation, so documents never ride the fingerprint
    * shuffle.
    *
    * At corpus scale, hot fingerprints (ubiquitous boilerplate k-grams)
    * skew the bucket join: fingerprints appearing in more than
    * `maxDocFrequency` documents are dropped (one extra count pass — Lee et
    * al. drop over-common spans the same way). The cap is ON BY DEFAULT
    * (1000 docs): a fingerprint shared by >1000 documents is boilerplate at
    * any corpus size, and without the cap a single hot bucket makes the
    * candidate join quadratic (10^6 docs sharing a footer = 10^12
    * candidates). Pairs whose ONLY shared passage is that common are missed
    * by design; pass `maxDocFrequency = 0` to opt out (exact recall, unsafe
    * on web corpora).
    *
    * Output: id_a < id_b, shared_fps (distinct shared fingerprints).
    */
  def sharedPassagePairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 1,
      maxDocFrequency: Long = 1000L): DataFrame = {
    val minLen = k + w - 1
    // lazy checkpoint: the winnowing kernel stream feeds the doc-frequency
    // cap aggregation AND both sides of the candidate self-join — without
    // it the O(chars) fingerprint pass ran three times per call (measured
    // as the three dominant jobs of the leg)
    val fps0 = df.select(col(idCol).as("__id"),
      explode(winnow_fp(col(textCol), lit(k), lit(w))).as("__fp"))
      .localCheckpoint(eager = false)
    val fps =
      if (maxDocFrequency <= 0) fps0
      else fps0.join(
        fps0.groupBy("__fp").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxDocFrequency).select("__fp"),
        Seq("__fp"), "left_semi")
    val a = fps.select(col("__fp").as("fa"), col("__id").as("id_a"))
    val b = fps.select(col("__fp").as("fb"), col("__id").as("id_b"))
    // winnow_fp emits DISTINCT fingerprints per doc, so the per-pair count
    // is the distinct shared-fingerprint count with no extra dedup
    val cand = a.join(b, col("fa") === col("fb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
    val ta = df.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    cand.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .where(common_substring(col("__ta"), col("__tb"), lit(minLen)))
      .select("id_a", "id_b", "shared_fps")
  }

  /** GEO-AWARE perceptual dedup for the image+caption table: two images are
    * near-dups when their 64-bit perceptual hashes differ in at most
    * `maxHamming` bits AND they lie within `maxDistM` metres — the
    * re-captured-scene case (same content, same place), where content-only
    * phash dedup over a planetary corpus would flood on generic scenes.
    *
    * Candidates must collide on BOTH keys of a single equi-join:
    * hex-cell adjacency (the b side explodes its k-ring-1, so any pair
    * within one cell size of each other shares a key; cell size at `res`
    * must exceed `maxDistM` — the default pairing of res 6 ≈ 0.13° with
    * 500 m satisfies it everywhere) and a 16-bit phash band (4 bands:
    * pigeonhole recall 1.0 for hamming <= 3, the [[simhashPairs]] scheme).
    * Verification is exact bit_count + haversine; candidate multiplicity is
    * bounded (bands × matching cells), removed by the final dropDuplicates
    * on the narrow output. The b side probes its ±360° translate frames
    * near the antimeridian (the planar grid does not wrap at ±180).
    * Soundness of the adjacency key needs the cell's METRIC longitude
    * extent to exceed maxDistM: with res 6 (0.131°) and
    * 500 m that holds to |lat| ≈ 88°; for polar-cap corpora pass a coarser
    * `res` (res 4 ≈ 0.92° holds to ~89.7°) or build candidates with the
    * [[graft.geo.join.SpatialJoins.knnJoinS2]]-style metric cap covers,
    * which have no latitude singularity.
    *
    * Output: id_a < id_b, hamming, dist_m.
    */
  def geoPhashPairs(
      df: DataFrame, idCol: String, phashCol: String,
      lngCol: String, latCol: String,
      maxHamming: Int = 3, maxDistM: Double = 500.0, res: Int = 6): DataFrame = {
    import graft.geo.sql.GeoFunctions.{hex_cell, hex_kring, haversine}
    import graft.geo.join.SpatialJoins.coord
    val a = bits64Bands(df.select(col(idCol).as("id_a"), col(phashCol).as("pa"),
        col(lngCol).as("la_lng"), col(latCol).as("la_lat"))
      .withColumn("__cell", hex_cell(coord("la_lng"), coord("la_lat"), lit(res))), col("pa"), 4)
    val reach = 2.0 * graft.geo.index.HexCell.sizeDeg(res)
    val shifts = when(abs(col("lb_lng")) > 180.0 - reach,
      array(lit(0.0), lit(360.0), lit(-360.0))).otherwise(array(lit(0.0)))
    val b = bits64Bands(df.select(col(idCol).as("id_b"), col(phashCol).as("pb"),
        col(lngCol).as("lb_lng"), col(latCol).as("lb_lat"))
      .withColumn("__cell", explode(array_distinct(flatten(transform(shifts,
        sh => hex_kring(hex_cell(col("lb_lng") + sh, col("lb_lat"), lit(res)), lit(1))))))),
      col("pb"), 4)
    a.join(b, Seq("__cell", "band", "bh"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("pa").bitwiseXOR(col("pb"))))
      .withColumn("dist_m", haversine(coord("la_lng"), coord("la_lat"), coord("lb_lng"), coord("lb_lat")))
      .where(col("hamming") <= maxHamming && col("dist_m") <= maxDistM)
      .select("id_a", "id_b", "hamming", "dist_m")
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH TUNING report: measured recall of [[minhashPairs]] against the
    * EXACT all-pairs n-gram Jaccard on a bounded sample, bucketed by
    * Jaccard decile — how the r/b operating point is validated on a real
    * corpus before a full run (the r=8/b=16 default came from exactly this
    * measurement). The exact pass is O(sampleN²) BY CONSTRUCTION — this is
    * a parameter-sweep tool over a sample, never a corpus-scale operator.
    *
    * Output per decile band: j_band, n_pairs (true pairs), n_found (by
    * LSH), recall — compare against the banding theory
    * 1-(1-j^r)^b to spot degenerate corpora (see the r=4 note on
    * [[minhashPairs]]).
    */
  def minhashRecallReport(
      df: DataFrame, idCol: String, textCol: String,
      sampleN: Int = 500, numHashes: Int = 128, bands: Int = 16,
      shingle: Int = 5, minJaccard: Double = 0.5): DataFrame = {
    val sample = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .limit(sampleN).localCheckpoint()
    val a = sample.select(col("__id").as("id_a"), col("__t").as("ta"))
    val b = sample.select(col("__id").as("id_b"), col("__t").as("tb"))
    val exact = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("j", ngram_jaccard(col("ta"), col("tb"), lit(shingle)))
      .where(col("j") >= minJaccard)
      .select("id_a", "id_b", "j")
    val found = minhashPairs(sample, "__id", "__t", numHashes, bands, shingle,
        threshold = minJaccard)
      .select(col("id_a"), col("id_b"), lit(1L).as("__f"))
    exact.join(found, Seq("id_a", "id_b"), "left")
      .withColumn("j_band", floor(col("j") * 10) / 10.0)
      .groupBy("j_band")
      .agg(count(lit(1)).as("n_pairs"), sum(coalesce(col("__f"), lit(0L))).as("n_found"))
      .withColumn("recall", col("n_found").cast("double") / col("n_pairs"))
      .orderBy("j_band")
  }

  /** Cross-corpus contamination check (train/test DECONTAMINATION): corpus
    * documents sharing a verified >= k+w-1-char passage with any benchmark
    * document. Same winnowing-bucket + char-exact-verify machinery as
    * [[sharedPassagePairs]], but across two tables — the benchmark side is
    * tiny (eval sets), so its fingerprint table is BROADCAST and the corpus
    * side never shuffles at all: fingerprint explode → broadcast equi-join →
    * per-(corpus, bench) pair count → exact verify.
    *
    * Output: one row per contaminated (corpusId, benchId) pair with the
    * distinct shared-fingerprint count; anti-join the distinct corpus ids to
    * decontaminate.
    */
  def contaminationPairs(
      corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchId: String, benchText: String,
      k: Int = 8, w: Int = 4, minShared: Int = 1): DataFrame = {
    val minLen = k + w - 1
    val cFps = corpus.select(col(corpusId).as("corpus_id"),
      explode(winnow_fp(col(corpusText), lit(k), lit(w))).as("__fp"))
    val bFps = bench.select(col(benchId).as("bench_id"),
      explode(winnow_fp(col(benchText), lit(k), lit(w))).as("__fp"))
    val cand = cFps.join(broadcast(bFps), Seq("__fp"))
      .groupBy("corpus_id", "bench_id").agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
    val ct = corpus.select(col(corpusId).as("corpus_id"), col(corpusText).as("__tc"))
    val bt = bench.select(col(benchId).as("bench_id"), col(benchText).as("__tb"))
    cand.join(ct, Seq("corpus_id")).join(broadcast(bt), Seq("bench_id"))
      .where(common_substring(col("__tc"), col("__tb"), lit(minLen)))
      .select("corpus_id", "bench_id", "shared_fps")
  }

  /** STREAMING near-dup dedup — the streaming counterpart of
    * [[minhashPairs]] (and of the catalog's "near" mode): band buckets are
    * the state. Every doc claims its `bands` minhash band buckets and
    * survives iff it owns ALL of them ([[ownsAllBands]]) — a later near-dup
    * shares >= 1 bucket with an earlier doc (the banding recall curve) and
    * fails the ownership count.
    *
    * Decisions are SIGNATURE-level (state holds no text, so no Jaccard
    * verify — near-threshold false drops follow the banding curve, as
    * [[dedupAgainst]]). CO-ARRIVAL caveat — broader than the exact-dup
    * case: any two docs sharing >= 1 band bucket in the SAME micro-batch
    * (byte-identical docs share all of them, but two merely NEAR-dup docs
    * share some) can split their bucket wins under `dropDuplicates`'
    * arbitrary winner and BOTH drop. Across batches the earlier doc wins
    * everything and survives; within a batch the split is an engine pick.
    * Run [[exactStreaming]] upstream to remove the identical-doc case; the
    * near-dup co-arrival case is inherent to signature-level banding (both
    * drops are of genuine near-dups, so the result over-deletes by at most
    * one member of a co-arriving dup pair). With `eventTime` the bucket
    * state is watermark-GC'd; without it state grows with distinct
    * buckets. Emit the result in update mode. The same holds on
    * batch frames: identical results to streaming when the frame has no
    * co-arriving band-sharing pair (e.g. exact-dup-free AND near-dup-free
    * within the single batch).
    *
    * Output: the surviving (idCol, textCol) rows. */
  def nearDupStreaming(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
      eventTime: Option[(String, String)] = None): DataFrame =
    ownsAllBands(minhashBands(df, col(textCol), numHashes, bands, shingle), bands,
      Seq(idCol, textCol), eventTime)

  /** Streaming PERCEPTUAL dedup — [[nearDupStreaming]] over a 64-bit
    * perceptual-hash column: each image claims its `bands` hash slices
    * (first arrival wins a (band, bh) bucket — [[ownsAllBands]]) and
    * survives iff it won ALL of them, i.e. a row drops when ANY
    * band collides with an earlier image (a byte-identical re-crawl
    * collides on all of them; a near-dup within hamming < bands collides
    * on at least one). Decisions are BAND-level with no hamming verify
    * (the winner's hash isn't visible to later rows), so false drops
    * follow the per-band collision rate: a band is 64/bands bits and a
    * stream with n distinct images expects ~bands·n²/2^(64/bands+1)
    * spurious collisions — fine for daily shards at bands=4 (16-bit
    * slices: keep shards ≪ 65k distinct images), use bands=2 (32-bit
    * slices, recall 1.0 at hamming ≤ 1) or bands=1 (exact-hash dedup) for
    * large streams; for full hamming-verified decisions run the batch
    * [[dedupAgainstPerceptual]] against the catalog instead. The
    * co-arrival caveat of [[nearDupStreaming]] applies verbatim. With
    * `eventTime` the bucket state is watermark-GC'd
    * (dropDuplicatesWithinWatermark). Emit in update mode. */
  def perceptualStreaming(df: DataFrame, idCol: String, hashCol: String,
                          bands: Int = 4,
                          eventTime: Option[(String, String)] = None): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    ownsAllBands(bits64Bands(df, col(hashCol).cast("long"), bands), bands,
      Seq(idCol, hashCol), eventTime)
  }

  // ------------------------------------------------ incremental catalog

  /** Narrow exact signature per doc: (id, xxhash64(text), length). The id
    * keeps its own type — string doc ids (URLs) catalog as-is. */
  private def exactSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      xxhash64(col(textCol)).as("h"), length(col(textCol)).as("len"))

  /** LSH band signatures per doc: (id, band, bh) — [[minhashBands]], the
    * banding [[minhashPairs]] and [[nearDupStreaming]] use too. */
  private def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                             numHashes: Int, bands: Int, shingle: Int): DataFrame =
    minhashBands(df, col(textCol), numHashes, bands, shingle)
      .select(col(idCol).as("id"), col("band"), col("bh"))

  /** Write a persisted SIGNATURE CATALOG for incremental dedup — the
    * production shape: a corpus is deduplicated ONCE, its narrow signatures
    * (16-byte exact key + minhash band hashes; never the text) are written
    * out, and every future shard dedups against the catalog via
    * [[dedupAgainst]] without ever re-reading or re-shuffling the corpus
    * text. Layout under `path`:
    *   - `params`  one row (num_hashes, bands, shingle, with_minhash) —
    *               [[dedupAgainst]] recomputes shard signatures with the
    *               SAME parameters
    *   - `exact`   (id, h, len)
    *   - `minhash` (id, band, bh)
    * Grow it with [[appendToCatalog]] as shards are accepted.
    *
    * `withMinhash = false` writes an EXACT-ONLY catalog (params + exact
    * signatures, no minhash band table): a flow that dedups with
    * `mode = "exact"` skips the minhash_sig pass and its table write
    * entirely — at corpus scale that is a full O(tokens) signature pass
    * plus a table of bands × rows it would never read. The choice is
    * recorded in `params` and is permanent: [[appendToCatalog]] keeps such
    * a catalog exact-only (band signatures of appended shards alone would
    * miss every near-dup of the base corpus), and `mode = "near"` rejects
    * it with an error. Rebuild with `withMinhash = true` to dedup near.
    *
    * `params` is the commit marker ([[graft.Par.commit]]): it is deleted
    * before the signature tables are (re)written and written last, so a
    * build that dies midway — a rebuild over an existing catalog included
    * — leaves no marker. */
  def writeCatalog(df: DataFrame, idCol: String, textCol: String, path: String,
                   numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
                   withMinhash: Boolean = true): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.Par.commit(path,
      Seq((numHashes, bands, shingle, withMinhash))
        .toDF("num_hashes", "bands", "shingle", "with_minhash"),
      ("exact" -> exactSignatures(df, idCol, textCol)) +:
        (if (withMinhash)
          Seq("minhash" -> bandSignatures(df, idCol, textCol, numHashes, bands, shingle))
        else Seq.empty): _*)
  }

  /** Append a (deduplicated) shard's signatures to an existing catalog,
    * using the catalog's own stored parameters (an exact-only catalog gets
    * exact signatures only). */
  def appendToCatalog(df: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val p = catalogParams(params(df.sparkSession, path))
    exactSignatures(df, idCol, textCol).write.mode("append").parquet(s"$path/exact")
    if (p.withMinhash)
      bandSignatures(df, idCol, textCol, p.numHashes, p.bands, p.shingle)
        .write.mode("append").parquet(s"$path/minhash")
  }

  /** Catalog MAINTENANCE: compaction + self-dedup, for text and perceptual
    * catalogs alike. Repeated appends ([[appendToCatalog]],
    * [[appendToPerceptualCatalog]]) accumulate small parquet files (one
    * batch of files per append — the classic small-files creep) AND
    * duplicate signature rows: a re-crawled doc appended twice matches
    * itself forever, and every duplicate row inflates every future probe.
    * This rewrites each signature table the catalog's own `params` names —
    * `exact` on its probe key h, `minhash` on (band, bh) only when the
    * catalog carries it (`with_minhash`), a perceptual catalog's `phash`
    * (no `num_hashes` column) on (band, bh) — with exact-duplicate rows
    * dropped (`distinct()` — identical (id, h, len) / (id, band, bh[, ph])
    * rows collapse; a same-id doc whose TEXT changed keeps both
    * signatures, which is correct: either matches a future re-crawl) and
    * file counts bounded by a range-repartition on the probe keys, which
    * also gives parquet min/max stats a sorted layout to prune against.
    *
    * The rewrite is CRASH-SAFE in the [[graft.pipeline.Stages]] `_SUCCESS`
    * discipline: the compacted copy lands in a sibling tmp dir first and
    * swaps in via two directory renames, and a crash at any point leaves a
    * recoverable full copy that the next compaction restores before it
    * deletes anything (overwriting a parquet path being read is also an
    * error in Spark — the tmp hop is required for self-reads anyway).
    * Readers concurrent with the swap itself can see a briefly missing
    * path and must retry — see [[swapSubdir]] for the exact contract.
    */
  def compactCatalog(spark: SparkSession, path: String, filesPerTable: Int = 4): Unit = {
    require(filesPerTable > 0, s"filesPerTable must be positive, got $filesPerTable")
    val p = params(spark, path)
    val tables =
      if (!p.schema.fieldNames.contains("num_hashes")) Seq("phash" -> Seq("band", "bh"))
      else ("exact" -> Seq("h")) +:
        (if (catalogParams(p).withMinhash) Seq("minhash" -> Seq("band", "bh")) else Seq.empty)
    for ((sub, keys) <- tables) swapSubdir(path, sub) { out =>
      spark.read.parquet(s"$path/$sub").distinct()
        .repartitionByRange(filesPerTable, keys.map(col): _*)
        .write.parquet(out)
    }
  }

  /** [[compactCatalog]]'s tmp-dir + two-rename swap of one catalog
    * subdirectory. CRASH-SAFE, not reader-atomic: a compaction that dies at
    * any point leaves either the old or the new catalog recoverable — on
    * re-entry, a missing live dir with a surviving backup is restored
    * BEFORE anything is deleted, and the backup is only dropped after the
    * new live dir is in place. A concurrent READER during the swap window
    * (between the two renames) can observe a briefly missing path and
    * should retry; single-writer + retry-reader is the catalog's contract
    * (true multi-reader atomicity needs an indirection the local FS can't
    * give — e.g. a manifest pointer, which Iceberg provides in production). */
  private def swapSubdir(path: String, sub: String)(write: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def rm(p: java.io.File): Unit = if (p.exists()) {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete()
    }
    val cur = Paths.get(s"$path/$sub")
    val tmp = Paths.get(s"$path/.compact_$sub")
    val bak = Paths.get(s"$path/.old_$sub")
    // crash recovery: a prior run that died between its two renames left
    // bak as the ONLY copy — restore it before any delete touches it
    if (!Files.exists(cur) && Files.exists(bak))
      Files.move(bak, cur, StandardCopyOption.ATOMIC_MOVE)
    rm(tmp.toFile); rm(bak.toFile)
    write(tmp.toString)
    Files.move(cur, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE)
    rm(bak.toFile) // only after the new live dir is in place
  }

  private final case class CatalogParams(numHashes: Int, bands: Int, shingle: Int,
                                          withMinhash: Boolean)

  /** The one-row `params` table of a committed catalog. */
  private def params(spark: SparkSession, path: String): Row =
    spark.read.parquet(s"$path/params").head

  /** A text catalog's parameters. A catalog written before `with_minhash`
    * was recorded always carried the minhash table. */
  private def catalogParams(p: Row): CatalogParams =
    CatalogParams(p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"), p.getAs[Int]("shingle"),
      !p.schema.fieldNames.contains("with_minhash") || p.getAs[Boolean]("with_minhash"))

  /** Parameters of a catalog about to be probed by minhash bands. */
  private def nearParams(spark: SparkSession, path: String): CatalogParams = {
    val p = catalogParams(params(spark, path))
    if (!p.withMinhash) throw new IllegalArgumentException(
      s"catalog $path was written with withMinhash = false: its minhash table holds at most " +
        "appended shards, so near-dup matching would miss the base corpus; use mode = \"exact\" " +
        "or rebuild it with withMinhash = true")
    p
  }

  /** Incremental dedup of a NEW shard against a persisted catalog: returns
    * the shard rows whose text matches nothing in the catalog (all original
    * columns). The plan never moves the catalog: the shard's signatures (the
    * small side by construction — a daily shard vs the accumulated corpus)
    * are BROADCAST, the catalog parquet scan streams through
    * BroadcastHashJoins with zero exchange, and only the narrow matched-id
    * set rides the final anti-join (plan-pinned in OpsSpec). For the rare
    * shard comparable in size to the catalog, write both sides bucketed by
    * the signature key instead (the BucketingSpec zero-exchange pattern).
    *
    * Decisions are SIGNATURE-level — the catalog stores no text, the
    * production trade-off of signature stores (GB of signatures vs TB of
    * corpus): `mode = "exact"` drops a shard doc on a (64-bit hash, length)
    * match (false-match odds ~2^-64 per pair, the [[exactStreaming]]
    * caveat); `mode = "near"` (default) additionally drops on ANY minhash
    * band collision — recall follows the [[minhashPairs]] banding curve
    * with no Jaccard verify, so near-threshold false drops are possible by
    * design. Use "exact" when only byte-identical re-crawls must go;
    * "near" rejects a catalog written with `withMinhash = false`. */
  def dedupAgainst(shard: DataFrame, idCol: String, textCol: String,
                   catalogPath: String, mode: String = "near"): DataFrame = {
    val spark = shard.sparkSession
    val exactMatched = spark.read.parquet(s"$catalogPath/exact")
      .join(broadcast(exactSignatures(shard, idCol, textCol)
        .withColumnRenamed("id", "__sid")), Seq("h", "len"))
      .select("__sid")
    dropMatched(shard, idCol, mode match {
      case "exact" => exactMatched
      case "near" =>
        val p = nearParams(spark, catalogPath)
        exactMatched.unionByName(
          spark.read.parquet(s"$catalogPath/minhash")
            .join(broadcast(bandSignatures(shard, idCol, textCol, p.numHashes, p.bands, p.shingle)
              .withColumnRenamed("id", "__sid")), Seq("band", "bh"))
            .select("__sid"))
      case other => throw new IllegalArgumentException(
        s"dedupAgainst mode must be 'exact' or 'near', got '$other'")
    })
  }

  /** The shard rows whose id is not in `matched` (one column of shard
    * ids), for both catalog kinds: only the narrow, deduplicated
    * matched-id set rides the final broadcast anti-join. */
  private def dropMatched(shard: DataFrame, idCol: String, matched: DataFrame): DataFrame =
    shard.join(broadcast(matched.distinct().toDF("__matched_id")),
      col(idCol) === col("__matched_id"), "left_anti")

  /** Pair-level view of [[dedupAgainst]]: (shard_id, catalog_id) signature
    * matches with provenance — `exact` (hash+length match) and `n_bands`
    * (minhash bands collided; 0 for exact-only matches). Signature-level,
    * like [[dedupAgainst]]. */
  def catalogPairs(shard: DataFrame, idCol: String, textCol: String,
                   catalogPath: String): DataFrame = {
    val spark = shard.sparkSession
    val p = nearParams(spark, catalogPath)
    val e = spark.read.parquet(s"$catalogPath/exact")
      .join(broadcast(exactSignatures(shard, idCol, textCol)
        .withColumnRenamed("id", "__sid")), Seq("h", "len"))
      .select(col("__sid").as("shard_id"), col("id").as("catalog_id"),
        lit(true).as("exact"), lit(0L).as("n_bands"))
    val n = spark.read.parquet(s"$catalogPath/minhash")
      .join(broadcast(bandSignatures(shard, idCol, textCol, p.numHashes, p.bands, p.shingle)
        .withColumnRenamed("id", "__sid")), Seq("band", "bh"))
      .groupBy(col("__sid").as("shard_id"), col("id").as("catalog_id"))
      .agg(count(lit(1)).as("n_bands"))
      .select(col("shard_id"), col("catalog_id"), lit(false).as("exact"), col("n_bands"))
    e.unionByName(n)
      .groupBy("shard_id", "catalog_id")
      .agg(max(col("exact")).as("exact"), max(col("n_bands")).as("n_bands"))
  }

  /** Dup-cluster canonicalization: connected components over a near-dup PAIR
    * set — the step between [[minhashPairs]]/[[simhashPairs]]/
    * [[embeddingPairs]] and an actually deduplicated corpus. Every id is
    * tagged with the minimum id of its transitive cluster (pairs a-b, b-c
    * put a and c in one cluster even when (a, c) was never emitted),
    * matching [[exact]]'s output shape: idCol, canonical_id, is_dup.
    *
    * Algorithm: smallest-label propagation with POINTER JUMPING — per round
    * every id takes the min label over itself and its neighbors, then jumps
    * to its label's label (path halving), so convergence is O(log diameter)
    * rounds, not O(diameter). Each round is two narrow equi-join shuffles on
    * ids + one agg; per-round `localCheckpoint` truncates lineage (same
    * exponential-analysis guard as SpatialJoins.knnJoin). Labels are
    * pointwise monotone non-increasing, so a stable label sum is a sound
    * convergence certificate (checked as decimal(38) — overflow-safe at any
    * id scale).
    *
    * @param pairs    near-dup pairs; only (aCol, bCol) are read, so the LSH
    *                 verify columns (jaccard/hamming/cosine) pass through
    *                 untouched — pre-filter thresholds upstream
    * @param universe optional full corpus id set (first column is read as
    *                 the id); ids in no pair become singleton clusters
    *                 (canonical = self). The label universe is ALWAYS
    *                 universe ∪ pair endpoints — an under-covering universe
    *                 must not leak ids into later rounds, or the stable-sum
    *                 certificate would be unsound (equal sums while labels
    *                 still move).
    * @param idCol    name of the output id column
    * @param maxRounds safety valve only: pointer jumping needs
    *                 ~log2(diameter) rounds, so the default 50 covers any
    *                 feasible graph (diameter ~2^49). Exhausting it without
    *                 the certificate holding THROWS (partial labels are a
    *                 silent-corruption hazard, never returned).
    */
  def clusters(
      pairs: DataFrame,
      idCol: String = "id",
      aCol: String = "id_a", bCol: String = "id_b",
      universe: Option[DataFrame] = None,
      maxRounds: Int = 50): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // symmetric closure, self-loops dropped; checkpoint once — the pair
    // lineage is typically an expensive LSH plan and every round re-reads it
    val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false) // materialized by round 1's sum job
    // the label universe is FIXED up front as universe ∪ edge endpoints (the
    // symmetric closure's src column covers both): with a fixed id set and
    // pointwise non-increasing labels, a stable label sum ⇔ no label changed
    // — sound. (If an under-covering universe let new src ids join m1 in a
    // later round, equal sums could mask movement.)
    val endpointIds = edges.select(col("src").as("id"))
    val ids = universe
      .map(u => u.select(u.columns.head).toDF("id").select(col("id").cast("long"))
        .unionByName(endpointIds))
      .getOrElse(endpointIds)
      .distinct()
    var labels = ids.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(eager = false)
    var prevSum: java.math.BigDecimal = null
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val neigh = edges.join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .select(col("src").as("id"), col("lbl"))
      val m1 = labels.unionByName(neigh).groupBy("id").agg(min("lbl").as("lbl"))
      // pointer jump: follow lbl -> lbl(lbl); every label IS an id of the
      // fixed universe, so the left join's coalesce is defensive only
      val jumped = m1
        .join(m1.select(col("id").as("lbl"), col("lbl").as("__lbl2")), Seq("lbl"), "left")
        .select(col("id"), coalesce(col("__lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint(eager = false)
      // the certificate sum is ALSO the materializing action for this
      // round's lazy checkpoint (and, in round 1, for edges + labels) —
      // one job per round instead of eager-checkpoint + sum (round 7)
      val s = jumped.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
      // s == null ⇔ zero ids (sum over empty) — trivially converged
      converged = (s == null) || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = jumped
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clusters: no convergence certificate after $maxRounds rounds " +
          "(pointer jumping needs ~log2(diameter)+1; raise maxRounds)")
    labels.select(col("id").as(idCol), col("lbl").as("canonical_id"),
      (col("id") =!= col("lbl")).as("is_dup"))
  }

  /** End-to-end near-dedup of a text corpus: [[minhashPairs]] →
    * [[clusters]] → keep one canonical row per cluster. Returns the
    * surviving rows of `df` (all original columns). */
  def nearDedupCorpus(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.6): DataFrame =
    dropClusterDups(df, idCol, minhashPairs(df, idCol, textCol, numHashes, bands, shingle, threshold))

  /** [[nearDedupCorpus]] over embeddings: [[embeddingPairs]] →
    * [[clusters]] → keep one canonical row per cosine-near-dup cluster. */
  def nearDedupEmbeddings(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 16, bands: Int = 8,
      seed: Long = 42L): DataFrame =
    dropClusterDups(df, idCol, embeddingPairs(df, idCol, vecCol, threshold, bits, bands, seed))

  /** The rows of `df` that are no cluster's duplicate. Anti-joins on the
    * DUP ids (pairs-only clustering): rows in no pair are singletons and
    * survive untouched, without dragging the whole corpus id set through
    * the label-propagation rounds as a universe would. */
  private def dropClusterDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(clusters(pairs, idCol).where(col("is_dup")).select(col(idCol)), Seq(idCol), "left_anti")

  // --------------------------------- perceptual (image) catalog dedup

  /** Banded signatures of a 64-bit PERCEPTUAL hash: (id, band, bh, ph) —
    * [[bits64Bands]], the [[geoPhashPairs]] banding. Pigeonhole: any pair
    * within hamming < bands shares at least one intact band, so with the
    * default 4×16-bit bands recall is 1.0 at the hamming ≤ 3 verify
    * threshold. The full hash rides along for the verify — 20 bytes/row
    * total, never the payload. */
  private def phashBands(df: DataFrame, idCol: String, hashCol: String,
                         bands: Int): DataFrame = {
    require(bands >= 2 && 64 % bands == 0, s"bands must divide 64 (>=2), got $bands")
    bits64Bands(df.select(col(idCol).as("id"), col(hashCol).cast("long").as("ph")), col("ph"), bands)
      .select("id", "band", "bh", "ph")
  }

  /** The perceptual-hash catalog for image corpora: persist the banded
    * 64-bit perceptual-hash signatures (e.g. the pixel-computed
    * `image_ahash`, or any phash) of the accepted corpus, so every future
    * image shard dedups against the accumulated store WITHOUT re-reading a
    * byte of historical payload — at 10^12 images the payloads are ~100 TB
    * while this catalog is ~80 GB of (id, band, bh, ph) rows. Layout:
    * `params` one row (bands); `phash` (id, band, bh, ph). `params` is the
    * commit marker, written last as in [[writeCatalog]]: a failed rebuild
    * leaves no `bands` value over a table banded another way. Grow with
    * [[appendToPerceptualCatalog]], compact with [[compactCatalog]]. */
  def writePerceptualCatalog(df: DataFrame, idCol: String, hashCol: String,
                             path: String, bands: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.Par.commit(path, Seq(bands).toDF("bands"), "phash" -> phashBands(df, idCol, hashCol, bands))
  }

  /** Append an accepted shard's perceptual signatures, using the catalog's
    * stored band count. */
  def appendToPerceptualCatalog(df: DataFrame, idCol: String, hashCol: String,
                                path: String): Unit =
    phashBands(df, idCol, hashCol, params(df.sparkSession, path).getAs[Int]("bands"))
      .write.mode("append").parquet(s"$path/phash")

  /** Incremental PERCEPTUAL dedup of a new image shard against a persisted
    * catalog: returns the shard rows whose hash is NOT within `maxHamming`
    * bits of any catalog hash that shares a band. Same plan shape as
    * [[dedupAgainst]] — the shard's signatures broadcast, the catalog
    * parquet streams through one BroadcastHashJoin with ZERO exchange, and
    * only the narrow matched-id set rides the final anti-join. Recall is
    * exact for `maxHamming < bands` (pigeonhole); above that it follows the
    * banding curve. A re-crawled byte-identical image matches at hamming 0;
    * a re-encoded/lightly-edited one within `maxHamming` hash bits also
    * goes — signature-level decisions, no payload access. */
  def dedupAgainstPerceptual(shard: DataFrame, idCol: String, hashCol: String,
                             catalogPath: String, maxHamming: Int = 3): DataFrame = {
    val spark = shard.sparkSession
    val sig = phashBands(shard, idCol, hashCol, params(spark, catalogPath).getAs[Int]("bands"))
      .withColumnRenamed("id", "__sid").withColumnRenamed("ph", "__sph")
    dropMatched(shard, idCol, spark.read.parquet(s"$catalogPath/phash")
      .join(broadcast(sig), Seq("band", "bh"))
      .where(bit_count(col("ph").bitwiseXOR(col("__sph"))) <= maxHamming)
      .select("__sid"))
  }
}
