package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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
  *  - catalog          [[writeCatalog]]/[[dedupAgainst]]/[[appendToCatalog]]:
  *                     incremental dedup of NEW shards against the persisted
  *                     signature store of the accumulated corpus
  *  - streaming        [[exactStreaming]] (hash-distinct) and
  *                     [[nearDupStreaming]] (band-bucket first arrival)
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
    * the batch [[exact]] when absolute exactness is the contract. With
    * `eventTime = Some((col, delay))` a watermark is applied and state is
    * GC'd once a group's window passes (`dropDuplicatesWithinWatermark`);
    * without it state grows with the number of distinct documents. Works
    * identically on batch frames (proven in SessionIvfSpec).
    */
  def exactStreaming(df: DataFrame, idCol: String, textCol: String,
                     eventTime: Option[(String, String)] = None): DataFrame = {
    val keyed = df.withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__l", length(col(textCol)))
    val out = eventTime match {
      case Some((c, delay)) =>
        keyed.withWatermark(c, delay).dropDuplicatesWithinWatermark("__h", "__l")
      case None => keyed.dropDuplicates("__h", "__l")
    }
    out.drop("__h", "__l")
  }

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
    * Candidates are deduped on (id_a, id_b) BEFORE texts are re-attached, so
    * the wide text column never rides through the shuffle.
    * Output: id_a < id_b, jaccard (>= threshold).
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    val r = numHashes / bands
    val sig = df.select(col(idCol).as("__id"),
      minhash_sig(col(textCol), lit(numHashes), lit(shingle)).as("__sig"))
    // band hash = xxhash64 over the band's slice of the signature.
    // localCheckpoint (lazy): both sides of the candidate self-join read
    // this frame, and Spark shares only identical EXCHANGES, not identical
    // subtrees — without the checkpoint the O(tokens) minhash kernel runs
    // once per side (measured as the two dominant jobs of the leg).
    // Materializing costs rows × bands narrow (id, band, bh) rows — far
    // less than a second full signature pass at any scale.
    val banded = sig
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", xxhash64(col("__band"), slice(col("__sig"), col("__band") * r + 1, lit(r))))
      .select("__id", "__band", "__bh")
      .localCheckpoint(eager = false)
    val a = banded.select(col("__band").as("ba"), col("__bh").as("ha"), col("__id").as("id_a"))
    val b = banded.select(col("__band").as("bb"), col("__bh").as("hb"), col("__id").as("id_b"))
    val cand = a.join(b, col("ba") === col("bb") && col("ha") === col("hb") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val ta = df.select(col(idCol).as("id_a"), col(textCol).as("ta"))
    val tb = df.select(col(idCol).as("id_b"), col(textCol).as("tb"))
    cand.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .withColumn("jaccard", ngram_jaccard(col("ta"), col("tb"), lit(shingle)))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs: 4×16-bit band buckets guarantee recall for
    * hamming distance <= 3 (pigeonhole: any 3 flipped bits leave one band
    * intact); verified with bit_count(a^b). Output: id_a < id_b, hamming. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingle: Int = 5, maxHamming: Int = 3): DataFrame = {
    val sig = df.select(col(idCol).as("__id"), simhash64(col(textCol), lit(shingle)).as("__sh"))
    // lazy checkpoint: the simhash kernel runs once, not once per join side
    // (the minhashPairs discipline)
    val banded = sig.withColumn("__band", explode(sequence(lit(0), lit(3))))
      .withColumn("__bh", expr("shiftrightunsigned(__sh, __band * 16) & 65535"))
      .localCheckpoint(eager = false)
    val a = banded.select(col("__band").as("ba"), col("__bh").as("ha"),
      col("__id").as("id_a"), col("__sh").as("sha"))
    val b = banded.select(col("__band").as("bb"), col("__bh").as("hb"),
      col("__id").as("id_b"), col("__sh").as("shb"))
    a.join(b, col("ba") === col("bb") && col("ha") === col("hb") && col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
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
    * near-dup mass. Candidates are deduped on (id_a, id_b) BEFORE the
    * vectors are re-attached, so the wide embedding arrays never ride
    * through the banded shuffle (only ids do) and a pair colliding in k
    * bands is verified once, not k times.
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
    val src = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // per-band signature: an independent hyperplane family per band — the
    // band seed is avalanched through xxhash64 (a linear band<<32 offset
    // would collide with the kernel's own per-bit k<<32 offsets and make
    // bands share hyperplanes; also ANSI-safe: no overflow-checked multiply)
    val banded = src
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", hyperplane_sig(col("__v"),
        lit(bits), xxhash64(lit(seed), col("__band"))))
      .select("__id", "__band", "__bh")
      // lazy checkpoint: bands × bits hyperplane dot products run once,
      // not once per join side (the minhashPairs discipline)
      .localCheckpoint(eager = false)
    val a = banded.select(col("__band").as("ba"), col("__bh").as("ha"), col("__id").as("id_a"))
    val b = banded.select(col("__band").as("bb"), col("__bh").as("hb"), col("__id").as("id_b"))
    val cand = a.join(b, col("ba") === col("bb") && col("ha") === col("hb") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = src.select(col("__id").as("id_a"), col("__v").as("va"))
    val vb = src.select(col("__id").as("id_b"), col("__v").as("vb"))
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cosine", vec_cosine(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
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
    val bands = 4
    val a = df.select(col(idCol).as("id_a"), col(phashCol).as("pa"),
        col(lngCol).as("la_lng"), col(latCol).as("la_lat"))
      .withColumn("__cell", hex_cell(coord("la_lng"), coord("la_lat"), lit(res)))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", expr("shiftrightunsigned(pa, __band * 16) & 65535"))
    val reach = 2.0 * graft.geo.index.HexCell.sizeDeg(res)
    val shifts = when(abs(col("lb_lng")) > 180.0 - reach,
      array(lit(0.0), lit(360.0), lit(-360.0))).otherwise(array(lit(0.0)))
    val b = df.select(col(idCol).as("id_b"), col(phashCol).as("pb"),
        col(lngCol).as("lb_lng"), col(latCol).as("lb_lat"))
      .withColumn("__cell", explode(array_distinct(flatten(transform(shifts,
        sh => hex_kring(hex_cell(col("lb_lng") + sh, col("lb_lat"), lit(res)), lit(1)))))))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", expr("shiftrightunsigned(pb, __band * 16) & 65535"))
    a.join(b, Seq("__cell", "__band", "__bh"))
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

  /** STREAMING near-dup dedup — the streaming twin of [[minhashPairs]] (and
    * of the catalog's "near" mode): band buckets are the state. Every doc
    * claims its `bands` minhash band buckets; `dropDuplicates` keeps the
    * FIRST claimant of each bucket, and a doc survives iff it owns ALL of
    * its buckets — a later near-dup shares >= 1 bucket with an earlier doc
    * (the banding recall curve) and fails the ownership count.
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
    * state is watermark-GC'd (`dropDuplicatesWithinWatermark`); without it
    * state grows with distinct buckets. Emit the result in update mode (the
    * final ownership count is a streaming aggregation). The same holds on
    * batch frames: identical results to streaming when the frame has no
    * co-arriving band-sharing pair (e.g. exact-dup-free AND near-dup-free
    * within the single batch).
    *
    * Output: the surviving (idCol, textCol) rows. */
  def nearDupStreaming(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
      eventTime: Option[(String, String)] = None): DataFrame = {
    val r = numHashes / bands
    val banded = df
      .withColumn("__sig", minhash_sig(col(textCol), lit(numHashes), lit(shingle)))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", xxhash64(col("__band"), slice(col("__sig"), col("__band") * r + 1, lit(r))))
      .drop("__sig")
    val winners = eventTime match {
      case Some((c, delay)) =>
        banded.withWatermark(c, delay).dropDuplicatesWithinWatermark("__band", "__bh")
      case None => banded.dropDuplicates("__band", "__bh")
    }
    winners.groupBy(col(idCol), col(textCol))
      .agg(count(lit(1)).as("__owned"))
      .where(col("__owned") === bands)
      .select(col(idCol), col(textCol))
  }

  // ------------------------------------------------ incremental catalog

  /** Narrow exact signature per doc: (id, xxhash64(text), length). The id
    * keeps its own type — string doc ids (URLs) catalog as-is. */
  private def exactSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      xxhash64(col(textCol)).as("h"), length(col(textCol)).as("len"))

  /** LSH band signatures per doc: (id, band, bh) — the same band-hash
    * formula as [[minhashPairs]], so catalog and in-frame dedup agree. */
  private def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                             numHashes: Int, bands: Int, shingle: Int): DataFrame = {
    val r = numHashes / bands
    df.select(col(idCol).as("id"),
        minhash_sig(col(textCol), lit(numHashes), lit(shingle)).as("__sig"))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bh", xxhash64(col("band"), slice(col("__sig"), col("band") * r + 1, lit(r))))
      .select("id", "band", "bh")
  }

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
    * `params` is the commit marker: it is deleted before the signature
    * tables are (re)written and written last, so a build that dies midway
    * — a rebuild over an existing catalog included — leaves no marker. */
  def writeCatalog(df: DataFrame, idCol: String, textCol: String, path: String,
                   numHashes: Int = 128, bands: Int = 16, shingle: Int = 5,
                   withMinhash: Boolean = true): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val marker = new org.apache.hadoop.fs.Path(s"$path/params")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, true)
    // signature tables are independent actions over disjoint paths —
    // submit them concurrently (guide §2.6) so one write's task tail
    // back-fills the other's; params goes LAST as the catalog's commit
    // marker (guard resumes on params/_SUCCESS: a crash mid-build leaves
    // no marker and the whole catalog rebuilds)
    graft.Par.run(
      (() => exactSignatures(df, idCol, textCol)
        .write.mode("overwrite").parquet(s"$path/exact")) +:
      (if (withMinhash)
        Seq(() => bandSignatures(df, idCol, textCol, numHashes, bands, shingle)
          .write.mode("overwrite").parquet(s"$path/minhash"))
      else Seq.empty): _*)
    Seq((numHashes, bands, shingle, withMinhash))
      .toDF("num_hashes", "bands", "shingle", "with_minhash")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Append a (deduplicated) shard's signatures to an existing catalog,
    * using the catalog's own stored parameters (an exact-only catalog gets
    * exact signatures only). */
  def appendToCatalog(df: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val p = catalogParams(df.sparkSession, path)
    exactSignatures(df, idCol, textCol).write.mode("append").parquet(s"$path/exact")
    if (p.withMinhash)
      bandSignatures(df, idCol, textCol, p.numHashes, p.bands, p.shingle)
        .write.mode("append").parquet(s"$path/minhash")
  }

  /** Catalog MAINTENANCE: compaction + self-dedup. Repeated
    * [[appendToCatalog]] calls accumulate small parquet files (one batch of
    * files per append — the classic small-files creep) AND duplicate
    * signature rows: a re-crawled doc appended twice matches itself forever,
    * and every duplicate row inflates every future [[dedupAgainst]] probe.
    * This rewrites both signature tables with exact-duplicate rows dropped
    * (`distinct()` — identical (id, h, len) / (id, band, bh) rows collapse;
    * a same-id doc whose TEXT changed keeps both signatures, which is
    * correct: either matches a future re-crawl) and file counts bounded by
    * a range-repartition on the probe keys (h; band, bh), which also gives
    * parquet min/max stats a sorted layout to prune against.
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
  def compactCatalog(spark: org.apache.spark.sql.SparkSession, path: String,
                     filesPerTable: Int = 4): Unit = {
    require(filesPerTable > 0, s"filesPerTable must be positive, got $filesPerTable")
    swapSubdir(path, "exact") { out =>
      spark.read.parquet(s"$path/exact").distinct()
        .repartitionByRange(filesPerTable, col("h"))
        .write.parquet(out)
    }
    swapSubdir(path, "minhash") { out =>
      spark.read.parquet(s"$path/minhash").distinct()
        .repartitionByRange(filesPerTable, col("band"), col("bh"))
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

  /** A catalog written before `with_minhash` was recorded always carried
    * the minhash table. */
  private def catalogParams(spark: org.apache.spark.sql.SparkSession, path: String): CatalogParams = {
    val p = spark.read.parquet(s"$path/params").head
    CatalogParams(p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"), p.getAs[Int]("shingle"),
      !p.schema.fieldNames.contains("with_minhash") || p.getAs[Boolean]("with_minhash"))
  }

  /** Parameters of a catalog about to be probed by minhash bands. */
  private def nearParams(spark: org.apache.spark.sql.SparkSession, path: String): CatalogParams = {
    val p = catalogParams(spark, path)
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
    val matched = (mode match {
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
    }).distinct()
    shard.join(broadcast(matched.withColumnRenamed("__sid", "__matched_id")),
      col(idCol) === col("__matched_id"), "left_anti")
  }

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
      threshold: Double = 0.6): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, numHashes, bands, shingle, threshold)
    // anti-join on the DUP ids (pairs-only clustering): rows in no pair are
    // singletons and survive untouched, without dragging the whole corpus id
    // set through the label-propagation rounds as a universe would
    val dups = clusters(pairs, idCol).where(col("is_dup")).select(col(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** Embedding-side twin of [[nearDedupCorpus]]: [[embeddingPairs]] →
    * [[clusters]] → keep one canonical row per cosine-near-dup cluster. */
  def nearDedupEmbeddings(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 16, bands: Int = 8,
      seed: Long = 42L): DataFrame = {
    val pairs = embeddingPairs(df, idCol, vecCol, threshold, bits, bands, seed)
    val dups = clusters(pairs, idCol).where(col("is_dup")).select(col(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  // --------------------------------- perceptual (image) catalog dedup

  /** Banded signatures of a 64-bit PERCEPTUAL hash: (id, band, bh, ph) —
    * `bands` contiguous (64/bands)-bit slices, the [[geoPhashPairs]]
    * banding. Pigeonhole: any pair within hamming < bands shares at least
    * one intact band, so with the default 4×16-bit bands recall is 1.0 at
    * the hamming ≤ 3 verify threshold. The full hash rides along for the
    * verify — 20 bytes/row total, never the payload. */
  private def phashBands(df: DataFrame, idCol: String, hashCol: String,
                         bands: Int): DataFrame = {
    require(bands >= 2 && 64 % bands == 0, s"bands must divide 64 (>=2), got $bands")
    val width = 64 / bands
    val mask  = (1L << width) - 1
    df.select(col(idCol).as("id"), col(hashCol).cast("long").as("ph"))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bh", expr(s"shiftrightunsigned(ph, band * $width) & ${mask}L"))
      .select("id", "band", "bh", "ph")
  }

  /** [[writeCatalog]]'s PERCEPTUAL twin for image corpora: persist the
    * banded 64-bit perceptual-hash signatures (e.g. the pixel-computed
    * `image_ahash`, or any phash) of the accepted corpus, so every future
    * image shard dedups against the accumulated store WITHOUT re-reading a
    * byte of historical payload — at 10^12 images the payloads are ~100 TB
    * while this catalog is ~80 GB of (id, band, bh, ph) rows. Layout:
    * `params` one row (bands); `phash` (id, band, bh, ph). Grow with
    * [[appendToPerceptualCatalog]]. */
  def writePerceptualCatalog(df: DataFrame, idCol: String, hashCol: String,
                             path: String, bands: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(bands).toDF("bands").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
    phashBands(df, idCol, hashCol, bands)
      .write.mode("overwrite").parquet(s"$path/phash")
  }

  /** Append an accepted shard's perceptual signatures, using the catalog's
    * stored band count (compact with [[compactCatalog]]-style rewrites if
    * appends accumulate small files). */
  def appendToPerceptualCatalog(df: DataFrame, idCol: String, hashCol: String,
                                path: String): Unit = {
    val bands = df.sparkSession.read.parquet(s"$path/params").head.getAs[Int]("bands")
    phashBands(df, idCol, hashCol, bands).write.mode("append").parquet(s"$path/phash")
  }

  /** Streaming PERCEPTUAL dedup — [[nearDupStreaming]]'s image twin over a
    * 64-bit perceptual-hash column: each image claims its `bands` hash
    * slices (first arrival wins a (band, bh) bucket — dropDuplicates
    * state) and survives iff it won ALL of them, i.e. a row drops when ANY
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
    val width = 64 / bands
    val mask  = if (bands == 1) -1L else (1L << width) - 1
    val banded = df
      .withColumn("__ph", col(hashCol).cast("long"))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bh", expr(s"shiftrightunsigned(__ph, __band * $width) & ${mask}L"))
      .drop("__ph")
    val winners = eventTime match {
      case Some((c, delay)) =>
        banded.withWatermark(c, delay).dropDuplicatesWithinWatermark("__band", "__bh")
      case None => banded.dropDuplicates("__band", "__bh")
    }
    winners.groupBy(col(idCol), col(hashCol))
      .agg(count(lit(1)).as("__owned"))
      .where(col("__owned") === bands)
      .select(col(idCol), col(hashCol))
  }

  /** Perceptual-catalog MAINTENANCE — [[compactCatalog]]'s twin for the
    * `phash` table: repeated [[appendToPerceptualCatalog]] calls accumulate
    * small parquet files and duplicate (id, band, bh, ph) rows (a re-crawled
    * image appended twice matches itself forever). Rewrites the table with
    * exact-duplicate rows dropped and file count bounded by a range
    * repartition on the probe keys (band, bh) — which also gives parquet
    * min/max stats a sorted layout to prune against — atomically via the
    * same tmp-dir + two-rename swap. */
  def compactPerceptualCatalog(spark: org.apache.spark.sql.SparkSession,
                               path: String, filesPerTable: Int = 4): Unit = {
    require(filesPerTable > 0, s"filesPerTable must be positive, got $filesPerTable")
    swapSubdir(path, "phash") { out =>
      spark.read.parquet(s"$path/phash").distinct()
        .repartitionByRange(filesPerTable, col("band"), col("bh"))
        .write.parquet(out)
    }
  }

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
    val bands = spark.read.parquet(s"$catalogPath/params").head.getAs[Int]("bands")
    val sig = phashBands(shard, idCol, hashCol, bands)
      .withColumnRenamed("id", "__sid").withColumnRenamed("ph", "__sph")
    val matched = spark.read.parquet(s"$catalogPath/phash")
      .join(broadcast(sig), Seq("band", "bh"))
      .where(bit_count(col("ph").bitwiseXOR(col("__sph"))) <= maxHamming)
      .select("__sid").distinct()
    shard.join(broadcast(matched.withColumnRenamed("__sid", "__matched_id")),
      col(idCol) === col("__matched_id"), "left_anti")
  }
}
