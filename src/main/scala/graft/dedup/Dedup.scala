package graft.dedup

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecText
import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline, each designed as
  * a shuffle-minimal distributed plan:
  *
  *  - exact: one hash-shuffle on the fingerprint (the minimum possible);
  *  - MinHash+LSH: signatures are map-side only; the band→bucket join
  *    shuffles on (band, bucket) — candidates, never the full cross
  *    product. This is the standard shingle→minhash→band pipeline
  *    (Broder; Leskovec et al., Mining of Massive Datasets ch.3);
  *  - SimHash: 64-bit signature map-side; candidates via banded prefix
  *    buckets, verified by hamming distance;
  *  - n-gram Jaccard: blocked self-join (equality keys) + exact
  *    array_intersect/array_union verify — no O(n²) pairs at scale.
  *
  * MinHash and SimHash signatures use md5-derived hashing
  * (VecTextKernels.minhash / md5U64) — deliberately
  * engine-REPRODUCIBLE, so the full LSH pipelines (signature → band
  * bucket → verified pair) are oracle-checkable in DuckDB, and
  * signatures cached by one system can be trusted by another.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per normalized-text fingerprint.
    * Aggregation form (min over groups), not window form — cheaper: the
    * shuffle carries partial minima, not full rows.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, survivor rows: the deduplicated corpus itself. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  // ---------------------------------------------------------------- MinHash

  /** Word k-shingles of a document (distinct runs of k consecutive tokens
    * joined by a space), via the single-pass VecText.WordShingles
    * expression (the HOF slice/concat formulation costs ~8µs per position
    * interpreted; this is one tight loop per row).
    */
  def shingles(text: Column, k: Int = 3): Column =
    VecText.word_shingles(TextAnalysis.tokens(text), k)

  /** MinHash signature: numPerm universal-hash permutations minimized over
    * the shingle set, as a single-pass custom Catalyst expression
    * (graft.functions.VecText.MinHashSignature) — one tight JVM loop per
    * row instead of numPerm interpreted lambda traversals. Map-side only.
    */
  def minhashSignature(shingleCol: Column, numPerm: Int = 64): Column =
    VecText.minhash_sig(shingleCol, numPerm)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`;
    * the bucket key is the band's signature slice itself (joined to one
    * string) — no re-hash needed, and the key is reproducible by any
    * engine that reproduces the signatures. Docs sharing any
    * (band, bucket) are candidate pairs. bands=16 × rows=4 over 64 perms
    * targets J≈0.7+.
    */
  def lshBuckets(docsWithSig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    docsWithSig.select(
      col("doc_id"), col("sig"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",",
            slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Full MinHash-LSH near-dup pipeline: shingle → signature → band join →
    * exact-Jaccard verify on the candidate pairs only. Returns verified
    * pairs (doc_id_a < doc_id_b) with their exact shingle Jaccard.
    *
    * Scale: the only shuffles are (band,bucket) for candidates and the
    * final distinct on pairs; signatures never leave their partitions
    * until a bucket collides.
    */
  def minhashNearDups(
      docs: DataFrame,
      k: Int = 2,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val (candidates, withSig) = minhashCandidates(docs, k, numPerm, bands)
    val sh = withSig.select(col("doc_id"), col("sh"))
    verifyJaccard(candidates, sh, threshold)
  }

  /** The banded-minhash candidate stage shared by the verify variants:
    * (candidate id pairs, per-doc shingle+signature table).
    */
  private def minhashCandidates(docs: DataFrame, k: Int, numPerm: Int,
      bands: Int): (DataFrame, DataFrame) = {
    // bands must tile the signature: bands > numPerm gives rowsPerBand=0,
    // whose empty band slices put EVERY doc in one bucket per band — a
    // silent O(n²) candidate cross-product (results stay correct through
    // verify, but the job goes quadratic)
    require(bands >= 1 && bands <= numPerm && numPerm % bands == 0,
      s"bands must divide numPerm with bands <= numPerm, got bands=$bands numPerm=$numPerm")
    // ONE tokenize→shingle→minhash pass: both sides of the bucket
    // self-join and the caller's verify stage read the pinned relation
    // (the a-side repartition defeats ReusedExchange, so unpinned this
    // kernel ran once per consumer — the prefixJaccardPairs finding,
    // here on the flagship 100 TB near-dup path). Pin lifetime follows
    // the returned frames; ContextCleaner reclaims on drop.
    // Scans.spread: the shingle+minhash kernel is the expensive per-row
    // work here, and the sf-scale fixture is one parquet row group — a
    // single-task scan (guide §2.5; no-op at scale, see Scans)
    val withSig = graft.Scans.spread(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), shingles(col("text"), k).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numPerm))
      .pipe(graft.Staging.pin)
    val rowsPerBand = numPerm / bands
    val buckets = lshBuckets(withSig.select("doc_id", "sig"), bands, rowsPerBand)
    // spread the fan-out join across the cluster (see blockedJaccardPairs)
    val para = docs.sparkSession.sparkContext.defaultParallelism
    val a = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"))
      .repartition(para)
    val b = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()
    (candidates, withSig)
  }

  /** Edit-distance-verified near-duplicates: the same banded-minhash
    * candidate stage as [[minhashNearDups]], verified with Levenshtein
    * distance instead of shingle Jaccard — the gate to use when
    * CHARACTER-level closeness is the dedup criterion (OCR noise,
    * template drift, small insertions), where token-set Jaccard is
    * blind to ordering and double-counts moved spans.
    *
    * Verify cost is the banded threshold DP — Spark's 3-argument
    * `levenshtein(a, b, threshold)` computes O(len·maxDist) per pair,
    * not O(len²), and returns -1 past the bound, so hopeless pairs pay
    * only the banded scan. Candidate texts reach the verify through two
    * keyed joins against the document store (only candidate pairs' texts
    * move — the corpus itself never fans out). The distance is an exact
    * integer in both engines (classic unit-cost DP), so the operator
    * hash-checks end to end.
    */
  def editDistanceNearDups(
      docs: DataFrame,
      k: Int = 2,
      numPerm: Int = 64,
      bands: Int = 16,
      maxDist: Int = 5): DataFrame = {
    val (candidates, _) = minhashCandidates(docs, k, numPerm, bands)
    val texts = docs.select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("doc_id_a"), col("text").as("text_a")),
        Seq("doc_id_a"))
      .join(texts.select(col("doc_id").as("doc_id_b"), col("text").as("text_b")),
        Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** Exact-Jaccard verification of candidate pairs, engineered for a large
    * candidate volume (the length-blocked variant yields ~3M pairs at
    * sf0.1, ~n²·w density at scale):
    *  - each document's shingle set is compacted ONCE to a sorted distinct
    *    xxhash64 array (VecText.HashSet64) — ~100 longs, not ~100 strings;
    *  - the per-doc table is broadcast, so candidate pair rows join
    *    map-side and never shuffle;
    *  - the size-ratio bound (J ≤ min/max for distinct sets, compared in
    *    double against the raw threshold — an integer coarsening would
    *    over-prune non-multiple-of-0.1 thresholds) prunes before the scan;
    *  - each surviving pair pays one allocation-free merge-scan
    *    (VecText.JaccardSorted64).
    * At cluster scale, if the doc side outgrows broadcast, drop the hint:
    * the same plan runs as a shuffled hash join on doc_id.
    */
  /** The size-ratio prune shared by every candidate/verify stage:
    * J ≤ min/max for distinct sets, so a pair can only reach the
    * decimal-rounded threshold when min ≥ max·(t − 1e-6). ONE margin
    * policy for the whole pipeline (see [[VecTextKernels
    * .jaccardThresholdSorted64]]): the final filter rounds to 6 dp, so
    * pairs with true J ∈ [t − 5e-7, t) survive it — any stage that can
    * DISCARD a pair must therefore prune at the relaxed threshold, or a
    * round-up survivor silently vanishes for mega-element sets (J's
    * rational granularity only protects below ~10⁵ elements). Compared
    * directly in double — a coarsened integer form over-prunes
    * thresholds that are not multiples of 0.1.
    */
  private[graft] def sizeRatioKeep(sa: Column, sb: Column, threshold: Double): Column = {
    val t = math.max(0.0, threshold - 1e-6)
    least(sa, sb).cast("double") >= greatest(sa, sb).cast("double") * t
  }

  /** (doc_id, sorted hash set, shingle count) — the relation every
    * Jaccard verify/candidate stage reads. Factored out so callers that
    * need it MORE THAN ONCE ([[prefixJaccardPairs]]) can pin one copy
    * instead of re-running the tokenize→shingle→hash kernel per consumer.
    */
  private[graft] def hashedSets(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      VecText.hash_set64(col("sh")).as("hs"), size(col("sh")).as("s"))

  private def verifyJaccard(candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyJaccardHashed(candidates, hashedSets(sh), threshold)

  private[graft] def verifyJaccardHashed(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    // ONE broadcast relation probed by both pair sides: the a/b joins
    // reference the same aliased frame, so the physical plan builds a
    // single BroadcastExchange and reuses it (plan-guarded) — the
    // hash_set64 pass and the broadcast pay once, not twice
    val hashed = broadcast(sets.select(col("doc_id"), col("hs"), col("s")))
    val ha = hashed.as("ha")
    val hb = hashed.as("hb")
    candidates
      .join(ha, col("doc_id_a") === col("ha.doc_id"))
      .join(hb, col("doc_id_b") === col("hb.doc_id"))
      .filter(sizeRatioKeep(col("ha.s"), col("hb.s"), threshold))
      // threshold-gated merge-scan: hopeless pairs (the overwhelming
      // majority of any candidate stream) abort at ~25% of the scan via
      // the required-overlap bound and surface as -1, which the decimal
      // filter drops; survivors score bit-identically to the full scan
      .withColumn("jaccard",
        VecText.jaccard_threshold_sorted64(col("ha.hs"), col("hb.hs"), threshold)
          .cast("decimal(18,6)"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard").cast("double").as("jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over tokens: sum per-bit votes of each token's
    * md5-derived hash, take the sign. Single-pass custom expression
    * (VecText.SimHash64) — map-side only, engine-reproducible.
    */
  def simhash(text: Column): Column =
    VecText.simhash64(TextAnalysis.tokens(text))

  /** 128-bit SimHash as two 64-bit words [w0, w1]; w0 equals [[simhash]]
    * (both vote on md5 hex 1-16), w1 votes on hex 17-32.
    */
  def simhashWide(text: Column): Column =
    VecText.simhash_wide(TextAnalysis.tokens(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup — the hardened 128-bit path. Candidates share one
    * of four 32-BIT bands (any pair within hamming ≤ 3 must agree on ≥1
    * of 4 bands — pigeonhole, so the candidate stage is still EXHAUSTIVE
    * for the ≤3 guarantee), verified by full 128-bit hamming distance.
    *
    * Scale: the 64-bit variant's 16-bit bands put ~n²/2^16 random pairs
    * in each band bucket — a quadratic cliff on web-scale low-entropy
    * corpora. 32-bit buckets divide that density by another 2^16
    * (~n²/2^32 per band): at n = 10^9 docs the expected random
    * collisions drop from ~10^13 to ~10^8 — linear-territory. Same
    * number of bands, same pigeonhole bound, one extra signature word.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val mask32 = lit(0xFFFFFFFFL)
    // NO Scans.spread here (round-20 A/B): the simhash kernel is cheap
    // enough that the spread exchange cost more than it saved
    // (0.55 -> 0.65 s measured) — unlike the minhash family's kernel
    val sigs = docs
      .select(col("doc_id"), simhashWide(col("text")).as("sw"))
      .select(col("doc_id"),
        element_at(col("sw"), 1).as("w0"), element_at(col("sw"), 2).as("w1"))
    val banded = sigs.select(col("doc_id"), col("w0"), col("w1"),
      posexplode(array(
        col("w0").bitwiseAND(mask32),
        shiftrightunsigned(col("w0"), 32),
        col("w1").bitwiseAND(mask32),
        shiftrightunsigned(col("w1"), 32))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_id_a"),
      col("w0").as("w0_a"), col("w1").as("w1_a"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_id_b"),
      col("w0").as("w0_b"), col("w1").as("w1_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (hamming(col("w0_a"), col("w0_b")) + hamming(col("w1_a"), col("w1_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The previous 64-bit SimHash near-dup (4×16-bit bands) — kept as the
    * ScaleProbe comparison baseline for the candidate-density cliff the
    * 128-bit [[simhashNearDups]] closes.
    */
  def simhashNearDups64(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = docs.select(col("doc_id"), simhash(col("text")).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_id_a"), col("sig").as("sig_a"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        hamming(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------------- Jaccard

  /** Blocked n-gram Jaccard: candidate pairs share at least one of two
    * staggered length buckets (width 64, offset 32 — any two docs within
    * 32 chars of each other are guaranteed to share a bucket); each
    * candidate is verified with exact bigram-shingle Jaccard. Equality
    * blocking keys keep the join shuffled-hash at any scale, and the
    * whole thing is SQL-expressible → oracle-checked.
    *
    * Scale honesty (measured, SURVEY §15.1/§16): the candidate volume is
    * BY DESIGN quadratic in per-bucket occupancy (×100 candidates for
    * ×10 docs at the same length distribution) — this is the
    * oracle-checkable exact variant; the 100 TB near-dup path of record
    * is [[minhashNearDups]]. Prefix filtering was measured as no rescue
    * on this corpus shape ([[prefixJaccardPairs]] docs); what does pay is
    * the threshold-gated verify (verifyJaccard), which cuts the dominant
    * merge-scan ~4× on hopeless pairs with bit-identical survivors.
    */
  def blockedJaccardPairs(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    // NO Scans.spread here (round-20 A/B): the bigram-shingle kernel is
    // cheap; the spread exchange regressed this family 0.31 -> 0.47 s
    val sh = docs.select(col("doc_id"), col("n_chars"),
      shingles(col("text"), 2).as("sh"))
    val bucketed = sh.select(col("doc_id"), col("n_chars"),
      explode(array_distinct(array(
        expr("n_chars div 64"), expr("(n_chars + 32) div 64")))).as("bucket"))
    val a = bucketed.select(col("bucket"), col("doc_id").as("doc_id_a"),
      col("n_chars").as("ca"))
    val b = bucketed.select(col("bucket"), col("doc_id").as("doc_id_b"),
      col("n_chars").as("cb"))
    // Dedup-free pair emission: a pair sharing two buckets would appear
    // twice; instead of a 3M-row DISTINCT shuffle, emit each pair only at
    // the SMALLEST bucket both docs share — computable inline from the two
    // n_chars values, so the candidate stream never needs a shuffle.
    val a1 = expr("ca div 64");  val a2 = expr("(ca + 32) div 64")
    val b1 = expr("cb div 64");  val b2 = expr("(cb + 32) div 64")
    val minShared = least(
      when(a1 === b1 || a1 === b2, a1),
      when(a2 === b1 || a2 === b2, a2))
    // The broadcast-join pipeline preserves the left side's partitioning,
    // and a small corpus can arrive as ONE file split — which would put
    // the entire candidate fan-out (~n²·w rows) on one task. Spread the
    // pre-fan-out side across the cluster first: 10k skinny rows shuffled
    // so millions of pair-verifications parallelize.
    val para = docs.sparkSession.sparkContext.defaultParallelism
    val candidates = a.repartition(para).join(b, Seq("bucket"))
      .filter(col("doc_id_a") < col("doc_id_b") && col("bucket") === minShared)
      .select("doc_id_a", "doc_id_b")
    verifyJaccard(candidates, sh.select(col("doc_id"), col("sh")), threshold)
  }

  /** EXHAUSTIVE n-gram Jaccard pairs — every pair with J ≥ threshold,
    * with no length window — via prefix-filter candidate generation
    * (the All-Pairs / PPJoin prefix principle, Bayardo et al. WWW'07;
    * the distributed formulation follows Vernica et al. SIGMOD'10): a
    * pair with J ≥ t over distinct sets must share ≥1 element of both
    * docs' first |set| − ⌈t·|set|⌉ + 1 elements under ANY global total
    * order, so an equi-join on prefix elements is a complete candidate
    * stage even though no pair of documents is ever enumerated blindly.
    * This is the operator to reach for when near-dups may differ in
    * length (truncations, concatenations) — [[blockedJaccardPairs]]'s
    * 32-char window is blind to those by construction.
    *
    * Canonical order: rare-by-hash, then heavy-hitters-by-hash, from a
    * driver-bounded heavy-hitter set (df ≥ freqCut, capped at
    * maxFreqSet) shipped as one plan literal — a rare prefix element e
    * then contributes < freqCut·df(e) join rows, bounding candidates by
    * freqCut × Σ|set| (corpus-linear) plus the heavy-hitter tail, which
    * only reaches prefixes of boilerplate-dominated docs (AQE skew-join
    * territory). MEASURED trade-off on the synthetic fixture corpus
    * (tools.PrefixProbe): template-generated docs share "rare" bigrams
    * endemically, so prefix filtering prunes only ~2× over length
    * blocking there — on natural Zipf-distributed corpora the prefix
    * principle is the standard exact path. The spec pins equality with
    * a brute-force all-pairs replay and with degenerate canonical
    * orders (any total order is complete).
    */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double = 0.6,
      freqCut: Long = 32, maxFreqSet: Int = 1 << 17): DataFrame = {
    // NO Scans.spread here (round-20 A/B): same finding as
    // blockedJaccardPairs — the exchange cost more than the bigram
    // kernel win (1.08 -> 1.38 s measured)
    val sh = docs.select(col("doc_id"), shingles(col("text"), 2).as("sh"))
    // ONE corpus kernel pass: pin the hashed sets, and let the
    // heavy-hitter aggregate, both prefix-explode join sides, and the
    // verify broadcast all read the pinned relation — previously each
    // re-ran tokenize→shingle→hash (four linear passes). The pin's
    // lifetime follows the returned frame: the lazy result references
    // the pinned leaf, so its blocks are reclaimed by the ContextCleaner
    // once the caller drops the frame (an explicit unpin here would
    // free blocks the un-materialized result still needs).
    val sets = graft.Staging.pin(hashedSets(sh))
    verifyJaccardHashed(
      prefixJaccardCandidates(sets, threshold, freqCut, maxFreqSet),
      sets, threshold)
  }

  /** The prefix-filter candidate stage of [[prefixJaccardPairs]]: id
    * pairs sharing ≥1 canonical-prefix element, pre-pruned by the
    * size-ratio bound (implied by J ≥ t, so still exhaustive). Exposed
    * for the spec and PrefixProbe to measure candidate volumes.
    *
    * Takes the [[hashedSets]] relation, NOT raw shingles: the candidate
    * stage reads it three times (heavy-hitter aggregate + both
    * prefix-explode join sides), so the caller decides whether it is a
    * pinned one-pass materialization ([[prefixJaccardPairs]] pins) or a
    * recompute-per-consumer lazy frame (the probes, where candidate
    * counting is the whole job).
    */
  private[graft] def prefixJaccardCandidates(sets: DataFrame, threshold: Double,
      freqCut: Long, maxFreqSet: Int): DataFrame = {
    val hs = sets.select(col("doc_id"), col("hs"))
    val freqSet = frequentShingleHashes(hs, freqCut, maxFreqSet)
    // spread the pre-fan-out side: a small corpus can arrive as ONE file
    // split, which would put the whole prefix explode on one task
    val para = sets.sparkSession.sparkContext.defaultParallelism
    val pref = hs.repartition(para).select(
      col("doc_id"), size(col("hs")).as("s"),
      posexplode(VecText.jaccard_prefix(
        col("hs"), VecText.sorted_set_lit(freqSet), threshold)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "e")
    val a = pref.select(col("e"), col("doc_id").as("doc_id_a"),
      col("s").as("sa"), col("p").as("pa"))
    val b = pref.select(col("e"), col("doc_id").as("doc_id_b"),
      col("s").as("sb"), col("p").as("pb"))
    // PPJoin positional filter: at the FIRST canonical-order element a
    // qualifying pair shares, every other common element lies in both
    // suffixes, so overlap ≤ 1 + min(remaining-after-e) must still reach
    // the required o ≥ t′/(1+t′)·(sa+sb). Applying the test at EVERY
    // shared instance keeps that first instance (completeness) while
    // pruning most of the duplicate emissions before the distinct.
    val tp = if (threshold > 1e-6) threshold - 1e-6 else 0.0
    val oReq = ceil((col("sa") + col("sb")).cast("double") * (tp / (1.0 + tp))
      - lit(1e-9))
    a.join(b, Seq("e"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      // shared size-ratio bound (relaxed-threshold policy — see
      // sizeRatioKeep) before the distinct, so impossible pairs never
      // shuffle
      .filter(sizeRatioKeep(col("sa"), col("sb"), threshold))
      .filter(lit(1) + least(col("sa") - 1 - col("pa"), col("sb") - 1 - col("pb"))
        >= oReq)
      .select("doc_id_a", "doc_id_b").distinct()
  }

  /** Corpus heavy-hitter shingle hashes (document frequency ≥ freqCut),
    * most-frequent-first up to maxFreqSet, returned hash-sorted. The
    * collect is driver-bounded by maxFreqSet BY CONSTRUCTION (1 MiB of
    * longs at the default cap) — and a truncated set only weakens the
    * candidate bound, never correctness: any total order is complete.
    */
  private def frequentShingleHashes(hs: DataFrame, freqCut: Long,
      maxFreqSet: Int): Array[Long] = {
    val arr = hs.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= freqCut)
      .orderBy(col("df").desc, col("h"))
      .limit(maxFreqSet)
      .select("h").collect().map(_.getLong(0))
    java.util.Arrays.sort(arr)
    arr
  }

  // ------------------------------------------------------------ clustering

  /** Connected components over near-dup pairs: pairwise dedup output is a
    * GRAPH (a~b, b~c), and keep-one-per-pair policies applied pairwise can
    * drop both or keep transitive duplicates. The canonical form is one
    * cluster id (= min doc_id of the component) per document; survivors
    * are `doc_id === cluster_id`.
    *
    * Two execution paths behind one contract (both produce the same
    * min-id labeling; the spec runs both and asserts equality):
    *
    *  - **small-graph fast path** (edge count ≤ `driverEdgeLimit`):
    *    union-find on the driver. Near-dup EDGES — not the corpus — are
    *    what comes back, and on every corpus this engine has met they
    *    are a vanishing fraction (159 pairs per 500 docs at sf0.01).
    *    The JVM cost is boxed-object cost, not payload cost: 1M edges
    *    is ~50 MB of tuples plus ~150 MB of boxed HashMap entries over
    *    up to 2M nodes — comfortable on any realistic driver, which is
    *    why the default bound is 1M, not the naive bytes-per-edge
    *    estimate. Distributed min-label propagation pays
    *    O(diameter/log) ROUNDS of fixed job overhead on a tiny table —
    *    seconds of scheduler time to move kilobytes (18 rounds /
    *    15.7 s at sf0.1). Adaptive cutover to a local algorithm below
    *    an explicit size bound is the same design as AQE's
    *    local-shuffle-read, and the bound keeps driver memory honest.
    *  - **distributed loop** (above the limit): min-label propagation
    *    with one pointer-jump per round (label ← label(label): labels
    *    point at endpoint nodes and label(u) ≤ u, so the hop only
    *    lowers; it roughly doubles how far a label reaches per round,
    *    halving rounds vs plain propagation — O(log d) for
    *    chain-shaped components). Each round is one join + partial-min
    *    aggregate + one tiny self-join; `localCheckpoint` truncates
    *    lineage so round N doesn't replay rounds 1..N-1. (Stacking
    *    MORE hops in one round is a trap: nested self-joins make
    *    Catalyst's sizeInBytes estimate the PRODUCT of the copies, and
    *    stats estimation itself blows up in BigInteger arithmetic —
    *    measured minutes of driver CPU at 3 hops.) For web-scale or
    *    hub-skewed pair graphs the alternating large-star/small-star
    *    formulation is IMPLEMENTED as [[starContractionComponents]]
    *    (spec'd label-equal to both paths here).
    *
    * The final singleton join broadcasts the endpoint labels
    * (duplicates are a small fraction of a deduped corpus); if a corpus
    * ever has broadcast-breaking duplicate volume, drop the hint and
    * the same plan runs as a shuffled join.
    */
  def connectedComponents(
      docs: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 25,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    // materialize the (possibly expensive) pairwise stage ONCE — deriving
    // both edge directions from an unmaterialized plan would execute it
    // twice (the verify stage is map-side, so there is no exchange for
    // Spark to reuse between the two union branches)
    val p = graft.Staging.pin(pairs)
    val labels =
      if (p.count() <= driverEdgeLimit) {
        val l = unionFindLocal(p); graft.Staging.unpin(p); l
      } else propagateLabels(p, maxIter)
    docs.select("doc_id")
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Driver union-find over a materialized edge table: path-halving DSU,
    * then every root remapped to its component's min id — the same
    * labeling the distributed loop converges to, independent of edge
    * order. Only called under [[connectedComponents]]'s explicit edge
    * bound.
    */
  private def unionFindLocal(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    p.select(col("doc_id_a").cast("long"), col("doc_id_b").cast("long"))
      .as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { v =>
      val r = find(v)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, v), v)
    }
    val out = parent.keys.toSeq.sorted.map(v => (v, minOfRoot(find(v))))
    out.toDF("doc_id", "cluster_id").repartition(1)
  }

  /** Distributed min-label propagation (see [[connectedComponents]]
    * Scaladoc for the round structure and why exactly one pointer-jump
    * per round).
    */
  private def propagateLabels(p: DataFrame, maxIter: Int): DataFrame = {
    val edges = p
      .select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      .union(p.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
    // iterate over edge ENDPOINTS only — near-dup pairs are a vanishing
    // fraction of the corpus, so the per-round join cost is O(|pairs|),
    // not O(|corpus|); singletons join back once at the end
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .pipe(graft.Staging.pin)
    // the frame Staging.pin returned for the current round — unpin must
    // target THIS frame, not a projection derived from it: Bridge.leafRdd
    // resolves the checkpoint RDD from the pinned leaf, and unpinning
    // `next.drop("changed")` (a Project over the leaf) would silently
    // release nothing, piling up one checkpoint set per round until GC
    var pinned = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("dst_label").as("nbr_min"))
      val hooked = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_label"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"))
      // `changed` rides along in the SAME materialization job, so the
      // convergence probe below is a scan of checkpointed partitions, not
      // a second shuffle per round.
      val next = hooked
        .join(hooked.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("parent_label")), Seq("cluster_id"), "left")
        .select(col("doc_id"), col("old_label"),
          least(col("cluster_id"), coalesce(col("parent_label"), col("cluster_id")))
            .as("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") < col("old_label")).as("changed"))
        .pipe(graft.Staging.pin)
      converged = next.filter(col("changed")).isEmpty
      // drop the superseded round's blocks NOW — leaving them to the async
      // ContextCleaner lets O(rounds) checkpoint sets pile up in the block
      // manager (and, under repeated invocation, into later queries' heap)
      graft.Staging.unpin(pinned)
      pinned = next
      labels = next.drop("changed")
      iter += 1
    }
    graft.Staging.unpin(p)
    // fail-loud on a maxIter exit, like starContractionComponents: a
    // non-converged labeling splits components SILENTLY, and a
    // keep-one-per-cluster consumer would then keep several docs from
    // one duplicate cluster with no error anywhere
    require(converged,
      s"min-label propagation did not converge in $maxIter rounds — " +
        "raise maxIter or use starContractionComponents for this graph")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * web-scale formulation [[connectedComponents]]'s scaladoc cites as
    * the alternative to pointer-jumping min-label propagation, now
    * implemented rather than described. Same contract as the other two
    * paths: one row per edge ENDPOINT, `cluster_id` = min doc_id of the
    * component (StarContractionSpec pins three-way equality).
    *
    * Why a third path: the pointer-jumping loop keeps the ORIGINAL edge
    * set and a label table through every round — per-round cost never
    * shrinks, and a high-degree hub re-joins its full edge fan every
    * iteration. Star contraction REWRITES the edge set each round
    * (large-star hangs every larger neighbor off its neighborhood min;
    * small-star re-points the smaller ones), so edges collapse toward
    * their component's star as they go: per-round cost is proportional
    * to the CURRENT frontier, hubs shrink geometrically, and
    * convergence is provably O(log² n) rounds (in practice a handful).
    * The trade: each round shuffles the (shrinking) edge set twice
    * (symmetrize → per-node window min), where pointer-jumping shuffles
    * the fixed edge set once — so min-propagation stays the default for
    * the sparse near-dup graphs this engine typically meets, and star
    * contraction is the path for web-scale or hub-skewed pair graphs.
    *
    * Each round runs inside one job per star operation: the per-node
    * neighborhood minimum is a WINDOW min over the symmetrized edges
    * (no collect_list — a hub's neighborhood never materializes as one
    * array), the emitted edges are filtered projections of the same
    * windowed frame, and rounds are [[graft.Staging]]-pinned with eager
    * unpin of the superseded round (the PageRank OOM lesson).
    * Convergence = the edge set reaching a fixed point: probed cheaply
    * by (count, xxhash64-sum) checksum, CONFIRMED by an exact
    * `exceptAll` only when the checksum matches — the probabilistic
    * probe never decides convergence alone.
    */
  def starContractionComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val uw = Window.partitionBy("u")
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      sym
        .withColumn("m", least(col("u"), min("v").over(uw)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val rows = sym
        .withColumn("m",
          least(col("u"), min(when(col("v") < col("u"), col("v"))).over(uw)))
        .filter(col("v") < col("u"))
      rows.select(col("v").as("u"), col("m").as("v"))
        .union(rows.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    def checksum(edges: DataFrame): (Long, String) = {
      // hash-sum through decimal: ANSI mode makes a long sum of xxhash64
      // values an overflow error, not a wrap
      val r = edges.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var edges = pairs
      .select(col("doc_id_a").cast("long").as("u"), col("doc_id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .pipe(graft.Staging.pin)
    var sig = checksum(edges)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val next = graft.Staging.pin(smallStar(largeStar(edges)))
      val nextSum = checksum(next)
      // checksum match is only the cheap gate; equality is confirmed
      // exactly (both directions covered: equal counts + empty except)
      converged = sig == nextSum &&
        next.exceptAll(edges).isEmpty
      graft.Staging.unpin(edges)
      edges = next
      sig = nextSum
      iter += 1
    }
    // the closing labeling is ONLY valid at the star fixed point — a
    // maxIter exit would label a non-star edge set into silently split
    // components, so fail loudly instead (convergence is O(log² n)
    // rounds; the default budget is far from binding on any real graph)
    require(converged,
      s"starContractionComponents did not converge within $maxIter rounds")
    // at the fixed point every component is a star centered at its min:
    // each node's label is the min over its neighborhood (and itself)
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val labels = graft.Staging.pin(sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("cluster_id")))
    // labels is materialized above — only now is it safe to free the
    // final edge set's blocks (a lazy consumer over unpinned local
    // checkpoints would find its blocks gone)
    graft.Staging.unpin(edges)
    labels
  }

  /** Near-dup clusters of the corpus from the oracle-checkable exact
    * pairwise stage ([[blockedJaccardPairs]]).
    */
  def jaccardClusters(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    connectedComponents(
      docs.select("doc_id"), blockedJaccardPairs(docs, threshold))

  // ----------------------------------------------- substring/passage dedup

  /** Per-position rolling window hashes of a document's tokens: one row
    * per (doc_id, pos, gh) where `gh` is the Rabin-Karp polynomial hash
    * (the [[TextAnalysis.rollingHash]] recurrence — md5-derived token
    * hashes folded mod 2^31-1) of the `window` tokens starting at
    * 0-based position `pos`. Each token is md5-hashed ONCE; the window
    * fold is O(window) integer ops per position. Engine-reproducible,
    * so the whole passage-dedup pipeline replays in SQL.
    */
  private def positionGramHashes(docs: DataFrame, window: Int): DataFrame = {
    val p = lit(2147483647L) // 2^31 - 1, same modulus as rollingHash
    val tokHashes = transform(TextAnalysis.tokens(col("text")),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long") % p)
    // Spark's sequence(a, b) DESCENDS when a > b — guard short documents
    // explicitly instead of emitting phantom positions
    val posStructs = when(size(col("th")) >= window,
      transform(sequence(lit(0), size(col("th")) - window),
        i => struct(i.cast("long").as("pos"),
          aggregate(slice(col("th"), i + 1, lit(window)), lit(0L),
            (acc, x) => (acc * lit(31L) + x) % p).as("gh"))))
      .otherwise(array().cast("array<struct<pos:bigint,gh:bigint>>"))
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokHashes.as("th"))
      .select(col("doc_id"), explode(posStructs).as("z"))
      .select(col("doc_id"), col("z.pos").as("pos"), col("z.gh").as("gh"))
  }

  /** Substring/passage-level dedup: document-level dedup misses repeated
    * PASSAGES — licenses, templated boilerplate, spam chains — living
    * inside otherwise-distinct documents. This operator finds every
    * maximal token span covered by "frequent" window-grams (grams whose
    * corpus-wide occurrence count ≥ `minCount`, counting repeats within
    * a document too) and emits one row per (doc, span) removal:
    * `(doc_id, span_start, span_end, n_grams)` with inclusive 0-based
    * token indices. [[stripSubstringDups]] applies the removals.
    *
    * Scale shape (the [[decontaminate]] discipline, self-indexed):
    * gram hashing is map-side (one md5 pass per token, O(window) fold
    * per position); the frequent-chain index is a count aggregate over
    * gram hashes (partial-agg combines map-side, so the shuffle carries
    * per-partition counts); the index is tiny (boilerplate, by
    * definition rare among distinct grams) and BROADCAST back against a
    * second map-side hashing pass — the corpus never shuffle-sorts for
    * a join. (Each pass opens with a spreading `repartition`, which IS
    * a corpus-text shuffle: it exists because the test input is one
    * file; a deployment scan with real splits should drop it and let
    * input partitioning provide the parallelism.) Only matched
    * positions (sparse) shuffle for the per-doc island-merge window.
    * Two linear corpus scans total, no cache dependency.
    *
    * Span merge is gaps-and-islands: consecutive matched positions
    * (pos - row_number constant) collapse to one span; a span's token
    * end is its last gram start + window - 1.
    */
  def substringDupSpans(docs: DataFrame, window: Int = 8, minCount: Long = 2): DataFrame = {
    val grams = positionGramHashes(docs, window)
    val freq = grams.groupBy("gh").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
      .select("gh")
    val hits = grams.join(broadcast(freq), "gh").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + window - 1).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Apply [[substringDupSpans]] removals: rebuild each document's text
    * from the tokens OUTSIDE every flagged span (the per-doc span list
    * is small — it rides a hash join and an array filter; docs without
    * spans pass through untouched via the left join).
    */
  def stripSubstringDups(docs: DataFrame, window: Int = 8, minCount: Long = 2): DataFrame = {
    val spans = substringDupSpans(docs, window, minCount)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val keep = filter(TextAnalysis.tokens(col("text")),
      (t, i) => !exists(col("spans"), s =>
        i.cast("long") >= s.getField("span_start") &&
          i.cast("long") <= s.getField("span_end")))
    docs.join(spans, Seq("doc_id"), "left")
      // docs without spans keep their ORIGINAL text byte-for-byte — the
      // token rebuild (split + join) would otherwise silently normalize
      // whitespace of documents this operator found nothing in, which
      // byte-level downstream consumers (fingerprints, offsets) would
      // see as a changed corpus
      .withColumn("text", when(col("spans").isNotNull,
        array_join(keep, " ")).otherwise(col("text")))
      .drop("spans")
  }

  // ------------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus documents that share at least
    * `minShared` distinct word bigrams with any benchmark document —
    * training corpora must exclude evaluation data, and substring-level
    * n-gram overlap is the standard detector.
    *
    * Scale shape: the benchmark n-gram index is tiny next to the corpus
    * (eval suites are thousands of docs, the corpus is billions), so it is
    * built once and BROADCAST; the corpus side explodes its shingles
    * map-side and probes the broadcast index with no shuffle. The only
    * shuffle is the per-document hit aggregation, which carries hits only.
    */
  def decontaminate(
      docs: DataFrame,
      isBenchmark: Column,
      minShared: Long = 3): DataFrame =
    decontaminateCorpus(docs.filter(!isBenchmark), docs.filter(isBenchmark), minShared)

  /** Two-input form: probe `corpus` against the n-gram index of
    * `benchmark`. Callers that have already narrowed the corpus (e.g.
    * the curation pipeline probing only gate/dedup survivors — flags
    * outside that set cannot change the result) skip re-shingling
    * everything the gates discarded.
    */
  def decontaminateCorpus(
      corpus: DataFrame,
      benchmark: DataFrame,
      minShared: Long = 3): DataFrame =
    decontaminateWithIndex(corpus, benchmarkNgramIndex(benchmark), minShared)

  /** The distinct (ng, bench_doc_id) shingle index of a benchmark set —
    * the probe side of decontamination, factored out so a STATIC
    * benchmark's index can be built once and persisted across streaming
    * triggers (StreamingCuration) instead of recomputed per batch.
    */
  def benchmarkNgramIndex(benchmark: DataFrame): DataFrame =
    benchmark
      .select(explode(shingles(col("text"), 2)).as("ng"),
        col("doc_id").as("bench_doc_id")).distinct()

  /** [[decontaminateCorpus]] against a prebuilt (possibly cached)
    * [[benchmarkNgramIndex]].
    *
    * The join and distinct-count key is the 64-bit xxhash of the
    * shingle, not the shingle STRING: the matched corpus-shingle ×
    * benchmark-doc stream is the pipeline's dominant shuffle/aggregate
    * working set (the 100×/4 GB memory-envelope probe attributed its
    * ENTIRE ~3 GB spill to this stage), and an 8-byte key cuts those
    * bytes ~3× against ~20-byte bigram strings. countDistinct over the
    * hash equals countDistinct over the strings unless two of a doc's
    * shared shingles collide in 64 bits (≈ 2⁻⁶⁴ per pair — orders below
    * the fixture's verified-by-hash envelope); the n-gram text itself
    * never shuffles.
    */
  def decontaminateWithIndex(
      corpus: DataFrame,
      benchIndex: DataFrame,
      minShared: Long = 3): DataFrame = {
    // spread the pre-fan-out side first (single-file corpus → one task
    // would otherwise carry the whole shingle explode + broadcast probe)
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    val hashedIndex = benchIndex
      .select(xxhash64(col("ng")).as("ngh"), col("bench_doc_id")).distinct()
    corpus.repartition(para)
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("ng"))
      .select(col("doc_id"), xxhash64(col("ng")).as("ngh"))
      .join(broadcast(hashedIndex), "ngh")
      .groupBy("doc_id")
      .agg(countDistinct("ngh").cast("long").as("n_shared_ngrams"),
        countDistinct("bench_doc_id").cast("long").as("n_benchmark_docs"))
      .filter(col("n_shared_ngrams") >= minShared)
  }

  /** The k Bloom positions of an n-gram from ONE md5: position j reads
    * its own disjoint 5-hex-char (20-bit) slice of the digest, mod
    * mBits. One digest instead of k salted digests matters because this
    * runs per corpus SHINGLE on the map side — the md5 work was the
    * dominant cost of the whole Bloom pass (3 salted digests per
    * shingle benched the Bloom variant SLOWER than its exact broadcast
    * twin at sf0.1; one digest makes the prefilter actually cheap).
    * Slices are independent bits of a 128-bit digest, so the k
    * positions keep the independence the false-positive bound assumes.
    * Deterministic → the filter stays engine-replayable.
    */
  private def bloomPositions(ng: Column, k: Int, mBits: Int): Seq[Column] = {
    val h = md5(concat(lit("bloom-"), ng))
    (0 until k).map(j =>
      conv(substring(h, j * 5 + 1, 5), 16, 10).cast("long") % mBits)
  }

  /** The map-side Bloom prefilter stage of [[decontaminateBloom]],
    * exposed for the spec to measure pruning and the superset property:
    * corpus (doc_id, ng) pairs whose k Bloom bits are all set in the
    * benchmark bitset.
    */
  private[graft] def bloomCandidates(
      corpus: DataFrame,
      benchIndex: DataFrame,
      mBits: Int,
      k: Int): DataFrame = {
    val para = corpus.sparkSession.sparkContext.defaultParallelism
    // bitset build: set-bit positions → driver. Bounded by mBits (2^18
    // bits = 32 KiB at the default) REGARDLESS of corpus/benchmark size —
    // index metadata, not data; the same driver pattern as Spark's own
    // DataFrameStatFunctions.bloomFilter.
    val setBits = benchIndex.select(col("ng")).distinct()
      .select(explode(array(bloomPositions(col("ng"), k, mBits): _*)).as("bit"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    setBits.foreach(b => words(b.toInt >> 6) |= 1L << (b.toInt & 63))
    // membership = k codegen'd element_at + bit tests against the constant
    // array literal — no join, no shuffle, no per-row allocation
    val mightContain = (0 until k).map { j =>
      expr(s"(element_at(bits, cast(shiftright(p$j, 6) as int) + 1)" +
        s" & shiftleft(1L, cast(p$j % 64 as int))) != 0")
    }.reduce(_ && _)
    val pos = bloomPositions(col("ng"), k, mBits)
    corpus.repartition(para)
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("ng"))
      .select(Seq(col("doc_id"), col("ng"), lit(words).as("bits"))
        ++ pos.zipWithIndex.map { case (p, j) => p.as(s"p$j") }: _*)
      .filter(mightContain)
      .select("doc_id", "ng")
  }

  /** Bloom-prefiltered decontamination — the shape for when the benchmark
    * n-gram index itself outgrows a broadcast (the full eval-suite union
    * against a 100 TB corpus: billions of distinct n-grams). A fixed-size
    * Bloom bitset (mBits bits, k md5-derived hashes) summarizes the
    * index; the corpus tests its shingles against it MAP-SIDE, and only
    * surviving candidates (true hits + the bounded false-positive
    * trickle, ~(1-e^{-kn/m})^k of probes) reach the exact verify join,
    * whose probe side is now tiny. False positives die in the verify
    * join, so the result is IDENTICAL to [[decontaminateCorpus]] and the
    * operator is oracle-checked against the exact SQL.
    *
    * The verify join is deliberately NOT hinted broadcast: the Bloom
    * pass exists precisely for the regime where the index cannot
    * broadcast — AQE still picks broadcast whenever it does fit.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      minShared: Long = 3,
      mBits: Int = 1 << 18,
      k: Int = 3): DataFrame = {
    require((mBits & (mBits - 1)) == 0 && mBits >= 64 && mBits <= (1 << 20),
      s"mBits must be a power of two in [64, 2^20], got $mBits")
    // k*5 hex chars must fit one 32-char digest (bloomPositions slices)
    require(k >= 1 && k <= 6, s"k must be in [1, 6], got $k")
    val benchIndex = benchmarkNgramIndex(benchmark)
    // same hashed-key verify as decontaminateWithIndex (see its scaladoc
    // for the byte-cut rationale and the 2⁻⁶⁴ collision envelope)
    val hashedIndex = benchIndex
      .select(xxhash64(col("ng")).as("ngh"), col("bench_doc_id")).distinct()
    bloomCandidates(corpus, benchIndex, mBits, k)
      .select(col("doc_id"), xxhash64(col("ng")).as("ngh"))
      .join(hashedIndex, "ngh")
      .groupBy("doc_id")
      .agg(countDistinct("ngh").cast("long").as("n_shared_ngrams"),
        countDistinct("bench_doc_id").cast("long").as("n_benchmark_docs"))
      .filter(col("n_shared_ngrams") >= minShared)
  }
}
