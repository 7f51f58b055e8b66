package graft.dedup

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VecText
import graft.sink.{KeyedUpsertSink, StateWriter}
import graft.text.TextAnalysis

/** Incremental MinHash-LSH near-duplicate detection over a STREAM of
  * arriving documents — the near-dup twin of the exact streaming dedup
  * (EventStream.dedupEvents) and the missing piece between
  * [[Dedup.minhashNearDups]] (batch) and a continuously-ingested corpus:
  * each arriving document is checked against everything already seen,
  * and the maintained pair table converges to exactly the batch
  * operator's output over the union.
  *
  * Mechanism per micro-batch (all inside `foreachBatch`):
  *   1. shingle → signature → band rows for the NEW docs only (the
  *      map-side kernels run once per document ever);
  *   2. candidate join of the new band rows against (touched state ∪
  *      new) on (band, bucket) — the signature state table is laid out
  *      in `__bkt = hash(band,bucket) % N` partitions, so the state side
  *      reads ONLY the partitions the batch's buckets land in:
  *      per-trigger cost O(batch + touched partitions), never O(corpus);
  *   3. exact-Jaccard verify of the deduped candidate id pairs (same
  *      size-ratio prune + sorted-merge kernel as the batch verify);
  *   4. verified pairs land in a bucketed LWW pair table; new band rows
  *      merge into the state. Both merges are idempotent, so
  *      at-least-once redelivery collapses to a no-op.
  *
  * Batch-equality argument (StreamingDedupSpec): a qualifying pair
  * (a,b) shares ≥1 (band,bucket); when the LATER of the two arrives the
  * earlier is already in state (or in the same batch — the union side
  * covers both), the candidate surfaces, and the verify kernels are
  * deterministic functions of the two texts. Arrival order only decides
  * WHICH trigger emits the pair, never whether; ids are normalized
  * a < b on emit.
  *
  * State size: (doc_id, hs, s) × `bands` rows per document — signature
  * metadata (~bands × |shingle set| longs), not text; the corpus itself
  * never enters the state or the shuffle.
  *
  * Sizing `numBuckets` (the honest part of the touched-partition
  * claim): a batch with k distinct (band,bucket) keys touches
  * ≈ N·(1−e^(−k/N)) of N partitions — uniformly hashed keys SPRAY, so
  * k ≥ N touches everything and the trigger degrades to a full-state
  * merge pass (still O(state), a rolling compaction — never
  * quadratic). The per-trigger read fraction is only k/N when k ≪ N:
  * at deployment scale pick N ≫ bands × expected-batch-docs (e.g.
  * 10⁴-doc batches × 16 bands → N ≥ ~10⁶, i.e. bucket ≈ one file of a
  * partitioned table), which bounds each trigger to reading ~k files
  * of state/N rows each. The local default (64) is sized for the test
  * fixtures, not for that regime.
  */
object StreamingDedup {

  /** Start incremental near-dup maintenance over a stream of documents
    * (`doc_id`, `text`). Verified pairs accumulate in `pairsDir`
    * ([[pairs]]); band signatures in `stateDir`.
    */
  def start(
      docs: DataFrame,
      stateDir: String,
      pairsDir: String,
      ckptDir: String,
      k: Int = 2,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      numBuckets: Int = 64): StreamingQuery = {
    val spark = docs.sparkSession
    docs.select("doc_id", "text").writeStream
      .foreachBatch(mergeBatch(spark, stateDir, pairsDir, k, numPerm,
        bands, threshold, numBuckets) _)
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The maintained near-dup pair table (doc_id_a < doc_id_b, exact
    * shingle Jaccard) as of the last completed trigger.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    KeyedUpsertSink.readBucketedDelta(spark, pairsDir, PairKeys, PairOrder)

  private val PairKeys = Seq("doc_id_a", "doc_id_b")
  private def PairOrder = Seq(col("jaccard"))

  /** Near-dup cluster labels over the maintained pair table, computed on
    * READ — the [[graft.pipeline.StreamingCuration.corpusView]]
    * finalize-on-read discipline, for the same reason: cluster
    * membership is a GLOBAL property of the pair graph. A late-arriving
    * pair can merge two components believed separate, which is a
    * retraction of previously-emitted labels — so labels cannot stream
    * incrementally without rewriting history; deriving them from the
    * bounded pair relation per consumer is the honest shape. Cost per
    * read is edge-linear connected components over near-dup pairs (a
    * vanishing fraction of the corpus): driver union-find under the
    * documented bound, the distributed loop above it. Equality with the
    * batch pipeline (pairs == batch ⇒ labels == batch) is pinned
    * end-to-end by StreamingDedupSpec.
    *
    * @param docs the full document corpus (only `doc_id` is read);
    *             docs never seen by the stream label as singletons
    */
  def clustersView(spark: SparkSession, pairsDir: String, docs: DataFrame): DataFrame =
    Dedup.connectedComponents(
      docs.select("doc_id"),
      pairs(spark, pairsDir).select("doc_id_a", "doc_id_b"))

  /** The deduplicated corpus under the maintained pair graph: one
    * survivor per cluster (the min-doc_id member — `doc_id ==
    * cluster_id`), derived from [[clustersView]] on read.
    */
  def survivors(spark: SparkSession, pairsDir: String, docs: DataFrame): DataFrame =
    docs.join(
      clustersView(spark, pairsDir, docs)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "leftsemi")

  private def bktOf(numBuckets: Int) =
    pmod(xxhash64(col("band"), col("bucket")), lit(numBuckets.toLong))

  /** Existence probe that closes its directory stream — a bare
    * `Files.list(...).findAny()` leaks one descriptor per micro-batch on
    * a long-running stream. A directory holding only the `_SUCCESS`
    * marker or hidden staging entries counts as EMPTY — reading one as a
    * table fails schema inference. `__bkt=N` partition directories DO
    * count (they start with `_` but are the data itself).
    */
  private def nonEmptyDir(target: Path): Boolean =
    Files.exists(target) && {
      import scala.jdk.CollectionConverters._
      val s = Files.list(target)
      try s.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        n != "_SUCCESS" && !n.startsWith(".")
      } finally s.close()
    }

  /** One micro-batch: candidates vs state, verify, emit, merge. Public
    * for direct spec drive; idempotent end to end.
    */
  def mergeBatch(
      spark: SparkSession,
      stateDir: String,
      pairsDir: String,
      k: Int,
      numPerm: Int,
      bands: Int,
      threshold: Double,
      numBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return // nothing arrived: leave state + pairs untouched
    // 1. signatures + band rows for the new docs (kernels run once);
    //    within-batch duplicate doc_ids (file redelivered INSIDE one
    //    trigger) collapse here so state identity stays one row per
    //    (band, bucket, doc_id)
    val withSig = batch.dropDuplicates("doc_id")
      .select(col("doc_id"), Dedup.shingles(col("text"), k).as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numPerm))
      .withColumn("hs", VecText.hash_set64(col("sh")))
      .withColumn("s", size(col("sh")))
    val newRows = graft.Staging.pin(
      Dedup.lshBuckets(withSig.select("doc_id", "sig"), bands, numPerm / bands)
        .join(withSig.select("doc_id", "hs", "s"), "doc_id")
        .select(col("band"), col("bucket"), col("doc_id"), col("hs"), col("s"))
        .withColumn("__bkt", bktOf(numBuckets)))
    // unpin in finally: a checkpointed stream RETRIES a failed batch, and
    // an unreleased pin per attempt accumulates eagerly-materialized
    // blocks
    try {
      // 2. touched state partitions: bounded (≤ numBuckets) driver metadata
      val touched = newRows.select("__bkt").distinct().collect().map(_.getLong(0))
      // marker-aware probe, NOT File.exists(): a crash during the first
      // state write can leave a marker-only directory, which exists() calls
      // a table — the schema read would then fail on every replay forever
      val stateRows =
        if (!nonEmptyDir(Paths.get(stateDir)))
          newRows.limit(0)
        else spark.read.parquet(stateDir).filter(col("__bkt").isin(touched: _*))
      val bSide = stateRows.unionByName(newRows)
      val candidates = newRows.select(col("band"), col("bucket"),
          col("doc_id").as("id_l"))
        .join(bSide.select(col("band"), col("bucket"), col("doc_id").as("id_r")),
          Seq("band", "bucket"))
        .filter(col("id_l") =!= col("id_r"))
        .select(least(col("id_l"), col("id_r")).as("doc_id_a"),
          greatest(col("id_l"), col("id_r")).as("doc_id_b"))
        .distinct()
      // 3. exact-Jaccard verify — THE batch verify stage (one broadcast
      //    relation probed by both pair sides, threshold-gated kernel,
      //    one epsilon policy), reused rather than re-implemented so the
      //    streamed == batch contract cannot drift. Per-doc signatures
      //    come from the bounded (touched ∪ new) rows; broadcast is right
      //    while that stays executor-sized, with the same shuffled-hash
      //    fallback the batch verify documents.
      val verified = Dedup.verifyJaccardHashed(candidates,
        bSide.select("doc_id", "hs", "s").dropDuplicates("doc_id"), threshold)
      // 4. emit pairs (bucketed LWW on the id pair — replay-idempotent) …
      KeyedUpsertSink.upsertBucketedDelta(spark, pairsDir,
        PairKeys, PairOrder, numBuckets)(verified, batchId)
      // … and merge the new band rows into the touched state partitions
      // (identity (band,bucket,doc_id); dynamic overwrite rewrites only
      // the touched __bkt dirs, with the layout key decoupled from the
      // row identity)
      val merged = stateRows.withColumn("__o", lit(0))
        .unionByName(newRows.withColumn("__o", lit(1)))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("band", "bucket", "doc_id").orderBy(col("__o").desc)))
        .filter(col("__rn") === 1).drop("__rn", "__o")
      StateWriter(merged).mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bkt")
        .parquet(stateDir)
    } finally graft.Staging.unpin(newRows)
  }
}
