package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.functions.VecText

/** Streaming similarity search: maintain the exact top-k nearest
  * neighbors per query over a GROWING corpus stream (the "time series /
  * interactive top-k similarity" shape from the streaming-search
  * literature, done Spark-native):
  *
  *  - the small query set is a STATIC side of a stream-static broadcast
  *    join — each arriving corpus micro-batch is scored against all
  *    queries map-side (VecText.FloatVecDot + precomputed norms);
  *  - per-query state is a k-bounded sorted list merged per batch via
  *    mapGroupsWithState — the streaming twin of the bounded-heap
  *    TopKDesc aggregate, with the same (cos desc, neighbor_id) order;
  *  - emission is the full current top-k snapshot per updated query
  *    (Update mode), versioned by candidates-seen so consumers can pick
  *    the latest snapshot.
  *
  * At scale: state is k entries per query (tiny, bounded); each batch
  * shuffles only batch×|queries| candidate scores on query_id.
  */
object StreamingSimilarity {

  case class TopKState(entries: Seq[(Long, Double)], seen: Long)
  case class TopKSnapshot(
      query_id: Long, rnk: Long, neighbor_id: Long, cosine: Double, seen: Long)

  /** Per-(band, bucket) LSH state: the (vec_id, 64-bit signature) of
    * every vector seen in this bucket. Embeddings deliberately stay OUT
    * of state — 16 bytes per member per band instead of the full vector,
    * so continuous ingestion carries ~128 bytes of state per corpus
    * vector at the default 8 bands.
    */
  case class BucketState(members: Seq[(Long, Long)])
  case class CandidatePair(vec_id_a: Long, vec_id_b: Long)

  /** Incremental embedding near-dup candidates: each arriving vector is
    * checked against everything that EVER arrived in any of its LSH band
    * buckets — the streaming twin of
    * [[Similarity.embeddingNearDupsLsh]]'s candidate stage, with the
    * same banding recipe (md5-derived hyperplanes, `bits/bandBits`
    * bands) and the same emit-once discipline: a colliding pair is
    * emitted only by the SMALLEST band both signatures share, so no
    * cross-bucket duplicates ever reach the verify stage.
    *
    * Plan per micro-batch: signatures are map-side
    * ([[Similarity.rhpSignature]], one pass per vector); the only
    * shuffle is the (band, bucket) group hand-off; state grows by one
    * 16-byte entry per (vector, band). Pair the output with
    * [[Similarity.verifyNearDupCandidates]] against the embedding store
    * (in continuous ingestion the store exists — vectors persist on
    * arrival) for exact-cosine confirmation; batch and stream then score
    * identically, which the convergence spec asserts.
    *
    * Redelivered vec_ids (at-least-once sources) are recognized in state
    * and skipped — no duplicate pairs on replay.
    */
  def nearDupCandidates(
      vecStream: DataFrame,
      bits: Int = 64,
      bandBits: Int = 8): Dataset[CandidatePair] = {
    require(bits <= 64 && bits % bandBits == 0, "bits must be ≤64, a multiple of bandBits")
    val nBands = bits / bandBits
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val spark = vecStream.sparkSession
    import spark.implicits._
    def bslice(sig: Long, i: Int): Long = (sig >>> (i * bandBits)) & mask
    // smallest band where the two signatures agree — the batch operator's
    // min-shared-band dedup, computed scalar-side from the two sigs
    def minShared(a: Long, b: Long): Int =
      (0 until nBands).find(i => bslice(a, i) == bslice(b, i)).getOrElse(-1)
    val banded = vecStream
      .select(col("vec_id"), Similarity.rhpSignature(col("embedding"), bits).as("sig"))
      .select(col("vec_id"), col("sig"),
        posexplode(array((0 until nBands).map(i =>
          shiftrightunsigned(col("sig"), i * bandBits).bitwiseAND(lit(mask))): _*)))
      .toDF("vec_id", "sig", "band", "bucket")
      .as[(Long, Long, Int, Long)]
    banded.groupByKey { case (_, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[BucketState, CandidatePair](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          val prev = state.getOption.map(_.members).getOrElse(Seq.empty)
          val known = prev.map(_._1).toSet
          // intra-batch determinism: process fresh members in vec_id order
          val fresh = rows.map(r => (r._1, r._2))
            .filter(m => !known(m._1)).toSeq
            .distinctBy(_._1).sortBy(_._1)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
          val seen = scala.collection.mutable.ArrayBuffer(prev: _*)
          fresh.foreach { case (id, sig) =>
            seen.foreach { case (oid, osig) =>
              if (minShared(sig, osig) == band) {
                out += (if (id < oid) CandidatePair(id, oid)
                        else CandidatePair(oid, id))
              }
            }
            seen += ((id, sig))
          }
          state.update(BucketState(seen.toSeq))
          out.iterator
      }
  }

  /** One arriving vector, assigned to its coarse list. */
  case class AssignedVec(centroid_id: Long, vec_id: Long, cos: Double)

  /** Per-list maintenance state: member ids (for at-least-once replay
    * dedup, 8 B each — same budget class as [[BucketState]]) plus the
    * running cosine mass for the drift signal.
    */
  case class IvfListState(ids: Seq[Long], cosSum: Double)

  /** One emitted maintenance event: vector `vec_id` joined list
    * `centroid_id`, which now holds `list_n` streamed members whose mean
    * cosine-to-centroid is `mean_cos`; `retrain` fires when either
    * trigger crosses its bound.
    */
  case class IvfListUpdate(centroid_id: Long, vec_id: Long, list_n: Long,
      mean_cos: Double, retrain: Boolean)

  /** Streaming IVF index maintenance — the first operational need of a
    * continuously-ingesting embedding store: arriving vectors are
    * assigned to the FROZEN trained coarse quantizer's nearest list
    * (same broadcast argmax kernel as the batch tier —
    * `VecText.nearest_centroid`, map-side, zero corpus shuffle), and
    * per-list state tracks membership and a drift signal. Downstream, the
    * emitted (centroid_id, vec_id) stream IS the inverted-list delta a
    * deployment appends to its list store partition-by-partition.
    *
    * Retrain trigger (`retrain = true` on the emitted event) when either:
    *  - mass: a list's streamed membership reaches `massLimit` — lists
    *    have outgrown the quantizer's training-time shape; or
    *  - drift: the list's cumulative mean cosine of arrivals to their
    *    centroid falls below `minMeanCos` — arrivals no longer resemble
    *    the centroid they're forced into. (Cumulative, not windowed, so
    *    replay yields identical events; a production variant would decay.)
    * The trigger is an EVENT, not an action: retraining means re-running
    * [[Similarity.trainQuantizer]] on the accumulated store and swapping
    * quantizers — a batch job this stream deliberately does not own.
    *
    * Assignment parity with the batch tier is the contract:
    * stream-maintained lists equal [[Similarity.assignToCentroids]] of
    * the union of all arrivals against the same frozen centroids
    * (StreamingSimilaritySpec). Redelivered vec_ids are recognized in
    * state and skipped — counts and drift never double-book on replay.
    */
  def maintainIvfLists(
      vecStream: DataFrame,
      trainedCentroids: DataFrame,
      massLimit: Long = 100000L,
      minMeanCos: Double = -1.0): Dataset[IvfListUpdate] = {
    val spark = vecStream.sparkSession
    import spark.implicits._
    // fail loudly up front: with an empty quantizer the argmax returns
    // -1 and the drift lookup would die mid-stream with an opaque ANSI
    // MAP_KEY_DOES_NOT_EXIST on the first micro-batch
    require(trainedCentroids.limit(1).count() == 1L,
      "maintainIvfLists needs a non-empty trained quantizer")
    // one broadcast row: the sorted centroid table, as both the argmax
    // array and an id→vector map for the drift cosine
    val centArr = trainedCentroids
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("cents"))
    val assigned = vecStream
      .crossJoin(broadcast(centArr))
      .withColumn("centroid_id",
        VecText.nearest_centroid(col("cents"), col("embedding")))
      .withColumn("cos",
        coalesce(Similarity.cosine(col("embedding"),
          element_at(map_from_entries(col("cents")), col("centroid_id"))), lit(0.0)))
      .select(col("centroid_id"), col("vec_id"), col("cos"))
      .as[AssignedVec]
    assigned.groupByKey(_.centroid_id)
      .flatMapGroupsWithState[IvfListState, IvfListUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        case (cid, rows, state: GroupState[IvfListState]) =>
          val prev = state.getOption.getOrElse(IvfListState(Seq.empty, 0.0))
          val known = prev.ids.toSet
          // intra-batch determinism: admit fresh members in vec_id order
          val fresh = rows.filter(r => !known(r.vec_id)).toSeq
            .distinctBy(_.vec_id).sortBy(_.vec_id)
          var n = prev.ids.size.toLong
          var cosSum = prev.cosSum
          val out = fresh.map { r =>
            n += 1
            cosSum += r.cos
            val meanCos = cosSum / n
            IvfListUpdate(cid, r.vec_id, n, meanCos,
              n >= massLimit || meanCos < minMeanCos)
          }
          state.update(IvfListState(prev.ids ++ fresh.map(_.vec_id), cosSum))
          out.iterator
      }
  }

  /** The retrain-and-swap loop the [[maintainIvfLists]] trigger asks
    * for — a continuously-ingested IVF index owned by a foreachBatch
    * driver loop. Per micro-batch:
    *
    *  1. replay-safe append: batch vectors not already in the embedding
    *     store (anti-join on vec_id) are pinned and appended — the store
    *     is the parquet table a deployment already keeps, vectors persist
    *     on arrival;
    *  2. admission check: full-store assignment under the CURRENT
    *     quantizer (map-side broadcast argmax, one scan, zero shuffle);
    *     if any list's mass reaches `massLimit`, retrain fires;
    *  3. retrain + swap: [[Similarity.trainQuantizer]] re-runs on the
    *     full store with K grown to `max(currentK + 1,
    *     ceil(2n/massLimit))` — aiming mean list size at massLimit/2,
    *     and growing by at least one per trip so a skew-tripped bound
    *     (hot list while n is modest) never retrains at an unchanged K,
    *     which re-centers without relieving the bound (total mass is
    *     conserved) and would re-trip every batch. The swap is atomic from the
    *     reader's view: [[IvfIndexMaintainer.lists]] always serves the
    *     full store under exactly one quantizer generation.
    *
    * Determinism: the trainer's md5-ranked seeds and decimal sums are
    * row-order-independent, so the swapped quantizer is a pure function
    * of (store contents, K) — the convergence spec asserts the streamed
    * index equals batch training on the union whenever the final batch
    * trips the bound. At deployment scale the per-generation assignment
    * would be materialized (partitioned by list id) rather than
    * recomputed per read, and the store append would ride the atomic
    * generation-manifest sink (`sink/Sinks`); single-JVM, the parquet
    * append + recompute keeps every moving part observable.
    */
  final class IvfIndexMaintainer(
      storeDir: String,
      initialCentroids: DataFrame,
      massLimit: Long = 100000L,
      lloydIters: Int = 2) {
    @volatile private var cents: DataFrame = initialCentroids
    @volatile private var gen: Long = 0L
    @volatile private var k: Int = initialCentroids.count().toInt

    private def spark = initialCentroids.sparkSession
    private def storeExists =
      java.nio.file.Files.exists(java.nio.file.Paths.get(storeDir))

    /** Current quantizer (generation [[generation]]). */
    def centroids: DataFrame = cents
    def generation: Long = gen
    def kCentroids: Int = k

    /** Every vector ingested so far. */
    def store: DataFrame = spark.read.parquet(storeDir)

    /** The served index: full-store assignment under the current
      * quantizer — never a stale mix of generations.
      */
    def lists: DataFrame =
      Similarity.assignToCentroids(store.select("vec_id", "embedding"), cents)

    /** Answer ANN queries from the maintained index — the serve side of
      * ingest → retrain → swap → serve. Identical to what a batch
      * [[Similarity.ivfTopKUnlabeled]] over the current store computes
      * (same quantizer: training is a pure function of (store, K)), but
      * pays only the probe + within-list scoring per query, not
      * training.
      */
    def topK(queries: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
      // snapshot the volatile ONCE: reading it separately via `lists`
      // and as the serve argument lets a concurrent retrain swap between
      // the reads — serving gen-N assignments probed with gen-N+1
      // centroids, the stale mix the contract rules out
      val c = cents
      Similarity.ivfServe(
        Similarity.assignToCentroids(store.select("vec_id", "embedding"), c),
        c, queries, k, nprobe)
    }

    /** Ingest one micro-batch; retrain + swap if the mass bound trips. */
    def ingest(batch: DataFrame): Unit = synchronized {
      val incoming = batch.select("vec_id", "embedding").dropDuplicates("vec_id")
      // pin before writing: `fresh` reads the same files the append
      // extends, so materialize the anti-join first
      val fresh = graft.Staging.pin(
        if (storeExists) incoming.join(store, Seq("vec_id"), "left_anti")
        else incoming)
      try graft.sink.StateWriter(fresh).mode("append").parquet(storeDir)
      finally graft.Staging.unpin(fresh)
      val maxRow = lists.groupBy("centroid_id").count().agg(max("count")).head()
      val maxN = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      if (maxN >= massLimit) {
        val n = store.count()
        // grow K by at least one per trip: the size-based rule
        // ceil(2n/massLimit) can lag the CURRENT k under skew (mass
        // concentrated in one list while n is modest), and retraining
        // with the same K re-centers without relieving the bound —
        // re-tripping on every subsequent batch. Monotone growth makes
        // each retrain split-capable; a list of byte-identical vectors
        // is unsplittable at ANY k (dedup upstream is the remedy there).
        k = math.max(k + 1, math.ceil(2.0 * n / massLimit).toInt)
        cents = Similarity.trainQuantizer(store, k, lloydIters)
        gen += 1
      }
    }
  }

  /** foreachBatch adapter wiring a vector stream into `maintainer`. */
  def ivfIngestWithRetrain(vecStream: DataFrame,
      maintainer: IvfIndexMaintainer): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecStream.writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        maintainer.ingest(b.toDF()))

  def topKStream(corpusStream: DataFrame, queries: DataFrame, k: Int = 5): Dataset[TopKSnapshot] = {
    val spark = corpusStream.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      Similarity.fnorm(col("embedding")).as("q_norm"))
    val scored = corpusStream
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        Similarity.fnorm(col("embedding")).as("c_norm"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        // zero-norm vectors score NULL out of the guarded `when`; an
        // unguarded NULL would kill the query at tuple deserialization
        // (non-nullable Double), so pin 0.0 — same rule as
        // maintainIvfLists' drift cosine
        coalesce(Similarity.cosineWithNorms(col("q_emb"), col("c_emb"),
          col("q_norm"), col("c_norm")), lit(0.0)).as("cos"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[TopKState, TopKSnapshot](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        case (query, rows, state: GroupState[TopKState]) =>
          val prev = state.getOption.getOrElse(TopKState(Seq.empty, 0L))
          var n = prev.seen
          // at-least-once replay: a redelivered neighbor still inside the
          // retained window must not occupy two ranks or inflate `seen`
          // (corpus ids are append-only, so an id's score never changes);
          // a replay that fell OUTSIDE the window is indistinguishable
          // from a fresh arrival under bounded state — `seen` counts
          // scored arrivals beyond that horizon
          val byId = scala.collection.mutable.LinkedHashMap(
            prev.entries.map(e => e._1 -> e._2): _*)
          rows.foreach { case (_, neighbor, cos) =>
            if (!byId.contains(neighbor)) { byId.update(neighbor, cos); n += 1 }
          }
          val top = byId.toSeq
            .sortBy { case (id, cos) => (-cos, id) }
            .take(k)
          state.update(TopKState(top, n))
          top.zipWithIndex.iterator.map { case ((id, cos), i) =>
            TopKSnapshot(query, (i + 1).toLong, id, cos, n)
          }
      }
  }
}
