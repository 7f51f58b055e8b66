package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared infrastructure for the dev-only scale probes: wall-clock
  * reporting, parquet-cached corpus
  * synthesis, and the three growth models the probes share
  * (exact-replica, mutated-copy, hash-noise). Previously each of
  * ScaleProbe / ScaleProbe100 carried its own copy.
  *
  * Growth-model semantics (why three models exist):
  *  - `exactDocCopies` / `exactEmbCopies`: replicas form n² duplicate
  *    cliques — the stress shape for clustering / over-bound CC.
  *  - `mutatedDocCopies`: every 4th token replaced by a copy-specific
  *    salt, so cross-copy Jaccard falls to ~1/3 (below near-dup
  *    thresholds) while within-copy near-dup structure is preserved —
  *    near-dup density per document stays CONSTANT as the corpus grows,
  *    the regime where "near-linear scaling" is a claim one can test.
  *  - `hashNoiseEmbCopies`: deterministic multiplicative noise per
  *    (vec_id, copy, dim) — distinct vectors that keep the corpus'
  *    cluster structure.
  */
object ProbeCorpus {

  /** Print `TAG label W s rows=n` — the line shape the probe tables in
    * SURVEY/scaladocs quote.
    */
  def time(tag: String)(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"$tag $label ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
  }

  /** Synthesize once into parquet and read back, so probe timings
    * measure the operator, not the synthesis.
    */
  /** The scale-probe event corpus shared by MviewScale /
    * StreamFeedScale / MatchReadProbe: the sf dir's events projected to
    * (event_id, event_type, v = time-of-day ms, ts_us), replicated
    * `scale` times with disjoint event_ids and 7919-phase-shifted
    * values (replicas must move distinct counts and extrema), cached
    * under ONE /tmp path per (scale, sf). A single definition — three
    * drifting copies sharing one cache file would silently consume
    * each other's corpus and the probes' decades would stop lining up
    * row-for-row.
    */
  def scaledEvents(spark: SparkSession, sfDir: String, scale: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val evBase = graft.Tables.events(spark, sfDir).select(col("event_id"),
      col("event_type"), (col("ts_ms") % 86400000L).as("v"), col("ts_us"))
    if (scale <= 1) evBase
    else cached(spark,
      s"/tmp/graft-mview-ev-${scale}x-${java.nio.file.Paths.get(sfDir).getFileName}") {
      (0 until scale).map(i => evBase.select(
        (col("event_id") + lit(i.toLong * 1000000000L)).as("event_id"),
        col("event_type"),
        pmod(col("v") + lit(i.toLong * 7919L), lit(86400000L)).as("v"),
        col("ts_us"))).reduce(_ unionByName _)
    }
  }

  def cached(spark: SparkSession, path: String)(build: => DataFrame): DataFrame = {
    if (!Files.exists(Paths.get(path)))
      build.repartition(32).write.parquet(path)
    spark.read.parquet(path)
  }

  private def replicate(c: Int)(copy: Int => DataFrame): DataFrame =
    (0 until c).map(copy).reduce(_ unionByName _)

  /** Exact replicas with disjoint doc_ids. */
  def exactDocCopies(base: DataFrame, c: Int): DataFrame =
    replicate(c) { i =>
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    }

  /** Mutated copies: every 4th token replaced by a copy-specific salt. */
  def mutatedDocCopies(base: DataFrame, c: Int): DataFrame =
    replicate(c) { i =>
      val t =
        if (i == 0) col("text")
        else regexp_replace(col("text"),
          "(\\S+\\s+\\S+\\s+\\S+\\s+)\\S+", "$1u" + i + "x")
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), col("n_chars"))
    }

  /** Exact embedding replicas with disjoint vec_ids (label kept). */
  def exactEmbCopies(base: DataFrame, c: Int): DataFrame =
    replicate(c) { i =>
      base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }

  /** Hash-noise embedding copies (label dropped): distinct vectors that
    * keep the corpus' cluster structure.
    */
  def hashNoiseEmbCopies(base: DataFrame, c: Int): DataFrame =
    replicate(c) { i =>
      val e =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          (x.cast("double") * (lit(1.0) +
            (pmod(xxhash64(concat_ws("-", col("vec_id"), lit(i), j)), lit(600))
              - 300).cast("double") / 1000.0)).cast("float"))
      base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        e.as("embedding"))
    }

  /** Event replicas with disjoint event_ids (same users/timestamps, so
    * per-key group sizes grow with the corpus — the aggregation-input
    * growth model).
    */
  def eventCopies(ev: DataFrame, c: Int): DataFrame =
    replicate(c) { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }
}

/** Task-metrics accumulator for the memory-envelope probe: total
  * spill (memory + disk) and the peak per-task execution memory across
  * every task that ran between `reset()` calls. Spill > 0 with the job
  * completing is the GOOD outcome under a constrained heap — it means
  * Spark's unified memory manager degraded to disk instead of OOM.
  */
class SpillListener extends org.apache.spark.scheduler.SparkListener {
  private val spillMem = new java.util.concurrent.atomic.AtomicLong
  private val spillDisk = new java.util.concurrent.atomic.AtomicLong
  private val peakTask = new java.util.concurrent.atomic.AtomicLong
  // per-stage spill, keyed by the stage's callsite name — the
  // attribution that answers WHICH operator stage of a composed
  // pipeline pays the constrained-heap cost (stage names carry the
  // file:line of the action/exchange, e.g. "exactSurvivors at
  // Dedup.scala:44")
  private val stageSpill =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  override def onTaskEnd(
      te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      peakTask.updateAndGet(p => math.max(p, m.peakExecutionMemory))
    }
  }
  override def onStageCompleted(
      sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    if (m != null && (m.memoryBytesSpilled > 0 || m.diskBytesSpilled > 0))
      stageSpill.add((s"s${si.stageId} ${si.name.takeWhile(_ != '\n')}",
        m.memoryBytesSpilled >> 20, m.diskBytesSpilled >> 20))
  }
  def reset(): Unit = {
    spillMem.set(0); spillDisk.set(0); peakTask.set(0); stageSpill.clear()
  }
  def spillMemMb: Long = spillMem.get() >> 20
  def spillDiskMb: Long = spillDisk.get() >> 20
  def peakTaskMb: Long = peakTask.get() >> 20

  /** Spilling stages since reset, (name, spill_mem_mb, spill_disk_mb),
    * heaviest memory-spill first.
    */
  def spillStages: Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    stageSpill.iterator().asScala.toSeq.sortBy(-_._2)
  }
}
