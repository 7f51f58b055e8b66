package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.{AggCol, DistinctCol}

/** ×1/×10/×100 rehearsal for SLICED view maintenance: the claim under
  * test is that `maxBucketsPerTrigger` bounds the maintainer's PEAK
  * per-batch work on a FAT commit (a backfill rewriting half the
  * table = one manifest version), while the unsliced drain's single
  * fold scales with the commit — peak-vs-total is the trade the
  * feature buys, and this probe prints both sides.
  *
  * Per-fold bytes come from the TaskEnd listener snapshotted inside
  * the `onAfterStreamFold` seam as CUMULATIVE deltas (under AQE the
  * feed's stages execute eagerly inside getBatch, before foreachBatch
  * — the StreamFeedScale lesson). The view here maintains sums + one
  * exact count-distinct and NO extrema on purpose: those tiers fold
  * purely from the feed slice, so per-slice cost is slice-bounded by
  * construction; a retraction-tied EXTREMUM recompute fires per slice
  * against the mixed manifest instead of once per version — a
  * documented trade (SURVEY §20.3), not this probe's subject.
  *
  * Correctness gate per run: the drained view must equal the group-by
  * over the final LWW table — a wrong or incomplete drain cannot pass.
  *
  * Usage: runMain graft.tools.SlicedViewScale <sfDir> [scale] [bucketCap]
  */
object SlicedViewScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scale = if (args.length > 1) args(1).toInt else 1
    val bucketCap = if (args.length > 2) args(2).toLong else 2L
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    val numBuckets = 16
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = ev.count()
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    val dims = Seq("event_type")
    val aggs = Seq(AggCol("n", lit(1L)), AggCol("sum_v", col("v")))
    val nd = Seq(DistinctCol("nd_v", col("v") % 1000L))

    val root = Files.createTempDirectory("graft-slicedview")
    val base = root.resolve("t").toString
    val viewU = root.resolve("view-unsliced").toString
    val viewS = root.resolve("view-sliced").toString
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, base, keys, order, numBuckets, compactAfter = 0) _
    sink(ev, 0L) // v1 — the floor BOTH views bootstrap at
    MaterializedAggView.bootstrap(spark, base, viewU, keys, order,
      dims, aggs, distincts = nd)
    MaterializedAggView.bootstrap(spark, base, viewS, keys, order,
      dims, aggs, distincts = nd)
    // the FAT commit both maintainers then drain: ONE version rewriting
    // HALF the table, every bucket touched — the backfill shape
    // sub-version admission control exists for
    val fat = ev.filter(col("event_id") % 2 === 0)
      .withColumn("ts_us", col("ts_us") + lit(1000000L))
      .withColumn("v", pmod(col("v") + lit(7L), lit(86400000L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fatRows = fat.count()
    sink(fat, 1L) // v2

    def recompute(): Set[(String, Long, Long, Long)] = {
      import spark.implicits._
      KeyedUpsertSink.readBucketedDelta(spark, base, keys, order)
        .groupBy("event_type").agg(
          count(lit(1L)).as("n"), sum("v").as("sum_v"),
          count_distinct(col("v") % 1000L).as("nd_v"))
        .select("event_type", "n", "sum_v", "nd_v")
        .as[(String, Long, Long, Long)].collect().toSet
    }
    def viewRows(vp: String): Set[(String, Long, Long, Long)] = {
      import spark.implicits._
      MaterializedAggView.read(spark, vp)
        .select("event_type", "n", "sum_v", "nd_v")
        .as[(String, Long, Long, Long)].collect().toSet
    }
    val expect = recompute()

    /** One measured drain: per-fold shuffle MB attributed at each fold
      * publish as cumulative deltas.
      */
    def measuredDrain(tag: String, view: String,
        cap: Option[Long]): Seq[Double] = {
      val folds = scala.collection.mutable.ArrayBuffer.empty[Double]
      var lastSh = 0L
      io.reset()
      val old = MaterializedAggView.onAfterStreamFold
      MaterializedAggView.onAfterStreamFold = _ => {
        val (_, sh) = io.snapshot()
        folds += (sh - lastSh) / 1048576.0
        lastSh = sh
      }
      try {
        val q = MaterializedAggView.maintainStream(spark, base, view,
          keys, order, dims, aggs, distincts = nd,
          checkpointDir = root.resolve(s"ckpt-$tag").toString,
          maxBucketsPerTrigger = cap)
        q.awaitTermination()
      } finally MaterializedAggView.onAfterStreamFold = old
      require(viewRows(view) == expect,
        s"$tag drain != LWW recompute — fix before measuring")
      folds.toSeq
    }
    val foldsU = measuredDrain("unsliced", viewU, None)
    val foldsS = measuredDrain("sliced", viewS, Some(bucketCap))

    def fm(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def block(tag: String, f: Seq[Double]): String =
      s""""$tag":{"folds":${f.size},"per_fold_shuffle_mb":[${f.map(fm).mkString(",")}],"peak_fold_shuffle_mb":${fm(if (f.isEmpty) 0 else f.max)},"total_shuffle_mb":${fm(f.sum)}}"""
    println(s"""{"probe":"sliced_view_scale","sf":"$sfDir","scale":$scale,"base_rows":$total,"fat_rows":$fatRows,"num_buckets":$numBuckets,"bucket_cap":$bucketCap,${block("unsliced", foldsU)},${block("sliced", foldsS)},"view_equals_recompute":true}""")
    spark.stop()
  }
}
