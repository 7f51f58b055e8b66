package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables => T}
import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.{AggCol, DistinctCol, ExtremumCol}

/** Attributed input/shuffle/output bytes since reset — the cost-shape
  * numbers the wall clock hides at probe scale (tens of small jobs
  * dominate sub-second scans; bytes don't lie about what a
  * 1000-executor run would move).
  */
class IoListener extends SparkListener {
  private val input = new AtomicLong
  private val shuffleW = new AtomicLong
  private val output = new AtomicLong
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      output.addAndGet(m.outputMetrics.bytesWritten)
      ()
    }
  }
  def reset(): Unit = { input.set(0); shuffleW.set(0); output.set(0) }
  /** (input bytes, shuffle-write bytes) — RAW, so callers summing
    * across phases don't compound per-snapshot truncation; tiny
    * listener-flush wait first.
    */
  def snapshot(): (Long, Long) = {
    Thread.sleep(300)
    (input.get(), shuffleW.get())
  }
  /** Output bytes since reset; read after [[snapshot]]'s flush wait. */
  def outputBytes(): Long = output.get()
}

/** Measures the claim the incrementally-maintained view is FOR: after a
  * trickle commit into a large base table, a `refresh` pays the CHANGE
  * volume while a from-scratch rebuild pays the whole table. Two
  * trickle shapes bracket the cost:
  *
  *   - `spread`: batch keys land in every bucket (worst case — the
  *     feed's prefix scan touches the whole table; the kernel's key
  *     restriction still keeps every SHUFFLE batch-scale);
  *   - `local`: batch keys all hash into bucket 0 (the locality a
  *     partitioned ingest produces — the feed reads 1/numBuckets of
  *     the table, the recompute still reads all of it).
  *
  * Per mode: summed refresh vs rebuild walls, input, shuffle and output
  * MB (an `IoListener` snapshot around each phase), dirty-extremum
  * fallback count, and a final maintained-== -rebuilt equality gate.
  *
  * `scale` replicates the sf dir's events with disjoint event_ids
  * (cached to parquet once, the ScaleProbe100 growth-model pattern), so
  * sf0.1 at scales 1/10/100 spans two decades of base size (100k → 10M
  * rows) while the trickle stays `batchRows` — the axis on which
  * "refresh shuffle bytes stay batch-scale" is a measurable exponent.
  *
  * `compactAfter` (0 = never) separates the two refresh regimes: with
  * in-run compaction the totals include one compaction-triggered
  * refresh (a compacted chain shares no prefix with its old self, so
  * ITS bytes grow with the touched buckets), while 0 isolates pure
  * appends, whose per-refresh shuffle must stay batch-scale at every
  * base size.
  *
  * Usage: runMain graft.tools.MviewScale <sfDir> [nBatches] [batchRows] [scale] [compactAfter] [dimMode]
  */
object MviewScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val batchRows = if (args.length > 2) args(2).toInt else 500
    val scale = if (args.length > 3) args(3).toInt else 1
    val compactAfter = if (args.length > 4) args(4).toInt else 8
    // "type" (5 giant groups — any dirty group is ~20% of the keys, the
    // adaptive recompute's full-window regime) or "hour" (24 groups —
    // one dirty group is ~4% ≈ broadcastable keys, the key-bounded
    // regime readBucketedDeltaMatching exists for)
    val dimMode = if (args.length > 5) args(5) else "type"
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    val numBuckets = 16
    // key on event_id (the big-table premise: one row per event); the
    // view groups by event_type over a bounded time-of-day value
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
    // ONE cached copy: fold the dim derivation in before the persist (a
    // second MEMORY_AND_DISK copy of a 10M-row corpus doubles cache
    // pressure inside the very measurements this probe reports)
    val evd = (if (dimMode == "hour")
      ev.withColumn("event_type", concat(lit("h"),
        floor(col("v") / 3600000L).cast("long")))
    else ev).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = evd.count()
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    val dims = Seq("event_type")
    val aggs = Seq(AggCol("n", lit(1L)), AggCol("sum_v", col("v")))
    val ext = Seq(ExtremumCol("min_v", col("v"), isMin = true),
      ExtremumCol("max_v", col("v"), isMin = false))
    val nd = Seq(DistinctCol("nd_hour",
      floor(col("v") / 3600000L).cast("long")))

    def run(mode: String): String = {
      val root = Files.createTempDirectory(s"graft-mview-$mode")
      val base = root.resolve("t").toString
      val view = root.resolve("view").toString
      val scratch = root.resolve("recompute").toString
      val sink = KeyedUpsertSink.upsertBucketedDelta(
        spark, base, keys, order, numBuckets, compactAfter = compactAfter) _
      sink(evd, 0L)
      MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs, ext, nd)

      // one trickle batch: ~batchRows rows, values shifted so sums,
      // extrema, and distincts all actually move
      def trickle(i: Int): DataFrame = {
        val picked =
          if (mode == "local") evd.filter(
            KeyedUpsertSink.bucketOf(keys, numBuckets) === 0L &&
              pmod(col("event_id") + lit(i),
                lit(math.max(total / (batchRows.toLong * numBuckets), 1L))) === 0)
          else evd.filter(pmod(col("event_id") + lit(i),
            lit(math.max(total / batchRows.toLong, 1L))) === 0)
        picked
          .withColumn("ts_us", col("ts_us") + lit(1000000L * (i + 1)))
          .withColumn("v", pmod(col("v") + lit(3600000L * i), lit(86400000L)))
      }

      var dirtyFired = 0
      val routes = scala.collection.mutable.ArrayBuffer.empty[String]
      MaterializedAggView.onExtremaRecompute = n => { dirtyFired += 1; routes += s"groups=$n" }
      MaterializedAggView.onDirtyRoute = (est, path) => routes += s"est=$est path=$path"
      var rfWall = 0.0; var rfIn = 0L; var rfSh = 0L; var rfOut = 0L
      var rcWall = 0.0; var rcIn = 0L; var rcSh = 0L
      (1 to nBatches).foreach { i =>
        sink(trickle(i), i.toLong)
        io.reset()
        val t0 = System.nanoTime()
        MaterializedAggView.refresh(
          spark, base, view, keys, order, dims, aggs, ext, nd)
        rfWall += (System.nanoTime() - t0) / 1e9
        val (in1, sh1) = io.snapshot(); val out1 = io.outputBytes()
        rfIn += in1; rfSh += sh1; rfOut += out1
        System.err.println(f"[mview-scale] $mode refresh $i shuffleMB=${sh1 / 1048576.0}%.1f inputMB=${in1 / 1048576.0}%.1f outputMB=${out1 / 1048576.0}%.3f")
        io.reset()
        val t1 = System.nanoTime()
        MaterializedAggView.bootstrap(spark, base, scratch, keys, order,
          dims, aggs, ext, nd, force = true)
        rcWall += (System.nanoTime() - t1) / 1e9
        val (in2, sh2) = io.snapshot(); rcIn += in2; rcSh += sh2
      }
      MaterializedAggView.onExtremaRecompute = _ => ()
      MaterializedAggView.onDirtyRoute = (_, _) => ()
      System.err.println(s"[mview-scale] $mode dirty routes: ${routes.mkString("; ")}")

      // the asymmetry is only worth reporting if the answers agree
      val a = MaterializedAggView.read(spark, view)
      val b = MaterializedAggView.read(spark, scratch)
        .select(a.columns.map(col).toIndexedSeq: _*)
      val same = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      require(same, s"$mode: maintained view != rebuild — fix before measuring")
      def mb(b: Long): Double = b / 1048576.0
      f""""$mode":{"refresh_wall_s":$rfWall%.2f,"rebuild_wall_s":$rcWall%.2f,"refresh_input_mb":${mb(rfIn)}%.1f,"rebuild_input_mb":${mb(rcIn)}%.1f,"refresh_shuffle_mb":${mb(rfSh)}%.1f,"rebuild_shuffle_mb":${mb(rcSh)}%.1f,"refresh_output_mb":${mb(rfOut)}%.3f,"extrema_dirty_refreshes":$dirtyFired,"views_equal":$same}"""
    }

    val spread = run("spread")
    val local = run("local")
    println(s"""{"probe":"mview_scale","sf":"$sfDir","scale":$scale,"base_rows":$total,"n_batches":$nBatches,"batch_rows":$batchRows,"compact_after":$compactAfter,"dim_mode":"$dimMode",$spread,$local}""")
    spark.stop()
  }
}
