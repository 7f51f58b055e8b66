package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Tables => T}
import graft.sink.KeyedUpsertSink

/** ×1/×10/×100 rehearsal for the STREAMED feed path: `MviewScale`
  * measures the poller/refresh side; this probe runs the
  * `graft-changes` SOURCE itself (weighted, Trigger.AvailableNow, one
  * version per micro-batch) over the same scaled bases and attributes
  * RAW shuffle/input bytes per micro-batch via the TaskEnd listener —
  * the claim under test is that the streaming engine's plan splicing
  * preserves the feed kernel's key restriction, so a trickle batch's
  * shuffle stays BATCH-scale at every base size while the control (one full LWW
  * resolve of the table) grows with the base.
  *
  * Each batch lands in a parquet append (the realistic consumer shape);
  * the correctness gate folds the streamed weighted rows onto the
  * base-at-floor aggregate and requires equality with a group-by over
  * the final LWW table — a wrong or incomplete stream cannot pass.
  *
  * Usage: runMain graft.tools.StreamFeedScale <sfDir> [nBatches] [batchRows] [scale]
  */
object StreamFeedScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val batchRows = if (args.length > 2) args(2).toInt else 500
    val scale = if (args.length > 3) args(3).toInt else 1
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    val numBuckets = 16
    // the SAME scaled corpus (and /tmp cache) as MviewScale, so the two
    // probes' decades line up row-for-row
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = ev.count()
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))

    val root = Files.createTempDirectory("graft-streamfeed")
    val base = root.resolve("t").toString
    val out = root.resolve("consumed").toString
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, base, keys, order, numBuckets, compactAfter = 0) _
    sink(ev, 0L) // v1 — the stream's floor
    def trickle(i: Int): DataFrame =
      ev.filter(pmod(col("event_id") + lit(i),
          lit(math.max(total / batchRows.toLong, 1L))) === 0)
        .withColumn("ts_us", col("ts_us") + lit(1000000L * (i + 1)))
        .withColumn("v", pmod(col("v") + lit(3600000L * i), lit(86400000L)))
    (1 to nBatches).foreach(i => sink(trickle(i), i.toLong)) // v2..v(n+1)

    // drain the trickles through the SOURCE: one version per micro-batch.
    // Bytes are attributed per batch as CUMULATIVE deltas snapshotted at
    // each batch's end — under AQE the feed's shuffle stages execute
    // EAGERLY inside getBatch (adaptive planning), i.e. BEFORE
    // foreachBatch runs, so a reset-inside-the-batch window would miss
    // the very work this probe measures
    val perBatchSh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perBatchIn = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastIn = 0L
    var lastSh = 0L
    io.reset()
    val q = spark.readStream.format("graft-changes")
      .option("path", base)
      .option("weighted", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(out)
        val (in, sh) = io.snapshot()
        perBatchSh += (sh - lastSh) / 1048576.0
        perBatchIn += (in - lastIn) / 1048576.0
        lastIn = in
        lastSh = sh
        ()
      }
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // control: ONE full LWW resolve of the table at head — the number
    // that grows with the base while the streamed batches stay flat
    io.reset()
    KeyedUpsertSink.readBucketedDelta(spark, base, keys, order)
      .write.format("noop").mode("overwrite").save()
    val (ctlIn, ctlSh) = io.snapshot()

    // correctness gate: base@v1 aggregate + streamed weighted fold ==
    // group-by over the final LWW (per event_type: weighted count and
    // sum of v) — a wrong or incomplete stream cannot pass
    def agg(df: DataFrame, w: org.apache.spark.sql.Column): DataFrame =
      df.groupBy("event_type").agg(
        sum(w).as("n"), sum(col("v") * w).as("sum_v"))
    val folded = agg(KeyedUpsertSink.readBucketedDelta(
        spark, base, keys, order, atVersion = Some(1L)), lit(1L))
      .unionByName(agg(spark.read.parquet(out), col("__weight")))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("sum_v").as("sum_v"))
      .filter(col("n") =!= 0L)
    val direct = agg(KeyedUpsertSink.readBucketedDelta(
      spark, base, keys, order), lit(1L))
    val same = folded.exceptAll(direct).isEmpty &&
      direct.exceptAll(folded).isEmpty
    require(same, "streamed fold != LWW recompute — fix before measuring")

    def fm(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(s"""{"probe":"stream_feed_scale","sf":"$sfDir","scale":$scale,"base_rows":$total,"n_batches":$nBatches,"batch_rows":$batchRows,"per_batch_shuffle_mb":[${perBatchSh.map(fm).mkString(",")}],"per_batch_input_mb":[${perBatchIn.map(fm).mkString(",")}],"max_batch_shuffle_mb":${fm(if (perBatchSh.isEmpty) 0 else perBatchSh.max)},"resolve_shuffle_mb":${fm(ctlSh / 1048576.0)},"resolve_input_mb":${fm(ctlIn / 1048576.0)},"streamed_equals_lww":$same}""")
    spark.stop()
  }
}
