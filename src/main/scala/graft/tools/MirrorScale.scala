package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.KeyedUpsertSink
import graft.sources.GraftUpsertSinkProvider

/** ×1/×10/×100 rehearsal for the DECLARATIVE replica pipeline
  * (`readStream graft-changes → writeStream graft-upsert`): the claim
  * under test is that a trickle batch's end-to-end cost — feed
  * derivation AND the replica's upsert commit — stays BATCH-scale at
  * every base size, while the control (one full LWW resolve of the
  * upstream) grows with the base. Complements `StreamFeedScale`
  * (source only) and `SlicedViewScale` (view maintenance): this is the
  * full zero-code pipeline a replica deployment would run.
  *
  * Per-batch bytes via the TaskEnd listener snapshotted in the SINK's
  * own post-commit seam ([[GraftUpsertSinkProvider.onSinkCommit]]) as
  * cumulative deltas — under AQE the feed's stages execute eagerly
  * inside getBatch, before the sink sees the batch.
  *
  * Correctness gate: the replica must equal the upstream's resolved
  * read after the drain — a wrong or incomplete mirror cannot pass.
  *
  * Usage: runMain graft.tools.MirrorScale <sfDir> [nBatches] [batchRows] [scale]
  */
object MirrorScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val batchRows = if (args.length > 2) args(2).toInt else 500
    val scale = if (args.length > 3) args(3).toInt else 1
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    val numBuckets = 16
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = ev.count()
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))

    val root = Files.createTempDirectory("graft-mirror")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, a, keys, order, numBuckets, compactAfter = 0) _
    sink(ev, 0L) // v1 — the stream's floor
    def trickle(i: Int) =
      ev.filter(pmod(col("event_id") + lit(i),
          lit(math.max(total / batchRows.toLong, 1L))) === 0)
        .withColumn("ts_us", col("ts_us") + lit(1000000L * (i + 1)))
        .withColumn("v", pmod(col("v") + lit(3600000L * i), lit(86400000L)))
    (1 to nBatches).foreach(i => sink(trickle(i), i.toLong)) // v2..v(n+1)

    // drain the trickles through the FULL pipeline, one version per
    // micro-batch, bytes attributed per batch at the sink's commit seam
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastSh = 0L
    val old = GraftUpsertSinkProvider.onSinkCommit
    GraftUpsertSinkProvider.onSinkCommit = _ => {
      val (_, sh) = io.snapshot()
      perBatch += (sh - lastSh) / 1048576.0
      lastSh = sh
    }
    io.reset()
    try {
      val q = spark.readStream.format("graft-changes")
        .option("path", a)
        // 0 = the replica's bootstrap: the (0, 1] image arrives as the
        // FIRST batch (table-scale once, by design), the trickles after
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("graft-upsert")
        .option("path", b).option("streamId", "mirror")
        .option("keys", "event_id").option("orderBy", "ts_us")
        .option("numBuckets", numBuckets.toString)
        .option("compactAfter", "0")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally GraftUpsertSinkProvider.onSinkCommit = old

    // control: ONE full LWW resolve of the upstream at head — the
    // number that grows with the base while mirror batches stay flat
    io.reset()
    KeyedUpsertSink.readBucketedDelta(spark, a, keys, order)
      .write.format("noop").mode("overwrite").save()
    val (_, ctlSh) = io.snapshot()

    // correctness gate: the replica equals the upstream, exactly
    val ra = KeyedUpsertSink.readBucketedDelta(spark, a, keys, order)
    val rb = KeyedUpsertSink.readBucketedDelta(spark, b, keys, order)
      .select(ra.columns.map(col).toIndexedSeq: _*)
    val same = ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty
    require(same, "replica != upstream resolved read — fix before measuring")

    def fm(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val bootstrap = perBatch.headOption.getOrElse(0.0)
    val trickles = perBatch.drop(1)
    println(s"""{"probe":"mirror_scale","sf":"$sfDir","scale":$scale,"base_rows":$total,"n_batches":$nBatches,"batch_rows":$batchRows,"bootstrap_batch_shuffle_mb":${fm(bootstrap)},"per_trickle_shuffle_mb":[${trickles.map(fm).mkString(",")}],"max_trickle_shuffle_mb":${fm(if (trickles.isEmpty) 0 else trickles.max)},"resolve_shuffle_mb":${fm(ctlSh / 1048576.0)},"replica_equals_upstream":$same}""")
    spark.stop()
  }
}
