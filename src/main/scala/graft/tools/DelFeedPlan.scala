package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** Scratch diagnostic for the delete-wave feed cost (round 18): build
  * the DeleteScale ×N control table, commit a 500-key delete, and
  * explain + measure ONLY `readChangesWeighted(v2 → v3)` — isolating
  * the feed plan from the mirror sink's own commits.
  */
object DelFeedPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scale = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
    val root = Files.createTempDirectory(s"graft-delfeed-x$scale")
    val t = root.resolve("t").toString
    val up = KeyedUpsertSink.upsertBucketedDelta(
      spark, t, keys, order, numBuckets = 16, compactAfter = 0) _
    up(ev, 0L)
    up(ev.filter(col("event_id") % 2 === 0), 1L)
    val wave = ev.filter(col("event_id") % 997 === 0)
      .select("event_id").distinct().limit(500)
    KeyedUpsertSink.deleteBucketedDelta(spark, t, keys, order, 16)(
      wave.withColumn("ts_us", lit(4102444800000000L)), 2L)
    val feed = KeyedUpsertSink.readChangesWeighted(spark, t, keys, order,
      fromVersion = 2L)
    feed.explain("formatted")
    io.reset()
    val t0 = System.nanoTime()
    val n = feed.count()
    val (in, sh) = io.snapshot()
    println(f"[delfeed] x$scale batch-facade rows=$n " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2f " +
      f"input=${in / 1e6}%.2fMB shuffle=${sh / 1e6}%.3fMB")
    // the STREAMED drain of the same range into a counting sink — no
    // replica commits, so this isolates the spliced streaming plan
    io.reset()
    val t1 = System.nanoTime()
    var streamed = 0L
    val q = spark.readStream.format("graft-changes")
      .option("path", t).option("startingVersion", "2")
      .option("maxVersionsPerTrigger", "1")
      .option("weighted", "true")
      .load()
      .writeStream
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed += df.count()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val (in2, sh2) = io.snapshot()
    println(f"[delfeed] x$scale streamed-count rows=$streamed " +
      f"wall=${(System.nanoTime() - t1) / 1e9}%.2f " +
      f"input=${in2 / 1e6}%.2fMB shuffle=${sh2 / 1e6}%.3fMB")
    // replicate the weighted SINK's steps by hand on a bootstrapped
    // replica, measuring each
    val b = root.resolve("replica").toString
    val upB = KeyedUpsertSink.upsertBucketedDelta(
      spark, b, keys, order, numBuckets = 16, compactAfter = 8) _
    upB(KeyedUpsertSink.readBucketedDelta(spark, t, keys, order,
      atVersion = Some(2L)), 0L)
    def step(tag: String)(run: => Long): Unit = {
      io.reset()
      val s0 = System.nanoTime()
      val n = run
      val (i3, s3) = io.snapshot()
      println(f"[delfeed] x$scale sink:$tag%-12s rows=$n " +
        f"wall=${(System.nanoTime() - s0) / 1e9}%.2f " +
        f"input=${i3 / 1e6}%.2fMB shuffle=${s3 / 1e6}%.3fMB")
    }
    val wCol = "__weight"
    val cached = feed.persist()
    step("badweights") {
      cached.filter(!coalesce(abs(col(wCol)) === 1L, lit(false))).count()
    }
    val plus = cached.filter(col(wCol) === 1L).drop(wCol)
    val pKeys = plus.select(keys.map(col): _*).distinct()
      .select(keys.map(k => col(k).as(s"__p_$k")): _*)
    val anti = keys.map(k => col(k) <=> col(s"__p_$k")).reduce(_ && _)
    val minus = cached.filter(col(wCol) === -1L).drop(wCol)
      .join(pKeys, anti, "left_anti")
    step("hasminus") { minus.limit(1).count() }
    step("upsert-plus") {
      upB(plus, 1L); 0L
    }
    step("delete-minus") {
      KeyedUpsertSink.deleteBucketedDelta(spark, b, keys, order,
        numBuckets = 16, compactAfter = 8)(minus, 1L).map(_.version)
        .getOrElse(0L)
    }
    spark.stop()
  }
}
