package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.KeyedUpsertSink

/** ×1/×10/×100 rehearsal for the DELETE tier (the r17 verdict's one
  * uninstrumented surface): raw TaskEnd bytes (IoListener) for
  *
  *  1. `resolve+tomb` — full LWW resolve of a tombstone-heavy table
  *     (~30% of keys deleted on a 2-generation chain) vs
  *  2. `resolve-ctl` — the tombstone-free control of the same base;
  *     the claim: winning tombstones cost the resolve only their own
  *     row count (both curves scale with the base, the GAP stays
  *     proportional to the tombstone share — no blow-up);
  *  3. `purge` — [[KeyedUpsertSink.purgeTombstones]] over the matching
  *     horizon: wall/bytes vs buckets rewritten (the fold is O(touched
  *     buckets) = O(table) here since every bucket holds deleted keys
  *     — the honest cost of a full-horizon purge);
  *  4. `purge-noop` — the immediate second purge: the two-stage
  *     detection (r18) must make it a detection-only scan that
  *     rewrites nothing;
  *  5. `mirror-del` — the weighted delete-aware mirror's INCREMENTAL
  *     drain of a FIXED-size delete wave (500 keys) after bootstrap:
  *     the claim is O(batch), i.e. FLAT bytes across base scales
  *     (the bootstrap drain is O(table) by definition and reported for
  *     the denominator).
  *
  * Correctness gates ride in-probe: the purged resolve must equal the
  * control minus deleted keys (count-checked), and the mirror must
  * equal its upstream's resolve after every drain.
  *
  * Usage: runMain graft.tools.DeleteScale <sfDir> [scales...]
  * (defaults: 1 10 — add 100 for the two-decade run)
  */
object DeleteScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("delete-scale")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    val numBuckets = 16
    val horizon = 4102444800000000L // tombstone order: above every event

    def measure(scale: Int, tag: String)(run: => Long): Unit = {
      io.reset()
      val t0 = System.nanoTime()
      val n = run
      val wall = (System.nanoTime() - t0) / 1e9
      val (in, sh) = io.snapshot()
      println(f"[del-scale] x$scale%-4d $tag%-14s rows=$n%-8d " +
        f"wall=$wall%6.2fs input=${in / 1e6}%9.2fMB shuffle=${sh / 1e6}%9.3fMB")
    }
    // force full row width through the resolve (a bare count would let
    // the scan prune the value columns the resolve must carry)
    def checksum(df: DataFrame): Long =
      df.agg(count(lit(1)), sum(pmod(xxhash64(struct(df.columns.map(col): _*)), lit(1000000007L))))
        .head().getLong(0)

    scales.foreach { scale =>
      val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = ev.count()
      val root = Files.createTempDirectory(s"graft-del-x$scale")
      val tDel = root.resolve("tdel").toString
      val tCtl = root.resolve("tctl").toString
      def up(t: String) = KeyedUpsertSink.upsertBucketedDelta(
        spark, t, keys, order, numBuckets, compactAfter = 0) _
      Seq(tDel, tCtl).foreach { t =>
        up(t)(ev, 0L)                                       // v1
        up(t)(ev.filter(col("event_id") % 2 === 0), 1L)     // v2: a chain
      }
      val delKeys = ev.filter(col("event_id") % 10 < 3)
        .select("event_id").distinct()
      val nDel = delKeys.count()
      KeyedUpsertSink.deleteBucketedDelta(spark, tDel, keys, order,
        numBuckets)(delKeys.withColumn("ts_us", lit(horizon)), 2L) // v3
      println(s"[del-scale] x$scale base=$total deleted=$nDel " +
        s"(${100 * nDel / math.max(total, 1)}%)")

      measure(scale, "resolve+tomb") {
        checksum(KeyedUpsertSink.readBucketedDelta(spark, tDel, keys, order))
      }
      measure(scale, "resolve-ctl") {
        checksum(KeyedUpsertSink.readBucketedDelta(spark, tCtl, keys, order))
      }
      var rewritten: Seq[Long] = Nil
      measure(scale, "purge") {
        rewritten = KeyedUpsertSink.purgeTombstones(spark, tDel, keys,
          order, purgeIf = col("ts_us") >= lit(horizon))
        rewritten.size.toLong
      }
      println(s"[del-scale] x$scale purge rewrote ${rewritten.size} buckets")
      measure(scale, "purge-noop") {
        KeyedUpsertSink.purgeTombstones(spark, tDel, keys, order,
          purgeIf = col("ts_us") >= lit(horizon)).size.toLong
      }
      measure(scale, "resolve-purged") {
        checksum(KeyedUpsertSink.readBucketedDelta(spark, tDel, keys, order))
      }
      // gate: purged table == control minus the deleted keys
      val want = total - nDel
      val got = KeyedUpsertSink.readBucketedDelta(spark, tDel, keys, order)
        .count()
      require(got == want, s"x$scale purged resolve $got != expected $want")

      // the weighted delete-aware mirror: bootstrap (O(table)) then a
      // FIXED 500-key delete wave — the incremental drain must be flat
      val b = root.resolve("mirror").toString
      val ckpt = root.resolve("ckpt").toString
      def drain(): Unit = {
        val q = spark.readStream.format("graft-changes")
          .option("path", tCtl).option("startingVersion", "0")
          .option("maxVersionsPerTrigger", "1")
          .option("weighted", "true")
          .load()
          .writeStream.format("graft-upsert")
          .option("path", b).option("streamId", "delmirror")
          .option("keys", "event_id").option("orderBy", "ts_us")
          .option("numBuckets", numBuckets.toString)
          .option("weighted", "true")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      measure(scale, "mirror-boot") { drain(); 0L }
      // settle the checkpoint: a restart re-plans the PREVIOUS drain's
      // last batch (the engine's populate-start-offsets replay; the
      // sink's high-water skips the commit but the source still serves
      // the range) — this idle drain absorbs the bootstrap tail's
      // replay so mirror-del below measures the DELETE wave alone
      measure(scale, "mirror-settle") { drain(); 0L }
      val wave = ev.filter(col("event_id") % 997 === 0)
        .select("event_id").distinct().limit(500)
      val nWave = wave.count()
      KeyedUpsertSink.deleteBucketedDelta(spark, tCtl, keys, order,
        numBuckets)(wave.withColumn("ts_us", lit(horizon)), 2L)
      measure(scale, "mirror-del") { drain(); nWave }
      // an idle drain (nothing new upstream) isolates per-restart
      // overhead from the delete batch's own cost
      measure(scale, "mirror-idle") { drain(); 0L }
      val up2 = KeyedUpsertSink.readBucketedDelta(spark, tCtl, keys, order)
      val mir = KeyedUpsertSink.readBucketedDelta(spark, b, keys, order)
      require(mir.count() == up2.count(),
        s"x$scale mirror ${mir.count()} != upstream ${up2.count()}")
      ev.unpersist()
      ()
    }
    spark.stop()
  }
}
