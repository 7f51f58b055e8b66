package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** Measures what the requested-key pushdown in
  * [[KeyedUpsertSink.lookupBucketed]] buys at scale: the LWW window
  * hash-partitions by key, so WITHOUT the below-window predicate a
  * 2-key point lookup shuffles every row of the pruned buckets through
  * the window exchange — O(bucket), which at a fixed bucket count grows
  * linearly with the table. With it, the exchange carries O(requested)
  * rows whatever the table size.
  *
  * Three measurements per scale, raw TaskEnd bytes ([[IoListener]]):
  *  1. `lookup` — the shipped path (bucket pruning + key pushdown);
  *  2. `resolve+filter` control — the naive read a user without the
  *     point-lookup API writes: full LWW resolve, filter above it
  *     (correct, but pays the whole table's window shuffle);
  *  3. the table's resident bytes, for the denominator.
  *
  * Usage: runMain graft.tools.LookupPushProbe <sfDir> [scales...]
  * (defaults: 1 10 — add 100 for the two-decade run)
  */
object LookupPushProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = graft.Config.session()
    import spark.implicits._
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    scales.foreach { scale =>
      val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      val root = Files.createTempDirectory(s"graft-lkp-push-x$scale")
      val t = root.resolve("t").toString
      val up = KeyedUpsertSink.upsertBucketedDelta(
        spark, t, keys, order, numBuckets = 16, compactAfter = 0) _
      up(ev, 0L)
      up(ev.limit(500), 1L) // a real chain, so the window path runs
      val tableBytes = {
        val w = Files.walk(root)
        try w.mapToLong(p =>
          if (Files.isRegularFile(p)) Files.size(p) else 0L).sum()
        finally w.close()
      }
      val want = ev.select("event_id").as[Long].distinct().limit(2).collect()
      def measure(tag: String)(run: => Long): Unit = {
        io.reset()
        val t0 = System.nanoTime()
        val n = run
        val wall = (System.nanoTime() - t0) / 1e9
        val (in, sh) = io.snapshot()
        println(f"[lkp-push] x$scale%-4d $tag%-16s rows=$n%-4d " +
          f"wall=$wall%6.2fs input=${in / 1e6}%9.2fMB " +
          f"shuffle=${sh / 1e6}%9.3fMB table=${tableBytes / 1e6}%8.2fMB")
      }
      measure("lookup") {
        KeyedUpsertSink.lookupBucketed(
          spark, t, keys, order, want.toSeq.toDF("event_id")).collect().length.toLong
      }
      // the pre-pushdown gate shape: a SEMI-JOIN above the resolve.
      // Catalyst pushes a LITERAL filter on the window partition keys
      // below the window by itself — but it cannot push a join, so this
      // is both the old lookup's cost shape (per pruned bucket) and the
      // naive subset read's (per table)
      measure("resolve+semijoin") {
        KeyedUpsertSink.readBucketedDelta(spark, t, keys, order)
          .join(broadcast(want.toSeq.toDF("event_id")), keys, "left_semi")
          .collect().length.toLong
      }
    }
    spark.stop()
  }
}
