package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** The r17 verdict's finding #3, measured instead of assumed: the
  * `graft-table` DSv1 facade routes rows through a Row-typed
  * `buildScan` (one InternalRow↔Row round-trip per row) that the
  * direct `readBucketedDelta` DataFrame does not pay. This probe
  * times the full-width resolve through BOTH doors over the same
  * table at ×1/×10/×100, so the migrate-to-DSv2 decision rests on a
  * number: if the facade's overhead stays a small constant factor,
  * the convenience surface keeps DSv1 (the direct API remains the
  * library fast path); a superlinear or multi-× gap would justify a
  * DSv2 `TableProvider` port.
  *
  * Usage: runMain graft.tools.FacadeCostProbe <sfDir> [scales...]
  * (defaults: 1 10 — add 100 for the two-decade run)
  */
object FacadeCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = graft.Config.session()
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))

    def checksum(df: DataFrame): Long =
      df.agg(count(lit(1)), sum(pmod(xxhash64(struct(df.columns.map(col): _*)), lit(1000000007L))))
        .head().getLong(0)
    def time(scale: Int, tag: String)(run: => Long): Double = {
      val t0 = System.nanoTime()
      val n = run
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[facade-cost] x$scale%-4d $tag%-10s rows=$n%-8d wall=$wall%6.2fs")
      wall
    }

    scales.foreach { scale =>
      val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      val root = Files.createTempDirectory(s"graft-facade-x$scale")
      val t = root.resolve("t").toString
      val up = KeyedUpsertSink.upsertBucketedDelta(
        spark, t, keys, order, numBuckets = 16, compactAfter = 0) _
      up(ev, 0L)
      up(ev.filter(col("event_id") % 2 === 0), 1L) // a chain: window runs
      def direct() = KeyedUpsertSink.readBucketedDelta(spark, t, keys, order)
      def facade() = spark.read.format("graft-table").option("path", t).load()
      // alternate doors, two reps each; report the mins
      var (wd, wf) = (Double.MaxValue, Double.MaxValue)
      var (cd, cf) = (0L, 0L)
      (1 to 2).foreach { _ =>
        wd = math.min(wd, time(scale, "direct") { cd = checksum(direct()); cd })
        wf = math.min(wf, time(scale, "facade") { cf = checksum(facade()); cf })
      }
      require(cd == cf, s"x$scale checksum mismatch: direct=$cd facade=$cf")
      println(f"[facade-cost] x$scale%-4d ratio facade/direct = ${wf / wd}%.2f")
    }
    spark.stop()
  }
}
