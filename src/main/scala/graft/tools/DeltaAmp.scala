package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Tables => T}
import graft.sink.KeyedUpsertSink

/** Measures the write amplification of the merge-on-read keyed table:
  * a trickle of small batches into a large table should pay O(batch)
  * bytes per commit, plus the chain folds auto-compaction adds. Loads a
  * big base, then drips N small batches with compaction off and on, and
  * reports bytes-written-after-base (sum of all gen-* dirs, superseded
  * included — that IS the amplification) and walls. (The retired
  * merge-on-write comparison arm is recorded in SURVEY §17.4.)
  *
  * Usage: runMain graft.tools.DeltaAmp <sfDir> [nBatches] [batchRows]
  */
object DeltaAmp {
  private def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try {
      val it = s.iterator()
      var sum = 0L
      while (it.hasNext) {
        val q = it.next()
        if (Files.isRegularFile(q)) sum += Files.size(q)
      }
      sum
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 32
    val batchRows = if (args.length > 2) args(2).toInt else 200
    val spark = graft.Config.session()

    // realistic row width (keep the string columns): a 3-long skeleton
    // makes parquet per-FILE overhead dominate both sinks' output and
    // hides the per-commit asymmetry this probe exists to measure
    val ev = T.events(spark, sfDir).select(col("user_id"),
      col("event_id"), col("ts_us"), col("event_type"), col("props"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = ev.count()
    // key on event_id — the reference's PutItem partition key (`id`,
    // load.ts:61-78): the LWW table then holds every event (not one row
    // per user), giving the big-table premise the tier is designed for
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    val root = Files.createTempDirectory("graft-delta-amp")
    val nb = 16

    // one trickle batch: batchRows rows spread across MANY keys (every
    // touched bucket's chain grows)
    def trickle(i: Int): DataFrame = ev
      .filter(pmod(col("event_id") + lit(i), lit(total / batchRows.toLong)) === 0)
      .withColumn("ts_us", col("ts_us") + lit(1000000L * (i + 1)))

    def run(tag: String)(
        sink: (DataFrame, Long) => Unit): (Long, Long, Double) = {
      val tbl = root.resolve(tag).toString
      sink(ev, 0L) // the big base load
      val base = dirBytes(Paths.get(tbl))
      val t0 = System.nanoTime()
      (1 to nBatches).foreach(i => sink(trickle(i), i.toLong))
      val wall = (System.nanoTime() - t0) / 1e9
      (base, dirBytes(Paths.get(tbl)) - base, wall)
    }

    val (base, deltaAmp, deltaWall) = run("delta") { (b, i) =>
      KeyedUpsertSink.upsertBucketedDelta(
        spark, root.resolve("delta").toString, keys, order, nb,
        compactAfter = 0)(b, i); ()
    }
    // and the honest variant: delta WITH its read-amplification bound
    // (auto-compaction) — the number a production config would see
    val (_, deltaCAmp, deltaCWall) = run("deltac") { (b, i) =>
      KeyedUpsertSink.upsertBucketedDelta(
        spark, root.resolve("deltac").toString, keys, order, nb,
        compactAfter = 8)(b, i); ()
    }

    println(f"""{"probe":"delta_amp","sf":"$sfDir","base_rows":$total,"n_batches":$nBatches,"batch_rows":$batchRows,"base_bytes":$base,"delta_amp_bytes":$deltaAmp,"delta_compact_amp_bytes":$deltaCAmp,"delta_wall_s":$deltaWall%.2f,"delta_compact_wall_s":$deltaCWall%.2f}""")
    spark.stop()
  }
}
