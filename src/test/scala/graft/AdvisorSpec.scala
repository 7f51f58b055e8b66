package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** The bucket-count advisor: `tableStats` measures per-bucket physical
  * health from the manifest + listings, `adviseRebucket` recommends a
  * power-of-two resize only past a 2× hysteresis band (deliberately
  * overgrown table → advice fires with a sane count; healthy table →
  * silent), and delta writers with auto-compaction disabled warn once
  * per (table, JVM) when a touched chain drifts past the bound.
  */
class AdvisorSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def newTable(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  test("stats measure per-bucket files, bytes and chain length; advice respects the hysteresis band") {
    val path = newTable("graft-advisor")
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets = 4, compactAfter = 0) _
    sink(batchDf((1 to 32).map(i => (s"k$i", i.toLong, 10L)): _*), 0L)
    sink(batchDf(("k1", 99L, 20L)), 1L) // one bucket grows a 2-chain
    val stats = KeyedUpsertSink.tableStats(path)
    assert(stats.nonEmpty && stats.forall(_.bytes > 0))
    // a generation's files and bytes are split over the buckets that
    // reference it: the sums are the distinct referenced files, once each
    val referenced = KeyedUpsertSink.readManifest(path).values
      .flatMap(KeyedUpsertSink.chainOf(_)).toSet.toSeq.flatMap { (g: String) =>
        val s = Files.list(java.nio.file.Paths.get(path, g))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toList
        } finally s.close()
      }
    assert(referenced.size == 2, s"one file per commit: $referenced")
    assert(stats.map(_.files).sum == referenced.size)
    assert(stats.map(_.bytes).sum == referenced.map(Files.size).sum)
    assert(stats.map(_.chainLen).max == 2)
    assert(stats.map(_.bucket).distinct.size == stats.size)
    // healthy under the default 1 GiB target: silent
    assert(KeyedUpsertSink.adviseRebucket(path).isEmpty)
    // a table deliberately "overgrown" for a tiny target: advice fires,
    // growth is a power of two at least 2x the current count, and the
    // chain hint rides along
    val total = stats.map(_.bytes).sum
    val advice = KeyedUpsertSink.adviseRebucket(
      path, targetBytesPerBucket = math.max(1L, total / 64))
      .getOrElse(fail("overgrown table must draw advice"))
    assert(advice.currentBuckets == 4)
    assert(advice.recommendedBuckets >= 8)
    assert(Integer.bitCount(advice.recommendedBuckets) == 1, "power of two")
    assert(advice.totalBytes == total)
    assert(advice.maxChainLen == 2)
    assert(advice.reason.contains("rebucketTable"))
    // shrink direction: a target far above the data recommends fewer
    // buckets, also outside the band only
    val shrink = KeyedUpsertSink.adviseRebucket(
      path, targetBytesPerBucket = total * 10, minBuckets = 1)
      .getOrElse(fail("a near-empty wide table must draw shrink advice"))
    assert(shrink.recommendedBuckets <= 2)
    // within the band (recommended == current): silent. Target that
    // puts ideal exactly at 4 buckets:
    assert(KeyedUpsertSink.adviseRebucket(
      path, targetBytesPerBucket = math.max(1L, (total + 3) / 4),
      minBuckets = 1).isEmpty)
    // the default minBuckets floor: a small table never draws
    // shrink-to-1 churn (the floored recommendation reads as healthy)
    assert(KeyedUpsertSink.adviseRebucket(
      path, targetBytesPerBucket = total * 10).isEmpty)
  }

  test("vacuumStats previews exactly what the vacuum reclaims, grace included") {
    val path = newTable("graft-advisor-vac")
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, 2, compactAfter = 0) _
    // two deltas on the same keys, then a fold: the folded generation
    // supersedes both deltas entirely
    val g1 = sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L).get.gen
    val g2 = sink(batchDf(("a", 2L, 20L), ("b", 2L, 20L)), 1L).get.gen
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order)
    val preview = KeyedUpsertSink.vacuumStats(path)
    assert(preview.reclaimableGenerations == Seq(g1, g2).sorted,
      s"superseded generations must preview as reclaimable: $preview")
    assert(preview.reclaimableBytes > 0L)
    assert(preview.retainedVersions == 3)
    // with one manifest of reader grace, v2 still references both — the
    // preview must agree with the vacuum's own live-set rule
    assert(KeyedUpsertSink.vacuumStats(path, graceManifests = 1)
      .reclaimableGenerations.isEmpty)
    // the preview equals the actual reclaim, and after it nothing is left
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(removed == preview.reclaimableGenerations)
    val after = KeyedUpsertSink.vacuumStats(path)
    assert(after.reclaimableGenerations.isEmpty && after.reclaimableBytes == 0L)
  }

  test("adviseRetention sizes the keep window from observed consumer lag; the advised grace provably suffices") {
    val root = Files.createTempDirectory("graft-advisor-ret")
    val base = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, base, keys, order, 2, compactAfter = 0) _
    sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    sink(batchDf(("a", 2L, 20L)), 1L)                 // v2
    // a mirror stream drains through v2, then stalls (its checkpoint
    // holds the committed resume position)
    val q = spark.readStream.format("graft-changes")
      .option("path", base).option("startingVersion", "0").load()
      .writeStream.foreachBatch { (_: DataFrame, _: Long) => () }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(graft.sources.ChangeFeedSourceProvider.checkpointPosition(ckpt)
      == Some((2L, 0L)))
    // a checkpoint no query ever started on reports nothing
    assert(graft.sources.ChangeFeedSourceProvider.checkpointPosition(
      root.resolve("never").toString).isEmpty)
    // the table advances while both consumers lag
    sink(batchDf(("b", 2L, 30L)), 2L) // v3
    sink(batchDf(("a", 3L, 40L)), 3L) // v4
    sink(batchDf(("b", 3L, 50L)), 4L) // v5
    // the fold supersedes every delta generation, so retention genuinely
    // decides whether an old version's generations survive
    KeyedUpsertSink.compactBucketChains(spark, base, keys, order) // v6 (head)
    val streamPos = graft.sources.ChangeFeedSourceProvider
      .checkpointPosition(ckpt).get._1
    val advice = KeyedUpsertSink.adviseRetention(base,
      Seq("mirror-stream" -> streamPos, "nightly-poller" -> 1L))
    assert(advice.head == 6L && advice.laggard == Some(("nightly-poller", 1L)))
    assert(advice.requiredGraceManifests == 5,
      s"versions above v1 = 5: $advice")
    assert(advice.intact, s"nothing vacuumed yet: $advice")
    assert(advice.reason.contains("graceManifests >= 5"))
    // STRUCTURAL sufficiency: vacuum AT the advised grace, then the
    // laggard's whole catch-up feed still reads — a reclaim that had
    // touched its range would fail this loudly
    KeyedUpsertSink.vacuumGenerations(base,
      graceManifests = advice.requiredGraceManifests, quiesceMs = 0L)
    val caught = KeyedUpsertSink.readChangesWeighted(
      spark, base, keys, order, fromVersion = 1L, toVersion = Some(5L))
    assert(caught.collect().nonEmpty)
    // no consumers: grace 0, head-only retention
    val idle = KeyedUpsertSink.adviseRetention(base, Seq.empty)
    assert(idle.requiredGraceManifests == 0 && idle.intact)
    // the OUTRAN case: vacuum with no grace reclaims the superseded
    // generations the laggard still needed — the advice reports the
    // consumer as broken (re-seed), not as a retention to widen
    KeyedUpsertSink.vacuumGenerations(base, graceManifests = 0,
      quiesceMs = 0L)
    val broken = KeyedUpsertSink.adviseRetention(base,
      Seq("nightly-poller" -> 1L))
    assert(!broken.intact, s"v1's generations are gone: $broken")
    assert(broken.reason.contains("re-seed"))
    // a position outside the committed range is a caller error, loudly
    intercept[IllegalArgumentException] {
      KeyedUpsertSink.adviseRetention(base, Seq("typo" -> 99L))
    }
  }

  test("delta writers with compaction disabled warn once per table past the chain-drift bound") {
    val path = newTable("graft-advisor-drift")
    val warned = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int)]
    val old = KeyedUpsertSink.onChainDrift
    KeyedUpsertSink.onChainDrift = (t, b, l) => warned += ((t, b, l))
    try {
      val sink = KeyedUpsertSink.upsertBucketedDelta(
        spark, path, keys, order, numBuckets = 1, compactAfter = 0) _
      // one key, one bucket: every commit appends to the same chain
      (0 until (KeyedUpsertSink.ChainDriftWarnAt + 2)).foreach { i =>
        sink(batchDf(("k", i.toLong, 10L + i)), i.toLong)
      }
      assert(warned.size == 1, s"exactly one warning per (table, JVM): $warned")
      val (t, b, len) = warned.head
      assert(t == path && b == 0L && len > KeyedUpsertSink.ChainDriftWarnAt)
    } finally KeyedUpsertSink.onChainDrift = old
  }
}
