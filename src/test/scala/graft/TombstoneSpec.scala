package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.{AggCol, DistinctCol, ExtremumCol}

/** Event-sourced deletes ([[KeyedUpsertSink.deleteBucketedDelta]]):
  * tombstones compete in the LWW rank (replay-deterministic), deleted
  * keys leave every resolved read but survive time travel, physical
  * rewrites preserve winning tombstones, the weighted feed carries the
  * bare -1 retraction, the plain feed refuses loudly, and the
  * maintained view folds a delete like any retraction.
  */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def delDf(rows: (String, Long)*): DataFrame =
    rows.toDF("k", "ts")

  private def newTable(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private def sink(path: String) = KeyedUpsertSink.upsertBucketedDelta(
    spark, path, keys, order, numBuckets = 4, compactAfter = 0) _

  private def del(path: String) = KeyedUpsertSink.deleteBucketedDelta(
    spark, path, keys, order, numBuckets = 4) _

  private def table(path: String, at: Option[Long] = None): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, path, keys, order, atVersion = at)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  test("a delete removes the key from every resolved read; time travel below it still serves the key") {
    val t = newTable("graft-del")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L)), 0L) // v1
    del(t)(delDf(("b", 20L)), 1L)                                        // v2
    assert(table(t) == Set(("a", 1L, 10L), ("c", 3L, 10L)))
    // the resolved schema never leaks the marker column
    assert(!KeyedUpsertSink.readBucketedDelta(spark, t, keys, order)
      .columns.contains("__tombstone"))
    // point lookup: deleted key absent, schema intact, live key served
    val got = KeyedUpsertSink.lookupBucketed(
      spark, t, keys, order, Seq("b", "c").toDF("k"))
    assert(got.select("k", "v", "ts").as[(String, Long, Long)]
      .collect().toSet == Set(("c", 3L, 10L)))
    // the SQL facade agrees (both routes)
    val gt = spark.read.format("graft-table").option("path", t).load()
    assert(gt.count() == 2L)
    assert(gt.filter($"k" === "b").count() == 0L)
    // time travel below the delete still serves b
    assert(table(t, at = Some(1L)) ==
      Set(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L)))
    // matching read (the view's recompute seam) excludes the dead key
    val m = KeyedUpsertSink.readBucketedDeltaMatching(
      spark, t, keys, order, Seq("b", "a").toDF("k"), Seq("k"))
    assert(m.select("k").as[String].collect().toSet == Set("a"))
  }

  test("deletes are order-ranked: a replayed older event loses, a later upsert re-creates, a stale delete no-ops") {
    val t = newTable("graft-del-order")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L) // v1
    del(t)(delDf(("b", 15L)), 1L)                        // v2: delete wins
    // a replayed OLD event (ts=12 < 15) must NOT resurrect b
    sink(t)(batchDf(("b", 9L, 12L)), 2L)                 // v3
    assert(table(t) == Set(("a", 1L, 10L)))
    // a NEW upsert above the tombstone re-creates the key
    sink(t)(batchDf(("b", 7L, 20L)), 3L)                 // v4
    assert(table(t) == Set(("a", 1L, 10L), ("b", 7L, 20L)))
    // a STALE delete (ts=5, below a's row) is a no-op
    del(t)(delDf(("a", 5L)), 4L)                         // v5
    assert(table(t) == Set(("a", 1L, 10L), ("b", 7L, 20L)))
  }

  test("physical rewrites preserve winning tombstones: compaction and rebucket cannot resurrect a key") {
    val t = newTable("graft-del-phys")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L) // v1
    del(t)(delDf(("b", 15L)), 1L)                        // v2
    // full-chain fold: the tombstone must ride the compacted generation
    assert(KeyedUpsertSink.compactBucketChains(
      spark, t, keys, order, minChain = 2).nonEmpty)
    sink(t)(batchDf(("b", 9L, 12L)), 2L) // replayed old event post-fold
    assert(table(t) == Set(("a", 1L, 10L)),
      "compaction dropped a winning tombstone: the replayed event resurrected b")
    // whole-table re-hash: same invariant across the layout change
    KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 8)
    KeyedUpsertSink.upsertBucketedDelta(
      spark, t, keys, order, numBuckets = 8, compactAfter = 0)(
      batchDf(("b", 9L, 13L)), 3L)
    assert(table(t) == Set(("a", 1L, 10L)),
      "rebucket dropped a winning tombstone: the replayed event resurrected b")
  }

  test("the weighted feed carries a delete as the bare -1 last image; the plain feed refuses loudly") {
    val t = newTable("graft-del-feed")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L) // v1
    del(t)(delDf(("b", 15L)), 1L)                        // v2
    val w = KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 1L)
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w == Set(("b", 2L, 10L, -1L)),
      s"a delete is the bare -1 of the last live image, got $w")
    // plain feed over the tombstoned range: loud, with the fix named
    val err = intercept[IllegalArgumentException] {
      KeyedUpsertSink.readChangesBetween(
        spark, t, keys, order, fromVersion = 1L).collect()
    }
    assert(err.getMessage.contains("readChangesWeighted"))
    // a range ending BEFORE the first delete still reads plainly
    assert(KeyedUpsertSink.readChangesBetween(
      spark, t, keys, order, fromVersion = 0L, toVersion = Some(1L))
      .count() == 2L)
    // delete + re-insert in ONE range: -1 old image, +1 new image
    sink(t)(batchDf(("b", 7L, 20L)), 2L) // v3
    val w2 = KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 1L)
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w2 == Set(("b", 2L, 10L, -1L), ("b", 7L, 20L, 1L)))
    // a compaction inside the range breaks the chain prefix and forces
    // the FULL-DIFF path — the tombstoned range must read identically
    assert(KeyedUpsertSink.compactBucketChains(
      spark, t, keys, order, minChain = 2).nonEmpty)
    val w3 = KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 1L)
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w3 == w2, "the full-diff path must agree with the append path")
    // version granularity: one delete must not poison plain consumers
    // forever — a range STARTING at-or-after the delete version is
    // provably complete (every tombstone ≤ from) and reads plainly
    assert(KeyedUpsertSink.readChangesBetween(
      spark, t, keys, order, fromVersion = 2L)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
      == Set(("b", 7L, 20L)),
      "plain feeds must resume past the last delete version")
  }

  test("the maintained view folds a delete: groups shrink, empty, and re-derive their extrema and distincts") {
    val t = newTable("graft-del-view")
    val view = newTable("graft-del-view-v")
    val vk = Seq("k")
    val sinkG = KeyedUpsertSink.upsertBucketedDelta(
      spark, t, vk, Seq(col("ts")), numBuckets = 4, compactAfter = 0) _
    def gBatch(rows: (String, String, Long, Long)*): DataFrame =
      rows.toDF("k", "g", "v", "ts")
    sinkG(gBatch(("a", "x", 1L, 10L), ("b", "x", 5L, 10L),
      ("c", "y", 3L, 10L)), 0L) // v1
    val dims = Seq("g")
    val aggs = Seq(AggCol("sum_v", col("v")))
    val ext = Seq(ExtremumCol("min_v", col("v"), isMin = true))
    val dst = Seq(DistinctCol("n_vals", col("v")))
    MaterializedAggView.bootstrap(
      spark, t, view, vk, Seq(col("ts")), dims, aggs, ext, dst)
    // delete a, the MIN-holder of group x, and c — emptying group y
    KeyedUpsertSink.deleteBucketedDelta(spark, t, vk, Seq(col("ts")),
      numBuckets = 4)(Seq(("a", 20L), ("c", 20L)).toDF("k", "ts"), 1L)
    MaterializedAggView.refresh(
      spark, t, view, vk, Seq(col("ts")), dims, aggs, ext, dst)
    val got = MaterializedAggView.read(spark, view)
      .select("g", "sum_v", "min_v", "n_vals")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("x", 5L, 5L, 1L)),
      s"group y must empty, x's min must re-derive to 5: got $got")
  }

  test("a delete never evolves the schema contract and refuses a batch without the order column") {
    val t = newTable("graft-del-schema")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L) // v1
    val before = KeyedUpsertSink.storedSchema(t).get
    del(t)(delDf(("b", 15L)), 1L)
    assert(KeyedUpsertSink.storedSchema(t).get == before,
      "a tombstone commit must not change the committed column contract")
    // a later normal upsert with the original schema still commits
    sink(t)(batchDf(("d", 4L, 30L)), 2L)
    assert(table(t) == Set(("a", 1L, 10L), ("d", 4L, 30L)))
    // delete rows must carry the ORDER column — a null-filled order
    // would silently lose every LWW comparison
    val err = intercept[IllegalArgumentException] {
      del(t)(Seq("a").toDF("k"), 3L)
    }
    assert(err.getMessage.contains("key/order column"))
    // path-only overload uses the stored spec
    KeyedUpsertSink.deleteBucketedDelta(spark, t, numBuckets = 4)(
      delDf(("d", 40L)), 3L)
    assert(table(t) == Set(("a", 1L, 10L)))
  }

  test("purgeTombstones physically removes winning tombstones past the operator's horizon — and only those") {
    val t = newTable("graft-del-purge")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L)), 0L) // v1
    del(t)(delDf(("b", 15L)), 1L)  // old tombstone (ts=15)
    del(t)(delDf(("c", 100L)), 2L) // recent tombstone (ts=100)
    val before = table(t)
    assert(before == Set(("a", 1L, 10L)))
    // purge only tombstones below the horizon ts<50: b's goes, c's stays
    val purged = KeyedUpsertSink.purgeTombstones(
      spark, t, keys, order, col("ts") < 50L)
    assert(purged.nonEmpty)
    // the resolved image is UNCHANGED by the purge itself
    assert(table(t) == before)
    // ...so the change feed across the purge version reports nothing
    assert(KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 3L).count() == 0L)
    // the CONTRACT, both directions: a replay below b's old tombstone
    // now RESURRECTS b (the operator declared such replays impossible —
    // this is what "physically removed" means)...
    sink(t)(batchDf(("b", 9L, 12L)), 3L)
    assert(table(t) == Set(("a", 1L, 10L), ("b", 9L, 12L)),
      "purged tombstone must be gone: the replayed event wins now")
    // ...while c's UNPURGED tombstone still beats its replay
    sink(t)(batchDf(("c", 9L, 60L)), 4L)
    assert(table(t) == Set(("a", 1L, 10L), ("b", 9L, 12L)),
      "the above-horizon tombstone must survive the purge")
    // a second purge with nothing to do is a no-op
    assert(KeyedUpsertSink.purgeTombstones(
      spark, t, keys, order, col("ts") < 50L).isEmpty)
  }

  test("a purge that empties a bucket removes it from the manifest; the table still reads") {
    val t = newTable("graft-del-purge-empty")
    // one lone key: its bucket's whole content is (row, tombstone)
    sink(t)(batchDf(("solo", 1L, 10L)), 0L)
    del(t)(delDf(("solo", 15L)), 1L)
    assert(table(t).isEmpty)
    val purged = KeyedUpsertSink.purgeTombstones(
      spark, t, keys, order, lit(true))
    assert(purged.nonEmpty)
    assert(KeyedUpsertSink.readManifest(t).isEmpty,
      "a fully-purged bucket must leave the manifest")
    // an empty manifest reads as the documented zero-column empty frame
    // (same contract as a never-committed table)
    assert(KeyedUpsertSink.readBucketedDelta(spark, t, keys, order).isEmpty)
    // and the table stays writable after
    sink(t)(batchDf(("solo", 2L, 20L)), 2L)
    assert(table(t) == Set(("solo", 2L, 20L)))
  }

  test("feeds diff a purge-removed bucket: pre-delete ranges still see the retraction, post-delete ranges see nothing") {
    val t = newTable("graft-del-purge-feed")
    sink(t)(batchDf(("solo", 1L, 10L)), 0L) // v1: the bucket's only key
    del(t)(delDf(("solo", 15L)), 1L)        // v2
    KeyedUpsertSink.purgeTombstones(spark, t, keys, order, lit(true)) // v3
    assert(KeyedUpsertSink.readManifest(t).isEmpty)
    // the admission-control walk lists the removed bucket as touched
    val stepBuckets = KeyedUpsertSink.touchedBucketsAt(t, 3L)
    assert(stepBuckets.exists(_.nonEmpty),
      s"the purge step must touch the removed bucket, got $stepBuckets")
    // a weighted range spanning delete+purge carries the bare -1 — the
    // removed bucket's before-image must still be diffed, or a
    // downstream view keeps the deleted key's contribution forever
    val w = KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 1L)
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w == Set(("solo", 1L, 10L, -1L)),
      s"the purge-removed bucket's retraction must survive, got $w")
    // a range covering ONLY the purge reports nothing (the resolved
    // image did not change — the key was already absent at v2)
    assert(KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 2L).count() == 0L)
  }

  test("purgeIf is NULL-safe: a predicate over null-filled tombstone columns never purges unmatched tombstones") {
    val t = newTable("graft-del-purge-null")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L), ("c", 3L, 10L)), 0L)
    del(t)(delDf(("b", 15L)), 1L)
    del(t)(delDf(("c", 100L)), 2L)
    // `v` is null-filled on tombstone rows, so the second disjunct is
    // SQL NULL there: c's tombstone (ts=100) must evaluate
    // false || NULL = NULL → NOT matched → NOT purged
    KeyedUpsertSink.purgeTombstones(spark, t, keys, order,
      col("ts") < 50L || col("v") === 999L)
    // c's unpurged tombstone still beats a replay below it...
    sink(t)(batchDf(("c", 9L, 60L)), 3L)
    assert(table(t) == Set(("a", 1L, 10L)),
      "an unmatched (NULL-predicate) tombstone must survive the purge")
    // ...while b's matched one is really gone
    sink(t)(batchDf(("b", 9L, 12L)), 4L)
    assert(table(t) == Set(("a", 1L, 10L), ("b", 9L, 12L)))
  }

  test("purge is a no-op on a never-versioned table, not a refusal") {
    val t = newTable("graft-del-purge-v0")
    // an empty first batch: the directory exists, nothing committed
    assert(sink(t)(batchDf(), 0L).isEmpty)
    assert(KeyedUpsertSink.purgeTombstones(
      spark, t, keys, order, lit(true)).isEmpty)
  }

  test("a commit landing inside the purge's stage-commit window is carried forward, never lost") {
    val t = newTable("graft-del-purge-race")
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L)
    del(t)(delDf(("b", 15L)), 1L)
    var raced = false
    // a delta commits between the purge's stage and its publish — the
    // purge must lose its first CAS, retry against the fresh head, and
    // carry the racing rows forward (in-target buckets ride BEHIND the
    // fold; other buckets' entries come from the fresh manifest)
    KeyedUpsertSink.purgeTombstones(spark, t, keys, order, lit(true),
      onBeforeFirstCommit = () => {
        raced = true
        sink(t)(batchDf(("z", 7L, 20L), ("b", 8L, 20L)), 2L)
      })
    assert(raced)
    assert(table(t) == Set(("a", 1L, 10L), ("z", 7L, 20L), ("b", 8L, 20L)),
      "the racing commit must survive the purge (b re-created ABOVE the old tombstone)")
    // and writes after the purge still land
    sink(t)(batchDf(("q", 1L, 30L)), 3L)
    assert(table(t) == Set(("a", 1L, 10L), ("z", 7L, 20L),
      ("b", 8L, 20L), ("q", 1L, 30L)))
  }

  test("the graft-changes source refuses a plain stream over a tombstoned table; weighted streams the retraction") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-del-src")
    val t = root.resolve("t").toString
    sink(t)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L) // v1
    del(t)(delDf(("b", 15L)), 1L)                        // v2
    def start(name: String, weighted: Boolean) = {
      val r = spark.readStream.format("graft-changes")
        .option("keys", "k").option("orderBy", "ts")
        .option("startingVersion", "1")
      (if (weighted) r.option("weighted", "true") else r)
        .load(t)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          root.resolve(s"ck-$name").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val bad = start("tsrcp", weighted = false)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    assert(err.getMessage.contains("readChangesWeighted") ||
      err.getCause.getMessage.contains("readChangesWeighted"))
    val ok = start("tsrcw", weighted = true)
    ok.awaitTermination()
    val got = spark.table("tsrcw").select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("b", 2L, 10L, -1L)))
  }
}
