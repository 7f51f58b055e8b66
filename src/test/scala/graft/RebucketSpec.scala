package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** Online re-bucketing ([[KeyedUpsertSink.rebucketTable]]): layout and
  * data swap in ONE manifest commit, so reads are identical across the
  * boundary, historical reads keep the old layout, a change-feed range
  * spanning the resize serves correctly (both whole manifests — never
  * silently wrong), concurrent commits force a re-stage instead of being lost,
  * and writers still configured with the dead layout are refused loudly.
  */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def sink(path: String, nb: Int = 4) = KeyedUpsertSink.upsertBucketedDelta(
    spark, path, keys, order, numBuckets = nb, compactAfter = 0) _

  private def rows(df: DataFrame): Set[(String, Long, Long)] =
    df.select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  private def table(path: String, at: Option[Long] = None): Set[(String, Long, Long)] =
    rows(KeyedUpsertSink.readBucketedDelta(spark, path, keys, order, atVersion = at))

  test("reads, lookups, and time travel are identical across the resize; stale writers are refused") {
    val root = Files.createTempDirectory("graft-rebkt")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L), ("d", 1L, 20L)), 1L)                 // v2
    val before = table(t)
    val preVersion = KeyedUpsertSink.tableVersions(t).max
    val v = KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 16)
    assert(v == preVersion + 1, "the resize is one ordinary versioned commit")
    // the resolved table is unchanged by the resize
    assert(table(t) == before)
    // point lookup hashes with the NEW layout at head...
    val got = rows(KeyedUpsertSink.lookupBucketed(
      spark, t, keys, order, Seq("a", "d").toDF("k")))
    assert(got == Set(("a", 2L, 20L), ("d", 1L, 20L)))
    // ...and with the OLD layout for a historical read at the old version
    val histGot = rows(KeyedUpsertSink.lookupBucketed(
      spark, t, keys, order, Seq("a").toDF("k"), atVersion = Some(preVersion)))
    assert(histGot == Set(("a", 2L, 20L)))
    assert(table(t, at = Some(preVersion)) == before, "time travel spans the resize")
    // a writer still configured with the dead layout is refused loudly
    val err = intercept[IllegalArgumentException] {
      sink(t, nb = 4)(batchDf(("e", 1L, 30L)), 2L)
    }
    assert(err.getMessage.contains("laid out with numBuckets=16"))
    // a writer on the new layout proceeds, and reads stay consistent
    sink(t, nb = 16)(batchDf(("e", 1L, 30L), ("a", 3L, 30L)), 2L)
    assert(table(t) == Set(("a", 3L, 30L), ("b", 1L, 10L), ("c", 1L, 10L),
      ("d", 1L, 20L), ("e", 1L, 30L)))
    // same-count and empty-table resizes are refused with context
    val err2 = intercept[IllegalArgumentException] {
      KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 16)
    }
    assert(err2.getMessage.contains("already has numBuckets=16"))
    val err3 = intercept[IllegalArgumentException] {
      KeyedUpsertSink.rebucketTable(
        spark, root.resolve("empty").toString, keys, order, newBuckets = 8)
    }
    assert(err3.getMessage.contains("no committed data"))
  }

  test("a change-feed range spanning the resize serves the correct diff (full-diff path)") {
    val root = Files.createTempDirectory("graft-rebkt-feed")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L) // v2
    KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 8) // v3
    sink(t, nb = 8)(batchDf(("d", 1L, 30L), ("b", 9L, 30L)), 2L)         // v4
    // the spanning range (v1, v4]: exactly the keys whose image moved,
    // at their v4 values — the same row-level contract as any range,
    // from the same one-aggregate kernel over both whole manifests
    val feed = rows(FeedPlans.assertOneKernel(KeyedUpsertSink.readChangesBetween(
      spark, t, keys, order, fromVersion = 1L, toVersion = Some(4L)), keys))
    assert(feed == Set(("a", 2L, 20L), ("c", 1L, 20L), ("d", 1L, 30L),
      ("b", 9L, 30L)))
    // the resize itself nets NO row changes: a range holding only it
    // is empty (compaction-like)
    assert(rows(KeyedUpsertSink.readChangesBetween(
      spark, t, keys, order, fromVersion = 2L, toVersion = Some(3L))).isEmpty)
    // weighted feed across the resize: retraction for the updated key
    val w = KeyedUpsertSink.readChangesWeighted(
      spark, t, keys, order, fromVersion = 3L, toVersion = Some(4L))
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w == Set(("d", 1L, 30L, 1L), ("b", 9L, 30L, 1L), ("b", 1L, 10L, -1L)))
    // post-resize trickle ranges plan the same kernel
    sink(t, nb = 8)(batchDf(("e", 1L, 40L)), 3L) // v5
    assert(rows(FeedPlans.assertOneKernel(KeyedUpsertSink.readChangesBetween(
      spark, t, keys, order, fromVersion = 4L, toVersion = Some(5L)), keys)) ==
      Set(("e", 1L, 40L)))
  }

  test("vacuum reclaims the old layout's generations; time-travel grace retains them first") {
    val root = Files.createTempDirectory("graft-rebkt-vac")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    val preVersion = KeyedUpsertSink.tableVersions(t).max
    val before = table(t)
    KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 16) // v2
    // grace 1: the pre-resize manifest's generations stay readable —
    // time travel across the resize boundary still serves
    KeyedUpsertSink.vacuumGenerations(t, graceManifests = 1, quiesceMs = 0)
    assert(table(t, at = Some(preVersion)) == before,
      "grace must retain the old layout's generations for time travel")
    // grace 0: only the head manifest's generations survive — the old
    // layout's directories are reclaimed, the head still reads
    val reclaimed = KeyedUpsertSink.vacuumGenerations(t, graceManifests = 0,
      quiesceMs = 0)
    assert(reclaimed.nonEmpty, "the old layout's generations must be reclaimed")
    assert(table(t) == before)
  }

  test("a commit landing inside the rebucket's stage-publish window forces a re-stage that keeps it") {
    val root = Files.createTempDirectory("graft-rebkt-race")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    var raced = false
    KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 16,
      onBeforeFirstCommit = () => {
        raced = true
        // an old-layout delta commits between the rewrite's stage and
        // its publish — the rebucket must lose, re-stage, and carry it
        up(batchDf(("z", 7L, 20L), ("a", 5L, 20L)), 1L)
      })
    assert(raced)
    assert(table(t) == Set(("a", 5L, 20L), ("b", 1L, 10L), ("z", 7L, 20L)),
      "the racing commit must survive the resize")
    // and the committed layout is the new one
    val lost = intercept[IllegalArgumentException] {
      sink(t, nb = 4)(batchDf(("q", 1L, 30L)), 2L)
    }
    assert(lost.getMessage.contains("numBuckets=16"))
  }

  test("a SHRINKING resize landing inside a compaction's stage-commit window forces the re-stage, not a crash") {
    val root = Files.createTempDirectory("graft-rebkt-shrink")
    val t = root.resolve("t").toString
    val up = sink(t) // numBuckets = 4
    // 16 distinct keys across two waves → chains of length 2 in (almost
    // surely) every bucket, incl. ids the shrunk layout won't have
    val ks = (0 until 16).map(i => s"k$i")
    up(ks.map(k => (k, 1L, 10L)).toDF("k", "v", "ts"), 0L) // v1
    up(ks.map(k => (k, 2L, 20L)).toDF("k", "v", "ts"), 1L) // v2
    val chained = KeyedUpsertSink.readManifest(t).filter {
      case (_, v) => KeyedUpsertSink.chainOf(v).length >= 2
    }
    assert(chained.keys.exists(_ >= 2L),
      s"precondition: a chained bucket id outside the shrunk layout, got ${chained.keys}")
    var raced = false
    val compacted = KeyedUpsertSink.compactBucketChains(
      spark, t, keys, order, minChain = 2,
      onBeforeFirstCommit = () => {
        raced = true
        // the resize SHRINKS the layout between the fold's stage and its
        // commit: old bucket ids vanish from the manifest map entirely —
        // the retry must take the documented stale/re-stage path (the
        // total-map access would crash with NoSuchElementException)
        KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 2)
      })
    assert(raced)
    // the rebucket folded every chain into one generation, so the
    // re-staged pass finds nothing left to compact — and the old-layout
    // fold must NOT have landed
    assert(compacted.isEmpty, s"stale fold must re-stage, not commit: $compacted")
    assert(table(t) == ks.map(k => (k, 2L, 20L)).toSet)
    // the stale fold's staged directory was reclaimed eagerly, not left
    // to the vacuum grace window
    assert(!Files.list(Paths.get(t)).iterator().asScala.exists(
      _.getFileName.toString.startsWith("gen-compact-")),
      "a stale compaction fold must reclaim its own staged directory")
    // and the committed layout is the shrunk one
    val err = intercept[IllegalArgumentException] {
      sink(t, nb = 4)(batchDf(("q", 1L, 30L)), 2L)
    }
    assert(err.getMessage.contains("numBuckets=2"))
  }

  test("an old-layout writer whose in-flight batch loses to the resize fails loudly") {
    val root = Files.createTempDirectory("graft-rebkt-writer")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    // the writer stages under the old layout; the resize commits inside
    // its stage-commit window; the writer's retry must refuse to re-stage
    // a batch hashed with the dead layout
    val err = intercept[IllegalStateException] {
      KeyedUpsertSink.upsertBucketedDelta(
        spark, t, keys, order, numBuckets = 4, compactAfter = 0,
        onBeforeFirstCommit = () => {
          KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = 16)
        })(batchDf(("c", 1L, 20L)), 1L)
    }
    assert(err.getMessage.contains("re-bucketed to numBuckets=16"),
      s"documented in-flight refusal, got: ${err.getMessage}")
    // the replay with the new count lands the batch
    sink(t, nb = 16)(batchDf(("c", 1L, 20L)), 1L)
    assert(table(t) == Set(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 20L)))
  }
}
