package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink
import graft.sink.KeyedUpsertSink.OptimisticCommit

/** Crash-consistency of the keyed table's bucketed commit
  * ([[KeyedUpsertSink.upsertBucketedDelta]]): a writer killed between
  * staging its generation and publishing the next manifest version must
  * leave readers on the last commit — never a torn mix — and vacuum
  * must reclaim only what no retained version references and no
  * in-flight writer may still be writing.
  */
class AtomicSinkSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def table(path: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def sinkOf(path: String, numBuckets: Int,
      hook: () => Unit = () => ())(batch: DataFrame, batchId: Long): Option[OptimisticCommit] =
    KeyedUpsertSink.upsertBucketedDelta(spark, path, keys, order, numBuckets,
      compactAfter = 0, onBeforeFirstCommit = hook)(batch, batchId)

  private def genDirs(path: String): Set[String] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("gen-")).toSet
    finally s.close()
  }

  private object Killed extends RuntimeException("writer killed before its commit")

  /** Stage `batch` and die before the version publish — the on-disk
    * state a writer killed between stage and commit leaves behind.
    * Returns the orphaned generation's name.
    */
  private def stageAndDie(path: String, numBuckets: Int, batch: DataFrame,
      batchId: Long): String = {
    val before = genDirs(path)
    intercept[RuntimeException] {
      sinkOf(path, numBuckets, hook = () => throw Killed)(batch, batchId)
    }
    val orphans = genDirs(path) -- before
    assert(orphans.size == 1, s"the killed writer staged $orphans")
    orphans.head
  }

  test("crash between bucket writes and manifest swap preserves the old generation") {
    val path = Files.createTempDirectory("graft-atomic").resolve("t").toString
    val sink = sinkOf(path, 8) _

    // batch 0 commits normally
    val c0 = sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L)), 0L).get
    val committed = table(path)
    assert(committed == Set(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L)))

    // batch 1 "crashes": every bucket file of its generation is on disk,
    // but the writer dies before the version publish
    val orphan = stageAndDie(path, 8, batchDf(("a", 2L, 20L), ("d", 1L, 20L)), 1L)
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L))

    // readers still see exactly the pre-crash table
    assert(table(path) == committed)

    // recovery: re-running the batch stages a fresh generation and
    // commits; the merge is LWW so the replay is idempotent
    val c1 = sink(batchDf(("a", 2L, 20L), ("d", 1L, 20L)), 1L).get
    assert(c1.gen != orphan)
    val after = table(path)
    assert(after == Set(("a", 2L, 20L), ("b", 1L, 10L), ("c", 1L, 10L), ("d", 1L, 20L)))

    // vacuum reclaims the orphan and nothing the manifest still references
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(removed == Seq(orphan))
    assert(table(path) == after)
    assert(!removed.contains(c0.gen) && !removed.contains(c1.gen))
  }

  test("superseding every bucket makes the old generation vacuumable") {
    val path = Files.createTempDirectory("graft-atomic2").resolve("t").toString
    val sink = sinkOf(path, 4) _
    val g0 = sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L).get.gen
    // second batch touches the same keys → same buckets; the fold
    // replaces every chain with one generation, superseding both deltas
    val g1 = sink(batchDf(("a", 2L, 20L), ("b", 2L, 20L)), 1L).get.gen
    assert(KeyedUpsertSink.compactBucketChains(spark, path, keys, order).nonEmpty)
    assert(table(path) == Set(("a", 2L, 20L), ("b", 2L, 20L)))
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(removed == Seq(g0, g1).sorted)
    assert(table(path) == Set(("a", 2L, 20L), ("b", 2L, 20L)))
  }

  test("redelivery of an already-committed batchId is a harmless no-op") {
    // every attempt stages under its own write-once generation: a replay
    // of a COMMITTED batch must never overwrite the generation the
    // manifest (and a reader's lazy plan) still points at
    val path = Files.createTempDirectory("graft-atomic4").resolve("t").toString
    val sink = sinkOf(path, 4) _
    sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    val first = sink(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L).get
    val committed = table(path)
    assert(committed == Set(("a", 2L, 20L), ("b", 1L, 10L), ("c", 1L, 20L)))

    // at-least-once delivery re-runs batch 1 verbatim
    val replay = sink(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L).get
    assert(table(path) == committed)
    // the replay staged under a new attempt directory; nothing was torn
    assert(replay.gen != first.gen)
    assert(Files.exists(Paths.get(path, first.gen)))

    // and a second replay on top of the replay is equally harmless
    sink(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L)
    assert(table(path) == committed)
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order)
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(table(path) == committed)
    assert(removed.contains(replay.gen)) // folded deltas are garbage, reclaimed
  }

  test("vacuum never reclaims a freshly-staged (possibly in-flight) generation by default") {
    val path = Files.createTempDirectory("graft-atomic6").resolve("t").toString
    sinkOf(path, 4)(batchDf(("a", 1L, 10L)), 0L)
    // a concurrent writer is mid-commit: staged, version not yet published
    val staged = stageAndDie(path, 4, batchDf(("a", 2L, 20L)), 1L)
    // default quiesce dwell: the unreferenced-but-fresh generation
    // SURVIVES — deleting it would tear the in-flight commit
    assert(!KeyedUpsertSink.vacuumGenerations(path).contains(staged))
    assert(Files.exists(Paths.get(path, staged)))
    // offline maintenance (no writer can be active) reclaims it
    assert(KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L).contains(staged))
  }

  test("empty batches stage nothing and break nothing") {
    val path = Files.createTempDirectory("graft-atomic7").resolve("t").toString
    val sink = sinkOf(path, 4) _
    // empty FIRST batch: no manifest, no layout sidecar, no generation
    assert(sink(batchDf(), 0L).isEmpty)
    assert(KeyedUpsertSink.readManifest(path).isEmpty)
    assert(KeyedUpsertSink.readLayout(path).isEmpty && genDirs(path).isEmpty)
    sink(batchDf(("a", 1L, 10L)), 1L)
    assert(sink(batchDf(), 2L).isEmpty) // empty later batch: a no-op
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L))
    assert(genDirs(path).size == 1)
    assert(table(path) == Set(("a", 1L, 10L)))
  }

  test("vacuum grace window keeps the generations of a stalled reader's manifest") {
    val path = Files.createTempDirectory("graft-atomic5").resolve("t").toString
    val sink = sinkOf(path, 1) _ // one bucket: the fold supersedes both deltas
    val g0 = sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L).get.gen
    val g1 = sink(batchDf(("b", 2L, 20L)), 1L).get.gen

    // a long-running reader resolves the CURRENT version (v2: chains
    // over g0 and g1) but hasn't finished scanning yet
    val stalledReader = KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)

    // a superseding commit re-points every bucket at one folded generation
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order)

    // grace=1 retains everything the previous version file references
    val removed = KeyedUpsertSink.vacuumGenerations(path, graceManifests = 1, quiesceMs = 0L)
    assert(!removed.contains(g0) && !removed.contains(g1))
    // the stalled reader completes against its resolved (old) generations
    val stale = stalledReader.select("k", "v", "ts")
      .as[(String, Long, Long)].collect().toSet
    assert(stale == Set(("a", 1L, 10L), ("b", 2L, 20L)))

    // without grace, the superseded generations are reclaimed
    val removed0 = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(removed0 == Seq(g0, g1).sorted)
    assert(table(path) == Set(("a", 1L, 10L), ("b", 2L, 20L)))
  }

  test("concurrent manifest commits never lose each other's bucket entries") {
    // two writers both read head vN; put-if-absent lets exactly one
    // publish v(N+1) and the loser re-appends to the fresh head — a
    // commit never clobbers another's entries
    val path = Files.createTempDirectory("graft-atomic-race").resolve("t").toString
    val sink = sinkOf(path, 16) _
    sink(batchDf(("seed", 1L, 1L)), 0L)
    // disjoint key sets → disjoint touched buckets per writer
    val rowsA = (1 to 40).map(i => (s"a$i", 1L, 10L))
    val rowsB = (1 to 40).map(i => (s"b$i", 1L, 10L))
    val tA = new Thread(() => { sink(batchDf(rowsA: _*), 1L); () })
    val tB = new Thread(() => { sink(batchDf(rowsB: _*), 2L); () })
    tA.start(); tB.start(); tA.join(); tB.join()
    val got = table(path).map(_._1)
    val want = Set("seed") ++ rowsA.map(_._1) ++ rowsB.map(_._1)
    assert(got == want,
      s"lost updates: missing ${want -- got}")
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L, 2L, 3L))
    // and nothing a vacuum would now delete is still referenced
    KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(table(path).map(_._1) == want)
  }

  test("vacuum quiescence reads the DEEP mtime: active nested writes are protected") {
    // an in-flight Spark job writes only under nested _temporary paths,
    // so the gen dir's own mtime goes stale mid-write; the quiescence
    // clock must see the newest mtime in the tree
    val path = Files.createTempDirectory("graft-atomic-mtime").resolve("t").toString
    sinkOf(path, 4)(batchDf(("a", 1L, 10L)), 0L)
    // fake an unreferenced in-flight generation: old dir mtime, fresh
    // nested task file
    val gen = Paths.get(path, "gen-99")
    val nested = gen.resolve("_temporary").resolve("0")
    Files.createDirectories(nested)
    Files.writeString(nested.resolve("part-000"), "in-flight")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600 * 1000L)
    Files.setLastModifiedTime(gen, old)
    Files.setLastModifiedTime(gen.resolve("_temporary"), old)
    // nested part file keeps NOW as its mtime → deep-quiescence says active
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 60000L)
    assert(!removed.contains("gen-99"),
      "vacuum reclaimed an actively-written generation (stale dir mtime)")
    // once the whole tree is stale, the crash leftover reclaims
    val s = Files.walk(gen)
    try s.forEach(p => Files.setLastModifiedTime(p, old))
    finally s.close()
    val removed2 = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 60000L)
    assert(removed2.contains("gen-99"))
  }

  test("atomic read-back equals the declarative LWW of all batches") {
    // read after a full fold: the single-generation image equals the
    // declarative LWW exactly as the chain-resolved read does
    val path = Files.createTempDirectory("graft-atomic3").resolve("t").toString
    val ev = Tables.events(spark, Sf0001).select(col("user_id"),
      col("event_id"), col("ts_us"))
    val k = Seq("user_id")
    val o = Seq(col("ts_us"), col("event_id"))
    val sink = KeyedUpsertSink.upsertBucketedDelta(spark, path, k, o, 8) _
    sink(ev.filter(col("event_id") % 2 === 0), 0L)
    sink(ev.filter(col("event_id") % 2 === 1), 1L)
    KeyedUpsertSink.compactBucketChains(spark, path, k, o)
    assert(KeyedUpsertSink.readManifest(path).valuesIterator
      .forall(KeyedUpsertSink.chainOf(_).size == 1))
    val got = KeyedUpsertSink.readBucketedDelta(spark, path, k, o)
      .select("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().toSet
    val want = KeyedUpsertSink.latestByKey(ev, k, o)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }
}
