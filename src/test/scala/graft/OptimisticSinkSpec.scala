package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink
import graft.sink.KeyedUpsertSink.OptimisticCommit

/** The object-store-safe optimistic commit of the keyed table
  * ([[KeyedUpsertSink.upsertBucketedDelta]]): two writers with NO shared
  * JVM monitor and NO file lock racing one table must lose nothing — a
  * writer that loses the put-if-absent race re-appends its staged
  * generation to the fresh head with no re-stage, whether or not the
  * buckets overlap, and the LWW merge at read time orders the rows.
  * Plus schema evolution across generations.
  */
class OptimisticSinkSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def table(path: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def newTable(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private def opt(path: String, numBuckets: Int = 4,
      hook: () => Unit = () => ())(batch: DataFrame, batchId: Long): OptimisticCommit =
    KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets, compactAfter = 0,
      onBeforeFirstCommit = hook)(batch, batchId)
      .getOrElse(fail("non-empty batch must commit"))

  /** The bucket a key hashes to under the sink's layout hash. */
  private def bucketOfKey(k: String, numBuckets: Int): Long =
    batchDf((k, 0L, 0L))
      .select(KeyedUpsertSink.bucketOf(Seq("k"), numBuckets)).head().getLong(0)

  test("two monitor-free concurrent writers on overlapping buckets lose nothing") {
    val path = newTable("graft-opt-race")
    val rowsA = (1 to 30).map(i => (s"a$i", 1L, 10L)) :+ ("shared", 1L, 5L)
    val rowsB = (1 to 30).map(i => (s"b$i", 2L, 10L)) :+ ("shared", 2L, 9L)
    // 2 buckets for 62 keys: the writers' touched sets MUST overlap.
    // The barrier forces BOTH writers to finish staging against the same
    // head before either commits — without it a skewed schedule can
    // serialize the writers entirely and the lost-race assertion below
    // would be flaky.
    val staged = new java.util.concurrent.CyclicBarrier(2)
    val await = () => { staged.await(30, java.util.concurrent.TimeUnit.SECONDS); () }
    var stA: OptimisticCommit = null
    var stB: OptimisticCommit = null
    val tA = new Thread(() => stA = opt(path, 2, hook = await)(batchDf(rowsA: _*), 1L))
    val tB = new Thread(() => stB = opt(path, 2, hook = await)(batchDf(rowsB: _*), 2L))
    tA.start(); tB.start(); tA.join(); tB.join()
    val want = rowsA.dropRight(1).toSet ++ rowsB.toSet // shared: ts 9 beats 5
    assert(table(path) == want, "a racing writer's rows were lost")
    // both committed, at distinct versions, and the loser retried
    assert(Set(stA.version, stB.version).size == 2)
    assert(stA.commitRetries + stB.commitRetries >= 1,
      "two writers staged on one head: one must lose the put-if-absent race")
  }

  test("overlapping interference is detected and re-merged (deterministic)") {
    val path = newTable("graft-opt-overlap")
    opt(path)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    // writer B stages at head v1; writer A then commits a SUPERSEDING
    // value for the same key before B's first commit attempt
    val stB = opt(path, 4, hook = () =>
      { opt(path)(batchDf(("a", 7L, 30L)), 1L); () })(
      batchDf(("a", 5L, 20L), ("c", 1L, 20L)), 2L)
    // detected: B's publish of v2 lost, B re-appended on top of A's v2
    assert(stB.commitRetries == 1 && stB.version == 3L)
    // sequential semantics: A's ts=30 beats B's ts=20 on key a even
    // though B committed later — the read-time merge ranks by order
    assert(table(path) ==
      Set(("a", 7L, 30L), ("b", 1L, 10L), ("c", 1L, 20L)))
  }

  test("disjoint-bucket interference retries the commit with NO re-merge") {
    val n = 8
    // find keys living in provably different buckets
    val candidates = (1 to 50).map(i => s"k$i")
    val byBucket = candidates.groupBy(bucketOfKey(_, n))
    val (bkA, keysA) = byBucket.find(_._2.size >= 2).get
    val (bkB, keysB) = byBucket.find(_._1 != bkA).get
    assert(bkA != bkB)
    val path = newTable("graft-opt-disjoint")
    opt(path, n)(batchDf((keysA.head, 1L, 10L)), 0L)
    // writer B touches ONLY bucket bkB; the interfering writer A commits
    // to bucket bkA between B's stage and B's first commit attempt
    val stB = opt(path, n, hook = () =>
      { opt(path, n)(batchDf((keysA(1), 2L, 20L)), 1L); () })(
      batchDf((keysB.head, 3L, 20L)), 2L)
    assert(stB.commitRetries == 1, "lost put-if-absent race must retry once")
    // no re-merge: the generation B staged is the one it committed
    assert(KeyedUpsertSink.readManifest(path)(bkB) == stB.gen)
    assert(stB.version == 3L)
    assert(table(path) == Set(
      (keysA.head, 1L, 10L), (keysA(1), 2L, 20L), (keysB.head, 3L, 20L)))
  }

  test("schema evolution: widened batches merge by name, old generations read with nulls") {
    val path = newTable("graft-opt-schema")
    val sink = opt(path) _
    sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    // batch 1 ADDS a column and overwrites one key
    sink(Seq(("a", 2L, 20L, "x"), ("c", 1L, 20L, "y"))
      .toDF("k", "v", "ts", "extra"), 1L)
    val got = KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts", "extra")
      .as[(String, Long, Long, Option[String])].collect().toSet
    assert(got == Set(
      ("a", 2L, 20L, Some("x")), // LWW winner carries the new column
      ("b", 1L, 10L, None),      // old generation: null back-fill
      ("c", 1L, 20L, Some("y"))))
    // a later batch DROPPING committed value columns is refused loudly
    // (round 17 — the deliberate contract: silent null-fill on the rows
    // this batch wins reads as data loss); carrying the columns as
    // typed nulls is the explicit way to mean it
    val err = intercept[IllegalArgumentException] {
      sink(Seq(("d", 30L)).toDF("k", "ts"), 2L)
    }
    assert(err.getMessage.contains("drops committed column(s)"))
    assert(err.getMessage.contains("v, extra") || err.getMessage.contains("extra, v"),
      err.getMessage)
    sink(Seq(("d", 30L)).toDF("k", "ts")
      .withColumn("v", lit(null).cast("long"))
      .withColumn("extra", lit(null).cast("string")), 2L)
    val got2 = KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts", "extra")
      .as[(String, Option[Long], Long, Option[String])].collect().toSet
    assert(got2.contains(("d", None, 30L, None)))
    assert(got2.size == 4)
  }

  test("vacuum on an optimistic table: superseded generations reclaim, chain stays consistent") {
    val path = newTable("graft-opt-vacuum")
    val sink = opt(path, 1) _
    def fold(): Seq[Long] = KeyedUpsertSink.compactBucketChains(spark, path, keys, order)
    val st0 = sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    val st1 = sink(batchDf(("a", 2L, 20L), ("b", 2L, 20L)), 1L)
    fold() // supersedes both deltas
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(removed == Seq(st0.gen, st1.gen).sorted,
      "fully-superseded generations must reclaim")
    assert(table(path) == Set(("a", 2L, 20L), ("b", 2L, 20L)))
    // grace window keeps the prior version's generations for stalled readers
    val st2 = sink(batchDf(("a", 3L, 30L), ("b", 3L, 30L)), 2L)
    fold()
    val removedGrace = KeyedUpsertSink.vacuumGenerations(
      path, graceManifests = 1, quiesceMs = 0L)
    assert(!removedGrace.contains(st2.gen),
      "grace must retain the previous version's generations")
    // abandoned hidden put-staging files sweep under the dwell
    val stalePut = Paths.get(path, "._manifest.v00000000000000000099.put-dead")
    Files.writeString(stalePut, "orphan")
    Files.setLastModifiedTime(stalePut,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 60000L)
    assert(!Files.exists(stalePut), "stale put-staging file must be swept")
    assert(table(path) == Set(("a", 3L, 30L), ("b", 3L, 30L)))
  }

  test("empty optimistic batches stage nothing and commit nothing") {
    val path = newTable("graft-opt-empty")
    def empty(batchId: Long) = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, 4)(batchDf(), batchId)
    assert(empty(0L).isEmpty)
    assert(KeyedUpsertSink.readManifest(path).isEmpty)
    opt(path)(batchDf(("a", 1L, 10L)), 1L)
    assert(empty(2L).isEmpty)
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L))
    assert(table(path) == Set(("a", 1L, 10L)))
  }

  test("optimistic read-back equals the declarative LWW of all batches") {
    val path = newTable("graft-opt-lww")
    val ev = Tables.events(spark, Sf0001).select(col("user_id"),
      col("event_id"), col("ts_us"))
    val k = Seq("user_id")
    val o = Seq(col("ts_us"), col("event_id"))
    val sink = KeyedUpsertSink.upsertBucketedDelta(spark, path, k, o, 8) _
    sink(ev.filter(col("event_id") % 2 === 0), 0L)
    sink(ev.filter(col("event_id") % 2 === 1), 1L)
    val got = KeyedUpsertSink.readBucketedDelta(spark, path, k, o)
      .select("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().toSet
    val want = KeyedUpsertSink.latestByKey(ev, Seq("user_id"),
      Seq(col("ts_us"), col("event_id")))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }
}
