package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink
import graft.sink.KeyedUpsertSink.OptimisticCommit

/** The merge-on-read delta sink tier: O(batch) appends to per-bucket
  * generation chains with the LWW merge deferred to read time. The
  * contract under test: chain-resolve == merge-on-write over the same
  * batches, racing appends are carried forward through compaction,
  * redelivery is a read-level no-op, time travel reproduces history,
  * and the vacuum keep-window boundary fails LOUDLY rather than
  * committing behind the head.
  */
class DeltaSinkSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def newTable(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def delta(path: String, numBuckets: Int = 4, compactAfter: Int = 0,
      hook: () => Unit = () => ())(batch: DataFrame, batchId: Long): OptimisticCommit =
    KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets, compactAfter = compactAfter,
      onBeforeFirstCommit = hook)(batch, batchId)
      .getOrElse(fail("non-empty batch must commit"))

  private def table(path: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  private def chainLens(path: String): Map[Long, Int] =
    KeyedUpsertSink.readManifest(path)
      .map { case (b, v) => b -> KeyedUpsertSink.chainOf(v).length }

  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.select("k", "v", "ts").as[(String, Long, Long)].collect().toSeq.sorted

  private def bucketsOf(ks: Seq[String], numBuckets: Int): Map[String, Long] =
    ks.toDF("k").select(col("k"), KeyedUpsertSink.bucketOf(keys, numBuckets))
      .as[(String, Long)].collect().toMap

  /** Every read path of `path` against the LWW model (version → resolved
    * image), duplicates included: the head read, a point lookup of
    * `lookupKeys`, time travel to every modelled version below the
    * head, and the plain change feed from every version in
    * [`feedFrom`, head) to the head (the rows of the head image not
    * identically in the from image).
    */
  private def assertReadsEqualModel(what: String, path: String,
      model: collection.Map[Long, Map[String, (Long, Long)]],
      lookupKeys: Seq[String], feedFrom: Long): Unit = {
    def image(v: Long): Seq[(String, Long, Long)] =
      model(v).toSeq.map { case (k, (v, ts)) => (k, v, ts) }.sorted
    val head = KeyedUpsertSink.tableVersions(path).max
    assert(rows(KeyedUpsertSink.readBucketedDelta(spark, path, keys, order))
      == image(head), s"$what: head read at v$head")
    assert(rows(KeyedUpsertSink.lookupBucketed(spark, path, keys, order,
      lookupKeys.toDF("k"))) == image(head).filter(r => lookupKeys.contains(r._1)),
      s"$what: lookup at v$head")
    model.keys.filter(_ < head).toSeq.sorted.foreach { v =>
      assert(rows(KeyedUpsertSink.readBucketedDelta(spark, path, keys, order,
        atVersion = Some(v))) == image(v), s"$what: time travel to v$v")
    }
    (feedFrom until head).foreach { from =>
      assert(rows(KeyedUpsertSink.readChangesBetween(spark, path, keys, order,
        from)) == image(head).diff(image(from)), s"$what: change feed from v$from")
    }
  }

  test("a generation shared by buckets that a partial compaction or purge moved off it never resurrects their rows") {
    val path = newTable("graft-delta-shared")
    val ks = (1 to 32).map(i => s"k$i")
    val bucket = bucketsOf(ks, 4)
    // x and z share bucket s; w sits in bucket b; c in a third bucket
    val x = "k1"
    val s = bucket(x)
    val z = ks.find(k => k != x && bucket(k) == s).get
    val w = ks.find(k => bucket(k) != s).get
    val b = bucket(w)
    val c = ks.find(k => bucket(k) != s && bucket(k) != b).get
    val model = scala.collection.mutable.Map[Long, Map[String, (Long, Long)]]()
    var image = Map.empty[String, (Long, Long)]
    def record(v: Long): Unit = model(v) = image
    def upsert(batchId: Long, rs: (String, Long, Long)*): Unit = {
      val committed = delta(path)(batchDf(rs: _*), batchId)
      image ++= rs.map { case (k, v, ts) => k -> (v, ts) }
      record(committed.version)
    }
    def head = KeyedUpsertSink.tableVersions(path).max
    upsert(0L, ks.zipWithIndex.map { case (k, i) => (k, i.toLong, 10L) }: _*) // v1
    upsert(1L, (x, 100L, 20L), (w, 200L, 20L))                                // v2
    val del = KeyedUpsertSink.deleteBucketedDelta(spark, path, keys, order,
      numBuckets = 4)(Seq((z, 30L)).toDF("k", "ts"), 2L).get                 // v3
    image -= z
    record(del.version)
    val lookups = Seq(x, z, w, c)
    // the shared v1 generation stays referenced by every bucket but s
    assert(KeyedUpsertSink.compactBucketChains(spark, path, keys, order,
      buckets = Some(Set(s))) == Seq(s))                                     // v4
    record(head)
    assertReadsEqualModel("after compacting bucket s", path, model, lookups,
      feedFrom = del.version)
    // ...and by no bucket with a chain: the resolved read is a plain scan
    assert(KeyedUpsertSink.compactBucketChains(spark, path, keys, order,
      buckets = Some(Set(b))) == Seq(b))                                     // v5
    record(head)
    assert(KeyedUpsertSink.readManifest(path).values.forall(!_.contains(";")))
    assertReadsEqualModel("after compacting bucket b", path, model, lookups,
      feedFrom = del.version)
    // the purge drops z's tombstone: only the filter keeps v1's z row out
    assert(KeyedUpsertSink.purgeTombstones(spark, path, keys, order,
      col("ts") <= 30L) == Seq(s))                                           // v6
    record(head)
    upsert(3L, (c, 300L, 40L))                                               // v7
    assertReadsEqualModel("after the purge", path, model, lookups,
      feedFrom = del.version)
  }

  test("chains mixing a bucket-directory generation with one-file generations read, fold and rewrite alike") {
    import graft.sink.MaterializedAggView
    import graft.sink.MaterializedAggView.AggCol
    val root = Files.createTempDirectory("graft-delta-mixed")
    val path = root.resolve("t").toString
    val view = root.resolve("view").toString
    val ks = (1 to 32).map(i => s"k$i")
    val bucket = bucketsOf(ks, 4)
    // v1: a generation stored the way earlier writers stored them — one
    // `__bucket=N` directory per bucket — published through the manifest
    val first = ks.zipWithIndex.map { case (k, i) => (k, i.toLong, 10L) }
    batchDf(first: _*).withColumn("__bucket", KeyedUpsertSink.bucketOf(keys, 4))
      .write.partitionBy("__bucket").parquet(s"$path/gen-legacy")
    Files.writeString(Paths.get(path, "_layout"), "numBuckets=4\n")
    assert(KeyedUpsertSink.tryCommitVersion(path, 1L,
      bucket.values.toSeq.distinct.map(_ -> "gen-legacy").toMap))
    val model = scala.collection.mutable.Map[Long, Map[String, (Long, Long)]]()
    var image = first.map { case (k, v, ts) => k -> (v, ts) }.toMap
    model(1L) = image
    val aggs = Seq(AggCol("n", lit(1L)), AggCol("sum_v", col("v")))
    MaterializedAggView.bootstrap(spark, path, view, keys, order, Seq("ts"), aggs)
    def viewEqualsModel(what: String): Unit = {
      MaterializedAggView.maintainStream(spark, path, view, keys, order,
        Seq("ts"), aggs, checkpointDir = root.resolve("ckpt").toString)
        .awaitTermination()
      val want = image.values.groupBy(_._2)
        .map { case (ts, vs) => (ts, vs.size.toLong, vs.map(_._1).sum) }.toSet
      assert(MaterializedAggView.read(spark, view).select("ts", "n", "sum_v")
        .as[(Long, Long, Long)].collect().toSet == want, s"$what: view")
    }
    // one-file generations on top: an upsert wave, then a delete
    val wave = Seq(("k1", 100L, 20L), ("k2", 200L, 20L), ("new", 1L, 20L))
    val v2 = delta(path)(batchDf(wave: _*), 0L).version
    image ++= wave.map { case (k, v, ts) => k -> (v, ts) }
    model(v2) = image
    val v3 = KeyedUpsertSink.deleteBucketedDelta(spark, path, keys, order,
      numBuckets = 4)(Seq(("k3", 30L)).toDF("k", "ts"), 1L).get.version
    image -= "k3"
    model(v3) = image
    val lookups = Seq("k1", "k3", "k4", "new")
    assertReadsEqualModel("legacy + one-file chains", path, model, lookups,
      feedFrom = v3)
    assert(rows(KeyedUpsertSink.readChangesBetween(spark, path, keys, order,
      1L, Some(v2))) == wave.sorted, "change feed from the legacy version")
    viewEqualsModel("legacy + one-file chains")
    // a partial compaction leaves the legacy generation shared
    val s = bucket("k1")
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order,
      buckets = Some(Set(s)))
    model(KeyedUpsertSink.tableVersions(path).max) = image
    assertReadsEqualModel("after a partial compaction", path, model, lookups,
      feedFrom = v3)
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order)
    KeyedUpsertSink.rebucketTable(spark, path, keys, order, newBuckets = 2)
    viewEqualsModel("after compaction and rebucket")
    KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(rows(KeyedUpsertSink.readBucketedDelta(spark, path, keys, order))
      == image.toSeq.map { case (k, (v, ts)) => (k, v, ts) }.sorted)
    val left = {
      val walk = Files.walk(Paths.get(path))
      try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__bucket=")).toList
      finally walk.close()
    }
    assert(left.isEmpty, s"bucket directories left after the rewrite: $left")
  }

  test("chain-resolved read equals the merge-on-write table over the same batches") {
    val ev = Tables.events(spark, Sf0001).select(col("user_id"),
      col("event_id"), col("ts_us"))
    val k = Seq("user_id")
    val o = Seq(col("ts_us"), col("event_id"))
    val dPath = newTable("graft-delta-parity")
    val wPath = newTable("graft-mow-parity")
    val dSink = KeyedUpsertSink.upsertBucketedDelta(
      spark, dPath, k, o, numBuckets = 8, compactAfter = 0) _
    // the merge-on-write table: every commit's chains folded at once,
    // so each bucket holds one generation
    val wSink = KeyedUpsertSink.upsertBucketedDelta(
      spark, wPath, k, o, numBuckets = 8, compactAfter = 1) _
    (0L to 2L).foreach { i =>
      dSink(ev.filter(col("event_id") % 3 === i), i)
      wSink(ev.filter(col("event_id") % 3 === i), i)
    }
    assert(chainLens(wPath).valuesIterator.forall(_ == 1))
    assert(chainLens(dPath).valuesIterator.exists(_ > 1),
      "fixture built no multi-generation chain — parity test is vacuous")
    val got = KeyedUpsertSink.readBucketedDelta(spark, dPath, k, o)
      .select("user_id", "event_id", "ts_us").as[(Long, Long, Long)].collect().toSet
    val want = KeyedUpsertSink.readBucketedDelta(spark, wPath, k, o)
      .select("user_id", "event_id", "ts_us").as[(Long, Long, Long)].collect().toSet
    assert(got == want, "merge-on-read resolve diverged from merge-on-write")
    assert(want == KeyedUpsertSink.latestByKey(ev, k, o)
      .as[(Long, Long, Long)].collect().toSet)
  }

  test("order ties resolve to the later commit; redelivery is a read-level no-op") {
    val path = newTable("graft-delta-redeliver")
    delta(path)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    // same ts — the later COMMIT must win: a new batch beats existing
    // rows, resolved at read time
    delta(path)(batchDf(("a", 2L, 10L)), 1L)
    assert(table(path) == Set(("a", 2L, 10L), ("b", 1L, 10L)))
    // at-least-once redelivery of the SAME batch: rows tie and resolve
    // identically — the replay must not change the table
    delta(path)(batchDf(("a", 2L, 10L)), 1L)
    assert(table(path) == Set(("a", 2L, 10L), ("b", 1L, 10L)))
    // in-batch duplicates compact to one row per key BEFORE the append
    // (two rows reaching read time would tie on __seq)
    delta(path)(batchDf(("c", 1L, 5L), ("c", 2L, 7L)), 2L)
    assert(table(path) == Set(("a", 2L, 10L), ("b", 1L, 10L), ("c", 2L, 7L)))
  }

  test("a delta appended during compaction staging is carried forward") {
    val path = newTable("graft-delta-carry")
    val sink = delta(path, numBuckets = 1) _ // one bucket: the append must hit it
    sink(batchDf(("a", 1L, 10L)), 0L)
    sink(batchDf(("b", 1L, 10L)), 1L)
    sink(batchDf(("a", 2L, 20L)), 2L)
    assert(chainLens(path) == Map(0L -> 3))
    // the racing append lands AFTER the fold staged but BEFORE its first
    // commit attempt — the rewrite-vs-append commute rule must carry it
    // forward behind the compacted generation, not lose it
    var raced = false
    val compacted = KeyedUpsertSink.compactBucketChains(
      spark, path, keys, order, minChain = 2,
      onBeforeFirstCommit = () => {
        raced = true
        sink(batchDf(("c", 1L, 30L), ("a", 9L, 40L)), 3L); ()
      })
    assert(raced && compacted == Seq(0L))
    // chain = [compact-gen, racing-gen]: folded prefix + carried delta
    assert(chainLens(path) == Map(0L -> 2))
    assert(table(path) == Set(("a", 9L, 40L), ("b", 1L, 10L), ("c", 1L, 30L)),
      "the delta appended during compaction was lost")
    // a second compaction folds the carried delta in; the table is stable
    assert(KeyedUpsertSink.compactBucketChains(
      spark, path, keys, order, minChain = 2) == Seq(0L))
    assert(chainLens(path) == Map(0L -> 1))
    assert(table(path) == Set(("a", 9L, 40L), ("b", 1L, 10L), ("c", 1L, 30L)))
    // the rest of the maintenance cycle — delete, rebucket, vacuum —
    // commits through version files alone: no lock file, no single-file
    // manifest, no manifest temp files, no history snapshots
    KeyedUpsertSink.deleteBucketedDelta(spark, path, keys, order, numBuckets = 1)(
      Seq(("b", 50L)).toDF("k", "ts"), 4L)
    KeyedUpsertSink.rebucketTable(spark, path, keys, order, newBuckets = 2)
    KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(table(path) == Set(("a", 9L, 40L), ("c", 1L, 30L)))
    val entries = {
      val ls = Files.list(Paths.get(path))
      try ls.iterator().asScala.map(_.getFileName.toString).toSeq finally ls.close()
    }
    assert(entries.exists(_.startsWith("_manifest.v")))
    assert(!entries.exists(n => n == "_manifest" || n == "_manifest.lock" ||
      n.startsWith("_manifest.tmp-") || n == "_hist"),
      s"lock-path artifacts in a delta table: ${entries.sorted}")
  }

  test("a table holding a lock-path _manifest and no version file is refused loudly") {
    // the retired lock-path writers kept their bucket map in one
    // `_manifest` file; read as an empty v0, such a table would lose
    // every row, and a commit on top would publish a v1 hiding them
    val path = newTable("graft-delta-lockpath")
    Files.createDirectories(Paths.get(path, "gen-0"))
    Files.writeString(Paths.get(path, "_manifest"), "0,gen-0\n")
    def refused(what: String)(body: => Any): Unit = {
      val err = intercept[IllegalStateException](body)
      assert(err.getMessage.contains(Paths.get(path, "_manifest").toString) &&
        err.getMessage.contains("rewrite with the current writer"),
        s"$what: ${err.getMessage}")
    }
    refused("write")(delta(path)(batchDf(("a", 1L, 10L)), 0L))
    refused("read")(KeyedUpsertSink.readBucketedDelta(spark, path, keys, order))
    refused("history")(KeyedUpsertSink.tableHistory(spark, path))
    assert(KeyedUpsertSink.tableVersions(path).isEmpty, "the refused write published")
  }

  test("auto-compaction past compactAfter folds the chain; vacuum reclaims the deltas") {
    val path = newTable("graft-delta-autocompact")
    val sink = delta(path, numBuckets = 1, compactAfter = 3) _
    val commits = (0L to 3L).map(i => sink(batchDf((s"k$i", i, 10L + i)), i))
    // batch 3 pushed the chain to 4 > compactAfter=3 → auto-fold to 1
    assert(chainLens(path) == Map(0L -> 1))
    val want = (0L to 3L).map(i => (s"k$i", i, 10L + i)).toSet
    assert(table(path) == want)
    // the folded-away delta generations are unreferenced → vacuumable
    val removed = KeyedUpsertSink.vacuumGenerations(path, quiesceMs = 0L)
    assert(commits.map(_.gen).toSet.subsetOf(removed.toSet),
      "superseded delta generations must reclaim")
    assert(table(path) == want, "vacuum changed the resolved table")
  }

  test("schema evolution across deltas: chains union by name with null back-fill") {
    val path = newTable("graft-delta-schema")
    val sink = delta(path) _
    sink(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    sink(Seq(("a", 2L, 20L, "x"), ("c", 1L, 20L, "y"))
      .toDF("k", "v", "ts", "extra"), 1L)
    val got = KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts", "extra")
      .as[(String, Long, Long, Option[String])].collect().toSet
    assert(got == Set(
      ("a", 2L, 20L, Some("x")),
      ("b", 1L, 10L, None),
      ("c", 1L, 20L, Some("y"))))
  }

  test("time travel: every retained version reproduces its historical table") {
    val path = newTable("graft-delta-history")
    val sink = delta(path) _
    sink(batchDf(("a", 1L, 10L)), 0L)
    sink(batchDf(("a", 2L, 20L), ("b", 1L, 20L)), 1L)
    sink(batchDf(("b", 9L, 30L)), 2L)
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L, 2L, 3L))
    def at(v: Long): Set[(String, Long, Long)] =
      KeyedUpsertSink.readBucketedDelta(spark, path, keys, order, atVersion = Some(v))
        .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(at(1L) == Set(("a", 1L, 10L)))
    assert(at(2L) == Set(("a", 2L, 20L), ("b", 1L, 20L)))
    assert(at(3L) == Set(("a", 2L, 20L), ("b", 9L, 30L)))
    assert(at(3L) == table(path), "head time-travel must equal the live read")
    // a pruned (or never-committed) version fails loudly, never answers
    // a nearby question. v1's file stands in for a vacuum prune — the
    // keep window is deliberately ≥64 versions, far past a spec's reach
    Files.delete(Paths.get(path).resolve(f"_manifest.v${1L}%020d"))
    val err = intercept[NoSuchElementException] { at(1L) }
    assert(err.getMessage.contains("no readable manifest v1"))
    assert(err.getMessage.contains("pruned past the vacuum keep window"))
    val err2 = intercept[NoSuchElementException] { at(99L) }
    assert(err2.getMessage.contains("no readable manifest v99"))
  }

  test("vacuum keep-window boundary: a pruned-base writer fails loudly, never commits behind the head") {
    val path = newTable("graft-delta-pruned")
    delta(path)(batchDf(("a", 1L, 10L)), 0L) // head: v1
    // the writer stages against head v1; "vacuum" prunes v1 before its
    // first commit attempt (the stall the keep window must dwarf). The
    // commit must surface as the documented loud failure — silently
    // publishing v2 behind a re-listed lower head loses the batch
    val err = intercept[IllegalArgumentException] {
      delta(path, hook = () => {
        Files.delete(Paths.get(path).resolve(f"_manifest.v${1L}%020d")); ()
      })(batchDf(("b", 1L, 20L)), 1L)
    }
    assert(err.getMessage.contains("pruned beneath an in-flight writer"))
    // the ADT keeps the diagnosis accurate: nothing was attempted, so the
    // message must NOT claim "v2 exists"
    assert(!err.getMessage.contains("v2 exists"))
  }

  test("tryCommitSuccessor: pruned base returns BasePruned; the residual window throws AFTER publish") {
    val path = newTable("graft-delta-successor")
    delta(path)(batchDf(("a", 1L, 10L)), 0L) // head: v1
    val man = KeyedUpsertSink.readManifest(path)
    // base v5 never existed → BasePruned, nothing attempted
    assert(KeyedUpsertSink.tryCommitSuccessor(path, 5L, man) ==
      KeyedUpsertSink.BasePruned)
    assert(KeyedUpsertSink.tableVersions(path) == Seq(1L))
    // v2 taken by a racer → LostRace
    delta(path)(batchDf(("b", 1L, 20L)), 1L) // head: v2
    assert(KeyedUpsertSink.tryCommitSuccessor(path, 1L,
      man) == KeyedUpsertSink.LostRace)
    // the residual window: base pruned BETWEEN the pre-check and the
    // publish. v3 IS durably published (the message says so) but its
    // visibility can't be guaranteed → loud failure, caller replays
    val err = intercept[IllegalStateException] {
      KeyedUpsertSink.tryCommitSuccessor(path, 2L, man, afterPrecheck = () => {
        Files.delete(Paths.get(path).resolve(f"_manifest.v${2L}%020d")); ()
      })
    }
    assert(err.getMessage.contains("vacuum-pruned inside the v3 publish window"))
    assert(err.getMessage.contains("v3 IS durably published"))
  }

  /** The feed, after checking that it plans the one change-feed kernel. */
  private def kernel(feed: DataFrame): DataFrame =
    FeedPlans.assertOneKernel(feed, keys)

  test("change feed: pure appends take the append fast path; a compaction falls back to the diff — same rows either way") {
    val path = newTable("graft-feed-path")
    delta(path)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    delta(path)(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L) // v2
    def weightedFrom1: Set[(String, Long, Long, Long)] =
      kernel(KeyedUpsertSink.readChangesWeighted(spark, path, keys, order,
        fromVersion = 1L))
        .select("k", "v", "ts", "__weight")
        .as[(String, Long, Long, Long)].collect().toSet
    // chains are pure suffixes of v1's: one aggregate on the keys nets
    // the exact ±1 set
    val feedFast = weightedFrom1
    assert(feedFast == Set(("a", 2L, 20L, 1L), ("c", 1L, 20L, 1L),
      ("a", 1L, 10L, -1L)))
    // compacting folds every chain: v1's chains are no longer prefixes,
    // and the same kernel must net the same rows (compaction rewrites
    // files, not data)
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order) // v3
    val feedDiff = weightedFrom1
    assert(feedDiff == feedFast)
    // and a compaction-only range nets nothing
    val compactOnly = kernel(KeyedUpsertSink.readChangesWeighted(spark, path,
      keys, order, fromVersion = 2L)).count()
    assert(compactOnly == 0L)
  }

  test("change feed: a null-keyed row's retraction survives the append fast path") {
    // keys may carry null VALUES (only a missing key column is
    // refused); the prefix rows' semi-join and the aggregate must be
    // null-safe or the null key's -1 image silently vanishes and a
    // downstream maintained aggregate double-counts it
    val path = newTable("graft-feed-nullkey")
    def df(rows: (Option[String], Long, Long)*): DataFrame =
      rows.toDF("k", "v", "ts")
    delta(path)(df((None, 1L, 10L), (Some("a"), 1L, 10L)), 0L) // v1
    delta(path)(df((None, 2L, 20L)), 1L)                       // v2
    val feed = kernel(KeyedUpsertSink.readChangesWeighted(spark, path, keys,
      order, fromVersion = 1L))
      .select("k", "v", "ts", "__weight")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    assert(feed == Set((None, 2L, 20L, 1L), (None, 1L, 10L, -1L)))
  }

  test("change feed: the append fast path aligns schema evolution in both directions") {
    val path = newTable("graft-feed-evo")
    delta(path)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    // v2 ADDS a column; the -1 image must null-fill it, the +1 carry it
    delta(path)(Seq(("a", 2L, 20L, "x")).toDF("k", "v", "ts", "tag"), 1L)
    val feed = kernel(KeyedUpsertSink.readChangesWeighted(spark, path, keys,
      order, fromVersion = 1L))
      .select("k", "v", "ts", "tag", "__weight")
      .as[(String, Long, Long, Option[String], Long)].collect().toSet
    assert(feed == Set(("a", 2L, 20L, Some("x"), 1L),
      ("a", 1L, 10L, None, -1L)))
  }

  test("streaming wiring: foreachBatch delta appends across restarts equal the batch LWW") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, Sf0001).select(col("user_id"),
      col("event_id"), col("ts_us"))
    val k = Seq("user_id")
    val o = Seq(col("ts_us"), col("event_id"))
    val root = Files.createTempDirectory("graft-delta-stream")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val tbl = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", "true").parquet(landing)
      val q = stream.writeStream
        .foreachBatch((df: DataFrame, id: Long) => {
          KeyedUpsertSink.upsertBucketedDelta(
            spark, tbl, k, o, numBuckets = 8, compactAfter = 4)(df, id); ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // wave 0 → stop (restart boundary) → wave 1 under the SAME checkpoint
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$landing/w0")
    runOnce()
    ev.filter(col("event_id") % 2 === 1).write.parquet(s"$landing/w1")
    runOnce()
    def got: Set[(Long, Long, Long)] =
      KeyedUpsertSink.readBucketedDelta(spark, tbl, k, o)
        .select("user_id", "event_id", "ts_us")
        .as[(Long, Long, Long)].collect().toSet
    val want = KeyedUpsertSink.latestByKey(ev, k, o)
      .select("user_id", "event_id", "ts_us")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // at-least-once redelivery: a FRESH checkpoint replays the entire
    // landing dir into the same table — the read must not change
    val versionsBefore = KeyedUpsertSink.tableVersions(tbl).max
    val root2 = Files.createTempDirectory("graft-delta-stream-ckpt2")
    val stream = spark.readStream.schema(ev.schema)
      .option("recursiveFileLookup", "true").parquet(landing)
    val q = stream.writeStream
      .foreachBatch((df: DataFrame, id: Long) => {
        KeyedUpsertSink.upsertBucketedDelta(
          spark, tbl, k, o, numBuckets = 8, compactAfter = 4)(df, id); ()
      })
      .option("checkpointLocation", root2.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(KeyedUpsertSink.tableVersions(tbl).max > versionsBefore,
      "the replay must really have committed new deltas")
    assert(got == want, "full-stream redelivery must be a read-level no-op")
  }

  test("a batch missing a key or order column is refused before the merge can null-fill it") {
    val path = newTable("graft-delta-guard")
    delta(path)(batchDf(("a", 1L, 10L)), 0L)
    // missing ORDER column ts: null-filled it would lose every LWW
    // comparison — a silent stale no-op upsert
    val err = intercept[IllegalArgumentException] {
      delta(path)(Seq(("a", 2L)).toDF("k", "v"), 1L)
    }
    assert(err.getMessage.contains("missing key/order column(s) ts"))
    // missing KEY column: every batch row would collapse into one
    // null-key group
    val err2 = intercept[IllegalArgumentException] {
      delta(path)(Seq((2L, 20L)).toDF("v", "ts"), 2L)
    }
    assert(err2.getMessage.contains("missing key/order column(s) k"))
    // composite order expressions contribute EVERY referenced attribute
    val err3 = intercept[IllegalArgumentException] {
      KeyedUpsertSink.upsertBucketedDelta(spark, path, Seq("k"),
        Seq(col("ts") + col("seq")))(Seq(("a", 30L)).toDF("k", "ts"), 3L)
    }
    assert(err3.getMessage.contains("missing key/order column(s) seq"))
    // an order Column built from a RESOLVED attribute (df("ts")) is
    // guarded too, not just unresolved col("ts") references
    val src = batchDf(("a", 3L, 30L))
    val err4 = intercept[IllegalArgumentException] {
      KeyedUpsertSink.upsertBucketedDelta(spark, path, Seq("k"),
        Seq(src("ts")))(Seq(("a", 4L)).toDF("k", "v"), 4L)
    }
    assert(err4.getMessage.contains("missing key/order column(s) ts"))
    assert(table(path) == Set(("a", 1L, 10L)), "a refused batch must change nothing")
  }

  test("a nested-struct order spec demands the TOP-LEVEL column, not the leaf field") {
    val path = newTable("graft-delta-nested")
    val nested = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 1L, 5L))
      .toDF("k", "v", "ts0")
      .select(col("k"), col("v"), struct(col("ts0").as("ts")).as("payload"))
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, Seq("k"), Seq(col("payload.ts")), 4) _
    sink(nested, 0L)
    val got = KeyedUpsertSink.readBucketedDelta(
      spark, path, Seq("k"), Seq(col("payload.ts")))
      .select(col("k"), col("v"), col("payload.ts").as("ts"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 20L), ("b", 1L, 5L)))
    // a batch with a stray TOP-LEVEL ts but no payload struct must be
    // refused for the missing `payload` — naming the leaf field would
    // pass this batch, null-fill payload, and silently lose every LWW
    // comparison (the corruption the guard exists to prevent)
    val err = intercept[IllegalArgumentException] {
      sink(Seq(("a", 9L, 99L)).toDF("k", "v", "ts"), 1L)
    }
    assert(err.getMessage.contains("missing key/order column(s) payload"))
  }

  test("a failed best-effort auto-compaction never fails a durably-committed batch") {
    val path = newTable("graft-delta-bestderr")
    val sink = delta(path, numBuckets = 1) _
    val gens = (0L to 2L).map(i => sink(batchDf((s"k$i", i, 10L + i)), i).gen)
    assert(chainLens(path) == Map(0L -> 3))
    // sabotage the fold: reclaim a REFERENCED generation dir (the shape a
    // concurrent vacuum race produces) so compaction's read blows up
    val victim = Paths.get(path, gens.head)
    val walk = Files.walk(victim)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    finally walk.close()
    // the next delta batch crosses compactAfter → auto-compaction fires
    // and FAILS — but the batch's own commit is already durable, so the
    // sink must return its stats, not throw
    val st = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets = 1, compactAfter = 3)(
      batchDf(("k3", 3L, 13L)), 3L)
      .getOrElse(fail("batch must commit despite the failed compaction"))
    assert(st.version == 4L)
    // chain left long for a later (healed) trigger — not folded, not torn
    assert(chainLens(path) == Map(0L -> 4))
  }
}
