package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sources.GraftUpsertSinkProvider

/** The SQL-level format surface over the keyed storage tier:
  * `spark.read.format("graft-table")` (resolved LWW batch read +
  * `versionAsOf` time travel, stored-spec default, column pruning) and
  * `df.writeStream.format("graft-upsert")` (declarative streaming sink
  * with exactly-once replay skip via the `stream.<id>` manifest
  * metadata high-water). Together with the `graft-changes` source they
  * make `readStream → writeStream` a zero-code replica pipeline.
  */
class GraftFormatSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def sink(path: String) = KeyedUpsertSink.upsertBucketedDelta(
    spark, path, keys, order, numBuckets = 4, compactAfter = 0) _

  private def resolved(path: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  test("graft-table reads the resolved LWW table path-only, with versionAsOf time travel") {
    val root = Files.createTempDirectory("graft-table-fmt")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L) // v2: update + insert
    // path-only: the stored spec drives the LWW resolve
    val got = spark.read.format("graft-table").option("path", t).load()
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(got == resolved(t))
    assert(got == Set(("a", 2L, 20L), ("b", 1L, 10L), ("c", 1L, 20L)))
    // time travel: versionAsOf pins the manifest
    val v1 = spark.read.format("graft-table").option("path", t)
      .option("versionAsOf", "1").load()
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(v1 == Set(("a", 1L, 10L), ("b", 1L, 10L)))
    // a narrow projection (PrunedScan) returns the right values, and
    // count(*) (the zero-column scan) still resolves per key
    assert(spark.read.format("graft-table").option("path", t).load()
      .select("k").as[String].collect().toSet == Set("a", "b", "c"))
    assert(spark.read.format("graft-table").option("path", t).load()
      .count() == 3L)
    // SQL users get the table with zero Scala
    spark.read.format("graft-table").option("path", t).load()
      .createOrReplaceTempView("gt")
    assert(spark.sql("SELECT sum(v) FROM gt").head().getLong(0) == 4L)
    // an explicit spec that mismatches the stored one is refused loudly
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("path", t)
        .option("keys", "k").option("orderBy", "v").load()
    }
    assert(err.getMessage.contains("mismatched spec silently changes LWW"))
  }

  test("graft-table key-equality filters prune buckets through lookupBucketed; anything else keeps the full scan") {
    val root = Files.createTempDirectory("graft-table-prune")
    val t = root.resolve("t").toString
    val up = sink(t)
    up((0 until 64).map(i => (s"k$i", i.toLong, 10L))
      .toDF("k", "v", "ts"), 0L)                        // v1
    up(batchDf(("k3", 100L, 20L), ("k7", 200L, 20L)), 1L) // v2: updates
    val routes = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.sources.GraftTableProvider.onTableRoute = routes += _
    try {
      def gt = spark.read.format("graft-table").option("path", t).load()
      // point lookup: EqualTo on the key routes pruned and equals LWW
      val one = gt.filter($"k" === "k3").select("k", "v", "ts")
        .as[(String, Long, Long)].collect().toSet
      assert(one == Set(("k3", 100L, 20L)))
      assert(routes.last == "pruned", s"routes=$routes")
      // IN + a residual non-key predicate: still pruned; the residual
      // (and the key filter itself) re-apply above the scan
      val some = gt.filter($"k".isin("k3", "k7", "k9") && $"v" > 150L)
        .select("k", "v").as[(String, Long)].collect().toSet
      assert(some == Set(("k7", 200L)))
      assert(routes.last == "pruned", s"routes=$routes")
      // a contradiction prunes to an EMPTY, schema-preserving scan (if
      // the optimizer folds it away before the scan, that is fine too —
      // assert only that any scan that DID run took the empty pruned
      // route, never a full table read)
      val before = routes.size
      assert(gt.filter($"k" === "k3" && $"k" === "k7").count() == 0L)
      assert(routes.drop(before).forall(_ == "pruned"), s"routes=$routes")
      // SQL point lookup through a view takes the same route
      gt.createOrReplaceTempView("gtp")
      assert(spark.sql("SELECT v FROM gtp WHERE k = 'k7'")
        .as[Long].collect().toSeq == Seq(200L))
      assert(routes.last == "pruned", s"routes=$routes")
      // a non-key predicate alone cannot pin keys → full scan, same rows
      val full = gt.filter($"v" > 150L)
        .select("k", "v").as[(String, Long)].collect().toSet
      assert(full == Set(("k7", 200L)))
      assert(routes.last == "full", s"routes=$routes")
      // null-safe equality is not pinned (it can match null) → full scan
      assert(gt.filter($"k" <=> "k3").count() == 1L)
      assert(routes.last == "full", s"routes=$routes")
      // versionAsOf + key filter: a PRUNED historical point read
      val hist = spark.read.format("graft-table").option("path", t)
        .option("versionAsOf", "1").load().filter($"k" === "k3")
        .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
      assert(hist == Set(("k3", 3L, 10L)))
      assert(routes.last == "pruned", s"routes=$routes")
    } finally graft.sources.GraftTableProvider.onTableRoute = _ => ()
  }

  test("a WEIGHTED mirror replicates deletes: bare -1 keys delete, +1/-1 pairs update, re-inserts return") {
    val root = Files.createTempDirectory("graft-upsert-wfmt")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val ckpt = root.resolve("ckpt").toString
    val upA = sink(a)
    def delA = KeyedUpsertSink.deleteBucketedDelta(
      spark, a, keys, order, numBuckets = 4) _
    upA(batchDf(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L)), 0L) // v1
    def mirror(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", a).option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .option("weighted", "true")
        .load()
        .writeStream.format("graft-upsert")
        .option("path", b).option("streamId", "wmirror")
        .option("keys", "k").option("orderBy", "ts")
        .option("numBuckets", "4").option("weighted", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mirror()
    assert(resolved(b) == resolved(a), "weighted bootstrap must mirror")
    // one wave: update a (+1/-1 pair), DELETE b (bare -1), insert d
    upA(batchDf(("a", 2L, 20L), ("d", 1L, 20L)), 1L) // v2
    delA(Seq(("b", 20L)).toDF("k", "ts"), 2L)        // v3
    mirror()
    assert(resolved(a) == Set(("a", 2L, 20L), ("c", 1L, 10L), ("d", 1L, 20L)))
    assert(resolved(b) == resolved(a),
      "the weighted mirror must apply the deletion, not just the upserts")
    // the deleted key is really gone from the replica's own reads
    assert(KeyedUpsertSink.lookupBucketed(
      spark, b, keys, order, Seq("b").toDF("k")).count() == 0L)
    // a later re-insert upstream returns through the mirror
    upA(batchDf(("b", 9L, 30L)), 3L) // v4
    mirror()
    assert(resolved(b) == resolved(a))
    assert(resolved(b).contains(("b", 9L, 30L)))
    // a replay at the high-water is still skipped (the marker rides the
    // batch's LAST commit)
    val vers = KeyedUpsertSink.tableVersions(b).size
    mirror() // idle drain: nothing new upstream
    assert(KeyedUpsertSink.tableVersions(b).size == vers)
    // plain mode still refuses a weighted feed loudly, naming the fix
    val bad = spark.readStream.format("graft-changes")
      .option("path", a).option("startingVersion", "0")
      .option("weighted", "true")
      .load()
      .writeStream.format("graft-upsert")
      .option("path", root.resolve("b2").toString)
      .option("streamId", "plain")
      .option("keys", "k").option("orderBy", "ts")
      .option("checkpointLocation", root.resolve("ckpt2").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      bad.awaitTermination()
    }
    assert(err.getMessage.contains("weighted=true") ||
      err.getCause.getMessage.contains("weighted=true"))
  }

  test("graft-changes into graft-upsert is a zero-code replica; a post-commit crash replay is skipped exactly-once") {
    val root = Files.createTempDirectory("graft-upsert-fmt")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val ckpt = root.resolve("ckpt").toString
    val upA = sink(a)
    upA(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    upA(batchDf(("a", 2L, 20L)), 1L)                 // v2
    def mirror(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", a).option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("graft-upsert")
        .option("path", b).option("streamId", "mirror")
        .option("keys", "k").option("orderBy", "ts")
        .option("numBuckets", "4")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mirror()
    assert(resolved(b) == resolved(a), "declarative mirror must equal upstream")
    // the high-water rides the table's own metadata, scoped by the
    // checkpoint-lifecycle signature (`<batchId>@<sig>`)
    def hw(): Long = KeyedUpsertSink.versionedHeadFull(b)._3("stream.mirror")
      .split("@", 2)(0).toLong
    val hw0 = hw()
    val nVers0 = KeyedUpsertSink.tableVersions(b).size
    // upstream advances; the next drain CRASHES after the first batch's
    // table commit but before its checkpoint commits — the exactly-once
    // window the metadata high-water absorbs
    upA(batchDf(("b", 2L, 30L)), 2L) // v3
    upA(batchDf(("c", 1L, 40L)), 3L) // v4
    GraftUpsertSinkProvider.onSinkCommit = _ =>
      throw new RuntimeException("injected crash after table commit")
    try intercept[Throwable] { mirror() }
    finally GraftUpsertSinkProvider.onSinkCommit = _ => ()
    val midVers = KeyedUpsertSink.tableVersions(b).size
    assert(midVers == nVers0 + 1, "exactly the pre-crash batch committed")
    // restart: the engine replays the crashed batch — the sink must
    // SKIP it (no duplicate version, no chain growth) and continue
    mirror()
    assert(resolved(b) == resolved(a))
    assert(KeyedUpsertSink.tableVersions(b).size == nVers0 + 2,
      "the replayed batch must not re-commit")
    assert(hw() > hw0)
    // a FRESH checkpoint with the SAME streamId is a new batch-numbering
    // lifecycle: its batch 0 must NOT be skipped against the old run's
    // high-water (the signature scopes the marker) — without this, a
    // checkpoint rebuild silently mirrors nothing until the new run's
    // ids outgrow the old ones
    upA(batchDf(("d", 1L, 50L)), 4L) // v5
    val s = Files.walk(java.nio.file.Paths.get(ckpt))
    try s.sorted(java.util.Comparator.reverseOrder()).iterator()
      .forEachRemaining(p => { Files.deleteIfExists(p); () })
    finally s.close()
    mirror() // fresh checkpoint, same streamId, batchIds restart at 0
    assert(resolved(b) == resolved(a),
      "a fresh-checkpoint restart must not silently drop batches")
  }

  test("the mirror survives an UPSTREAM rebucket; a SINK-side rebucket refuses the stale layout option loudly, then resumes") {
    val root = Files.createTempDirectory("graft-upsert-rbk")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val ckpt = root.resolve("ckpt").toString
    val upA = sink(a)
    upA(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    def mirror(numBuckets: Int): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", a).option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("graft-upsert")
        .option("path", b).option("streamId", "m")
        .option("keys", "k").option("orderBy", "ts")
        .option("numBuckets", numBuckets.toString)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mirror(4)
    assert(resolved(b) == resolved(a))
    // UPSTREAM resize mid-stream: the feed range spanning it serves the
    // always-correct full diff; the mirror must stay exact
    KeyedUpsertSink.rebucketTable(spark, a, keys, order, 8) // v2
    KeyedUpsertSink.upsertBucketedDelta(spark, a, keys, order,
      numBuckets = 8, compactAfter = 0)(batchDf(("a", 2L, 20L)), 1L) // v3
    mirror(4)
    assert(resolved(b) == resolved(a),
      "the mirror must cross an upstream resize exactly")
    // SINK-side resize: the replica re-buckets; a restart still passing
    // the OLD numBuckets option must be refused with the recorded count
    KeyedUpsertSink.rebucketTable(spark, b, keys, order, 16)
    KeyedUpsertSink.upsertBucketedDelta(spark, a, keys, order,
      numBuckets = 8, compactAfter = 0)(batchDf(("b", 2L, 30L)), 2L) // v4
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      mirror(4)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(c => Option(c.getMessage)
      .exists(m => m.contains("16") && m.contains("bucket"))),
      s"got: ${chain(err).map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")}")
    // restarting with the NEW count resumes from the checkpoint and
    // catches up — the replica stays exact across its own resize
    mirror(16)
    assert(resolved(b) == resolved(a))
  }

  test("graft-upsert refuses a retraction (weighted) feed loudly, not as silent junk upserts") {
    val root = Files.createTempDirectory("graft-upsert-weighted")
    val a = root.resolve("a").toString
    sink(a)(batchDf(("a", 1L, 10L)), 0L)
    val q = spark.readStream.format("graft-changes")
      .option("path", a).option("startingVersion", "0")
      .option("weighted", "true") // the misuse under test
      .load()
      .writeStream.format("graft-upsert")
      .option("path", root.resolve("b").toString)
      .option("streamId", "w")
      .option("keys", "k").option("orderBy", "ts")
      .option("checkpointLocation", root.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(err).exists(c => Option(c.getMessage)
      .exists(_.contains("RETRACTION stream"))),
      s"got: ${chain(err).map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")}")
  }

  test("the committer's txn guard aborts a zombie re-commit instead of regressing the high-water") {
    val root = Files.createTempDirectory("graft-upsert-zombie")
    val t = root.resolve("t").toString
    def applied(batchId: Long)(meta: Map[String, String]): Boolean =
      meta.get("stream.z").exists(_.toLong >= batchId)
    def commit(batchId: Long, rows: DataFrame) =
      KeyedUpsertSink.upsertBucketedDelta(spark, t, keys, order,
        numBuckets = 4, compactAfter = 0,
        extraMeta = Map("stream.z" -> batchId.toString),
        abortIf = applied(batchId))(rows, batchId)
    assert(commit(5L, batchDf(("a", 1L, 10L))).isDefined)
    val vers0 = KeyedUpsertSink.tableVersions(t).size
    def gens(): Int = {
      val s = Files.list(java.nio.file.Paths.get(t))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("gen-"))
      finally s.close()
    }
    val gens0 = gens()
    // the zombie: same batch re-submitted AFTER its marker advanced —
    // the guard aborts (None), commits nothing, reclaims its own stage
    assert(commit(5L, batchDf(("a", 99L, 99L))).isEmpty)
    assert(KeyedUpsertSink.tableVersions(t).size == vers0,
      "an aborted zombie batch must not add a version")
    assert(gens() == gens0, "the aborted stage must be reclaimed")
    assert(KeyedUpsertSink.versionedHeadFull(t)._3("stream.z") == "5",
      "the high-water must not regress")
    assert(resolved(t) == Set(("a", 1L, 10L)),
      "the zombie's data must not land")
    // a LATER batch still commits and advances the marker
    assert(commit(6L, batchDf(("b", 1L, 20L))).isDefined)
    assert(KeyedUpsertSink.versionedHeadFull(t)._3("stream.z") == "6")
    // manifest-corrupting extraMeta refused at the API, not at the wreck
    intercept[IllegalArgumentException] {
      KeyedUpsertSink.upsertBucketedDelta(spark, t, keys, order,
        numBuckets = 4, extraMeta = Map("a=b" -> "1"))(
        batchDf(("c", 1L, 30L)), 7L)
    }
    intercept[IllegalArgumentException] {
      KeyedUpsertSink.upsertBucketedDelta(spark, t, keys, order,
        numBuckets = 4, extraMeta = Map("ok" -> "a\rb"))(
        batchDf(("c", 1L, 30L)), 7L)
    }
  }

  test("a compaction racing a marker-advancing commit carries the NEW metadata forward, never reverting it") {
    // the cross-feature hazard: compactBucketChains' CAS retry used to
    // commit the metadata it read BEFORE staging — a concurrent upsert
    // that advanced stream.<id> (or widened the schema) in between was
    // silently reverted, re-opening the replay-duplicate window the
    // sink's abortIf guard closes
    val root = Files.createTempDirectory("graft-compact-meta")
    val t = root.resolve("t").toString
    def commit(batchId: Long, rows: DataFrame): Unit = {
      KeyedUpsertSink.upsertBucketedDelta(spark, t, keys, order,
        numBuckets = 2, compactAfter = 0,
        extraMeta = Map("stream.m" -> batchId.toString))(rows, batchId)
      ()
    }
    commit(6L, batchDf(("a", 1L, 10L), ("b", 1L, 10L)))
    commit(7L, batchDf(("a", 2L, 20L), ("b", 2L, 20L))) // chains: 2 gens
    // the compactor stages against marker 7; the hook lands a
    // CONCURRENT commit advancing the marker to 8 before the first
    // commit attempt, forcing the CAS retry path
    val compacted = KeyedUpsertSink.compactBucketChains(spark, t, keys,
      order, minChain = 2,
      onBeforeFirstCommit = () => commit(8L, batchDf(("c", 1L, 30L))))
    assert(compacted.nonEmpty, "fixture must actually compact")
    assert(KeyedUpsertSink.versionedHeadFull(t)._3("stream.m") == "8",
      "the compaction must carry the concurrently-advanced marker " +
        "forward, not revert it to its pre-stage read")
    assert(resolved(t) ==
      Set(("a", 2L, 20L), ("b", 2L, 20L), ("c", 1L, 30L)))
  }

  test("df.write.format(graft-table) creates then upserts; INSERT INTO works; Overwrite/ErrorIfExists/Ignore and scratch columns refuse") {
    val root = Files.createTempDirectory("graft-table-write")
    val t = root.resolve("t").toString
    // first commit CREATES the table: options record the spec + layout
    batchDf(("a", 1L, 10L), ("b", 1L, 10L))
      .write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 10L), ("b", 1L, 10L)))
    // second commit: stored spec, path-only — and append means UPSERT
    batchDf(("a", 2L, 20L), ("c", 1L, 20L))
      .write.format("graft-table").option("path", t)
      .mode("append").save()
    assert(resolved(t) == Set(("a", 2L, 20L), ("b", 1L, 10L), ("c", 1L, 20L)))
    // an order-TIE resolves to the later COMMIT (LWW batch-beats-existing)
    batchDf(("a", 3L, 20L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t).contains(("a", 3L, 20L)))
    // the write facade went through the versioned committer: time travel
    // sees each commit
    assert(KeyedUpsertSink.tableVersions(t).size == 3)
    // pure-SQL end to end: catalog registration + INSERT INTO + SELECT
    spark.sql("DROP TABLE IF EXISTS gtw")
    spark.sql(s"CREATE TABLE gtw USING `graft-table` OPTIONS (path '$t')")
    try {
      spark.sql("INSERT INTO gtw VALUES ('d', 1, 30)")
      // DSv1 snapshot contract: the catalog caches the relation pinned
      // at CREATE TABLE; REFRESH re-resolves the head (fresh sessions
      // need no refresh)
      spark.sql("REFRESH TABLE gtw")
      assert(spark.sql("SELECT v FROM gtw WHERE k = 'd'")
        .as[Long].collect().toSeq == Seq(1L))
      assert(resolved(t).contains(("d", 1L, 30L)))
      // INSERT OVERWRITE is the Overwrite refusal through the SQL door
      val eo = intercept[Exception] {
        spark.sql("INSERT OVERWRITE TABLE gtw VALUES ('e', 1, 40)")
      }
      assert(eo.getMessage.contains("Overwrite"))
    } finally spark.sql("DROP TABLE IF EXISTS gtw")
    // Overwrite / default ErrorIfExists / Ignore refuse loudly
    val e1 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", t).mode("overwrite").save()
    }
    assert(e1.getMessage.contains("Overwrite"))
    val e2 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", t).save() // default ErrorIfExists
    }
    assert(e2.getMessage.contains("append"))
    val e3 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", t).mode("ignore").save()
    }
    assert(e3.getMessage.contains("append"))
    // a mismatched explicit spec refuses through the committer handshake
    val e4 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", t).option("keys", "k").option("orderBy", "v")
        .mode("append").save()
    }
    assert(e4.getMessage.contains("spec"))
    // engine scratch columns refuse (a weighted feed is not a batch)
    val e5 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).withColumn("__weight", lit(1L))
        .write.format("graft-table").option("path", t)
        .mode("append").save()
    }
    assert(e5.getMessage.contains("__weight"))
    // a brand-new table without the spec options names the fix
    val e6 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", root.resolve("t2").toString).mode("append").save()
    }
    assert(e6.getMessage.contains("keys"))
    // nothing above corrupted the table
    assert(resolved(t) == Set(("a", 3L, 20L), ("b", 1L, 10L),
      ("c", 1L, 20L), ("d", 1L, 30L)))
    // a versionAsOf registration is a read-only historical view: INSERT
    // refuses instead of silently committing to the head
    spark.sql("DROP TABLE IF EXISTS gtw_hist")
    spark.sql(s"CREATE TABLE gtw_hist USING `graft-table` " +
      s"OPTIONS (path '$t', versionAsOf '1')")
    try {
      val eh = intercept[Exception] {
        spark.sql("INSERT INTO gtw_hist VALUES ('z', 1, 99)")
      }
      assert(eh.getMessage.contains("versionAsOf"))
      assert(!resolved(t).contains(("z", 1L, 99L)))
    } finally spark.sql("DROP TABLE IF EXISTS gtw_hist")
  }


  test("option(delete) tombstones through df.write and the INSERT INTO door; a delete cannot create a table") {
    val root = Files.createTempDirectory("graft-table-delete")
    val t = root.resolve("t").toString
    batchDf(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L))
      .write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    // the SQL delete verb: one tombstone per (key, order) tuple, ranked
    // above b's row — b leaves every resolved read
    Seq(("b", 20L)).toDF("k", "ts")
      .write.format("graft-table").option("path", t)
      .option("delete", "true").mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 10L), ("c", 1L, 10L)))
    assert(spark.read.format("graft-table").option("path", t).load()
      .filter($"k" === "b").count() == 0L)
    // a replayed OLDER event still loses to the tombstone
    batchDf(("b", 7L, 15L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 10L), ("c", 1L, 10L)))
    // a LATER upsert re-creates the key
    batchDf(("b", 9L, 30L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 10L), ("b", 9L, 30L), ("c", 1L, 10L)))
    // time travel below the delete still serves the key
    assert(spark.read.format("graft-table").option("path", t)
      .option("versionAsOf", "1").load().filter($"k" === "b").count() == 1L)
    // the DELETE DOOR registration: INSERT INTO tombstones via pure SQL
    spark.sql("DROP TABLE IF EXISTS gtd")
    spark.sql(s"CREATE TABLE gtd USING `graft-table` " +
      s"OPTIONS (path '$t', delete 'true')")
    try {
      spark.sql("INSERT INTO gtd SELECT 'c', 0, 40")
      assert(resolved(t) == Set(("a", 1L, 10L), ("b", 9L, 30L)))
    } finally spark.sql("DROP TABLE IF EXISTS gtd")
    // reads through a delete-door registration stay plain resolved reads
    spark.sql(s"CREATE TABLE gtd2 USING `graft-table` " +
      s"OPTIONS (path '$t', delete 'true')")
    try assert(spark.sql("SELECT count(*) FROM gtd2").head().getLong(0) == 2L)
    finally spark.sql("DROP TABLE IF EXISTS gtd2")
    // a delete against a table that does not exist refuses loudly — it
    // can never CREATE one (there is no schema to delete against)
    val e = intercept[Exception] {
      Seq(("x", 1L)).toDF("k", "ts").write.format("graft-table")
        .option("path", root.resolve("t2").toString)
        .option("keys", "k").option("orderBy", "ts")
        .option("delete", "true").mode("append").save()
    }
    assert(e.getMessage.contains("delete"))
    // Overwrite + delete is still the Overwrite refusal (mode checked first)
    val e2 = intercept[Exception] {
      Seq(("a", 99L)).toDF("k", "ts").write.format("graft-table")
        .option("path", t).option("delete", "true")
        .mode("overwrite").save()
    }
    assert(e2.getMessage.contains("Overwrite"))
    assert(resolved(t) == Set(("a", 1L, 10L), ("b", 9L, 30L)),
      "the refused writes must not have landed")
  }

  test("the resolved read's COLUMN ORDER is the stored schema's, never the generation-uuid lottery") {
    // the r18 disclosed flake, reproduced and pinned this round: the
    // resolve unions one scan per generation sorted by generation NAME
    // (a random uuid), and unionByName's output order follows the first
    // scan — so a delete's widened tombstone generation (which leads
    // with key+order columns, k,ts,v) flipped the resolved schema to
    // (k,ts,v) whenever its uuid sorted first. A catalog registration
    // then recorded the flipped order and INSERT INTO ... SELECT bound
    // values positionally against it (0 → ts), committing a tombstone
    // that LOST its LWW rank. The uuid lottery flips per table, so one
    // table proves nothing — iterate: 12 fresh tables each carrying a
    // widened delete generation, every one must present (k, v, ts).
    (1 to 12).foreach { i =>
      val root = Files.createTempDirectory(s"graft-schema-order-$i")
      val t = root.resolve("t").toString
      sink(t)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
      KeyedUpsertSink.deleteBucketedDelta(
        spark, t, keys, order, numBuckets = 4)(
        Seq(("b", 20L)).toDF("k", "ts"), 1L)
      val got = KeyedUpsertSink.readBucketedDelta(spark, t, keys, order)
        .schema.fieldNames.toSeq
      assert(got == Seq("k", "v", "ts"),
        s"iteration $i: resolved schema order drifted to $got — the " +
          "generation-uuid lottery is deciding column order again")
      // the facade (and therefore any catalog registration) inherits it
      assert(spark.read.format("graft-table").option("path", t).load()
        .schema.fieldNames.toSeq == Seq("k", "v", "ts"))
    }
  }

  test("option(deleteWhere) deletes by predicate against the RESOLVED snapshot; refusals are loud") {
    val root = Files.createTempDirectory("graft-table-delete-where")
    val t = root.resolve("t").toString
    // a's RAW history matches v >= 10 at ts 10, but its RESOLVED image
    // (v=1, ts=20) does not — a predicate evaluated against raw
    // version-rows instead of the snapshot would wrongly delete it
    batchDf(("a", 10L, 10L), ("b", 10L, 10L), ("c", 1L, 10L))
      .write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    batchDf(("a", 1L, 20L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    val versionsBefore = KeyedUpsertSink.tableVersions(t).size
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("deleteWhere", "v >= 10").mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 20L), ("c", 1L, 10L)),
      "only b's resolved image matches; a's superseded one must not")
    // the tombstone rides b's own order (ts=10): a strictly-older
    // replay still loses, a later upsert re-creates the key
    batchDf(("b", 99L, 5L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 20L), ("c", 1L, 10L)))
    batchDf(("b", 2L, 30L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(
      ("a", 1L, 20L), ("b", 2L, 30L), ("c", 1L, 10L)))
    // matching nothing commits nothing — no burned version
    val vs = KeyedUpsertSink.tableVersions(t).size
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("deleteWhere", "v > 1000000").mode("append").save()
    assert(KeyedUpsertSink.tableVersions(t).size == vs,
      "a no-match deleteWhere must not commit a version")
    // Scala API parity under the stored spec
    KeyedUpsertSink.deleteWhere(spark, t, $"k" === "c", numBuckets = 4)
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 2L, 30L)))
    // refusal set: both verbs at once; a data-carrying batch; an empty
    // predicate; a never-created table
    val e1 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("delete", "true").option("deleteWhere", "v = 1")
        .mode("append").save()
    }
    assert(e1.getMessage.contains("different verbs"))
    val e2 = intercept[Exception] {
      batchDf(("a", 1L, 1L)).write.format("graft-table").option("path", t)
        .option("deleteWhere", "v = 1").mode("append").save()
    }
    assert(e2.getMessage.contains("EMPTY"))
    val e3 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("deleteWhere", "  ").mode("append").save()
    }
    assert(e3.getMessage.contains("predicate"))
    val e4 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table")
        .option("path", root.resolve("t2").toString)
        .option("keys", "k").option("orderBy", "ts")
        .option("deleteWhere", "v = 1").mode("append").save()
    }
    assert(e4.getMessage != null)
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 2L, 30L)),
      "the refused writes must not have landed")
    // the catalog door: a deleteWhere registration's INSERT-less write
    // path is df.write only (INSERT INTO needs rows by SQL grammar);
    // reads through it stay plain resolved reads
    spark.sql("DROP TABLE IF EXISTS gdw")
    spark.sql(s"CREATE TABLE gdw USING `graft-table` " +
      s"OPTIONS (path '$t', deleteWhere 'v = 1')")
    try assert(spark.sql("SELECT count(*) FROM gdw").head().getLong(0) == 2L)
    finally spark.sql("DROP TABLE IF EXISTS gdw")
  }

  test("option(updateWhere)+set rewrites matched images in place; key/order SETs and malformed assignments refuse") {
    val root = Files.createTempDirectory("graft-table-update-where")
    val t = root.resolve("t").toString
    batchDf(("a", 10L, 10L), ("b", 5L, 10L), ("c", 1L, 10L))
      .write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    batchDf(("a", 1L, 20L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    // predicate over the RESOLVED image (a's raw v=10 at ts=10 matches
    // v >= 5 but its resolved image v=1 does not); the SET evaluates
    // against the matched image (v doubles, not a constant), and
    // commas inside a set expression survive the assignment split
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("updateWhere", "v >= 5")
      .option("set", "v = coalesce(v, 0) * 2").mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 10L, 10L), ("c", 1L, 10L)))
    // ranked at the image's own order: a strictly-older replay cannot
    // revert the rewrite; a later upsert outranks it normally
    batchDf(("b", 5L, 5L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 10L, 10L), ("c", 1L, 10L)))
    batchDf(("b", 7L, 30L)).write.format("graft-table")
      .option("path", t).mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 7L, 30L), ("c", 1L, 10L)))
    // match-nothing commits nothing
    val vs = KeyedUpsertSink.tableVersions(t).size
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("updateWhere", "v > 1000").option("set", "v = 0")
      .mode("append").save()
    assert(KeyedUpsertSink.tableVersions(t).size == vs)
    // refusals: SET on a key column; SET on an order column; set
    // without updateWhere; a data-carrying batch; malformed assignment;
    // unknown SET column; two predicate verbs at once
    val e1 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("updateWhere", "true").option("set", "k = 'z'")
        .mode("append").save()
    }
    assert(e1.getMessage.contains("identity"))
    val e2 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("updateWhere", "true").option("set", "ts = ts + 1")
        .mode("append").save()
    }
    assert(e2.getMessage.contains("order column"))
    val e3 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("set", "v = 1").mode("append").save()
    }
    assert(e3.getMessage.contains("updateWhere"))
    val e4 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table").option("path", t)
        .option("updateWhere", "true").option("set", "v = 1")
        .mode("append").save()
    }
    assert(e4.getMessage.contains("EMPTY"))
    val e5 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("updateWhere", "true").option("set", "v + 1")
        .mode("append").save()
    }
    assert(e5.getMessage.contains("not 'column = expression'"))
    val e6 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("updateWhere", "true").option("set", "nope = 1")
        .mode("append").save()
    }
    assert(e6.getMessage.contains("nope"))
    val e7 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("updateWhere", "v = 1").option("deleteWhere", "v = 1")
        .mode("append").save()
    }
    assert(e7.getMessage.contains("different verbs"))
    assert(resolved(t) == Set(("a", 1L, 20L), ("b", 7L, 30L), ("c", 1L, 10L)),
      "the refused writes must not have landed")
    // SIMULTANEOUS application — SQL UPDATE semantics: SET a = b, b = a
    // swaps (a sequential fold would read the already-rewritten value)
    val t2 = root.resolve("t2").toString
    Seq(("a", 1L, 2L, 10L), ("b", 5L, 6L, 10L))
      .toDF("k", "v", "w", "ts")
      .write.format("graft-table").option("path", t2)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    spark.emptyDataFrame.write.format("graft-table").option("path", t2)
      .option("updateWhere", "k = 'a'").option("set", "v = w, w = v")
      .mode("append").save()
    assert(KeyedUpsertSink.readBucketedDelta(spark, t2, keys, order)
      .select("k", "v", "w").as[(String, Long, Long)].collect().toSet ==
      Set(("a", 2L, 1L), ("b", 5L, 6L)),
      "SET must evaluate every expression against the matched image")
    // a type-incompatible SET refuses instead of null-coercing
    val e8 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t2)
        .option("updateWhere", "true").option("set", "v = 'high'")
        .mode("append").save()
    }
    assert(e8.getMessage.contains("not assignable"))
    // a duplicate assignment is a contradiction, not last-wins
    val e9 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t2)
        .option("updateWhere", "true").option("set", "v = 1, v = 2")
        .mode("append").save()
    }
    assert(e9.getMessage.contains("more than once"))
    // a case-variant duplicate SET resolves to one column — refused by
    // the verb itself (the SQL door only sees verbatim duplicates)
    val e10 = intercept[Exception] {
      KeyedUpsertSink.updateWhere(spark, t2, lit(true),
        Map("v" -> lit(1L), "V" -> lit(2L)), numBuckets = 4)
    }
    assert(e10.getMessage.contains("same column"))
    // a DOT-named value column must not break updateWhere on OTHER
    // columns (bare col() parses dots as struct access), and a
    // backtick-quoted SET target reaches it directly
    val t3 = root.resolve("t3").toString
    Seq(("a", 1L, 7L, 10L)).toDF("k", "v", "p.u", "ts")
      .write.format("graft-table").option("path", t3)
      .option("keys", "k").option("orderBy", "ts").option("numBuckets", "4")
      .mode("append").save()
    spark.emptyDataFrame.write.format("graft-table").option("path", t3)
      .option("updateWhere", "k = 'a'").option("set", "v = v + 1")
      .mode("append").save()
    spark.emptyDataFrame.write.format("graft-table").option("path", t3)
      .option("updateWhere", "k = 'a'").option("set", "`p.u` = 9")
      .mode("append").save()
    assert(KeyedUpsertSink.readBucketedDelta(spark, t3, keys, order)
      .select(col("k"), col("v"), col("`p.u`"))
      .as[(String, Long, Long)].collect().toSet == Set(("a", 2L, 9L)))
    // the assignment splitter: top-level commas split, nested ones do
    // not, doubled quotes stay inside strings
    import graft.sources.GraftTableProvider.{splitTopLevel, topLevelAssignEq}
    assert(splitTopLevel("a = coalesce(b, c), d = 'x,y'", ',') ==
      Seq("a = coalesce(b, c)", " d = 'x,y'"))
    assert(splitTopLevel("a = 'it''s, fine', b = 2", ',') ==
      Seq("a = 'it''s, fine'", " b = 2"))
    assert(topLevelAssignEq("v = v <= 2") == 2)
    assert(topLevelAssignEq("v != 2") == -1)
    assert(topLevelAssignEq("v >= 2") == -1)
  }

  test("option(history) reads the commit log: one row per version, chain debt visible, read-only") {
    val root = Files.createTempDirectory("graft-table-history")
    val t = root.resolve("t").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L)), 1L)                 // v2
    KeyedUpsertSink.deleteBucketedDelta(
      spark, t, keys, order, numBuckets = 4)(
      Seq(("b", 30L)).toDF("k", "ts"), 2L)          // v3
    val h = spark.read.format("graft-table").option("path", t)
      .option("history", "true").load()
    val rows = h.orderBy("version").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the layout width is bounded by numBuckets at every version, and
    // merge-on-read debt (chain segments) never shrinks without a
    // compaction — this fixture commits with compactAfter disabled
    assert(rows.forall(_.getLong(1) <= 4L))
    val segs = rows.map(_.getLong(2)).toSeq
    assert(segs == segs.sorted && segs.last > segs.head,
      s"chain debt must accumulate across commits, got $segs")
    // committed metadata rides verbatim: the self-describing spec and
    // schema are present at the head
    val meta = rows.last.getMap[String, String](3)
    assert(meta.contains("keySpec") && meta.contains("orderSpec") &&
      meta.contains("schema"), s"meta keys: ${meta.keys.toSeq.sorted}")
    // pure SQL: register the history view, query the debt trend
    spark.sql("DROP TABLE IF EXISTS gth")
    spark.sql(s"CREATE TABLE gth USING `graft-table` " +
      s"OPTIONS (path '$t', history 'true')")
    try {
      assert(spark.sql("SELECT max(version) FROM gth")
        .head().getLong(0) == 3L)
      // the log is read PER SCAN, never frozen at registration: a
      // commit landing after CREATE TABLE is visible to the next query
      // through the CACHED relation (Spark's relation cache would pin
      // an eager snapshot forever)
      up(batchDf(("c", 1L, 40L)), 3L) // v4
      assert(spark.sql("SELECT max(version) FROM gth")
        .head().getLong(0) == 4L,
        "a history registration must see commits made after CREATE TABLE")
    } finally spark.sql("DROP TABLE IF EXISTS gth")
    // read-only: writing through a history option refuses loudly
    val e = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table")
        .option("path", t).option("history", "true")
        .mode("append").save()
    }
    assert(e.getMessage.contains("READ-ONLY"))
    // history + versionAsOf is a contradiction, named
    val e2 = intercept[Exception] {
      spark.read.format("graft-table").option("path", t)
        .option("history", "true").option("versionAsOf", "1").load()
    }
    assert(e2.getMessage.contains("versionAsOf"))
    // a mistyped path refuses loudly — a silent empty history would
    // read as "no commits" (the normal read path's own contract). The
    // refusal fires at the first SCAN, not at load(): relation creation
    // is free by design (the log is re-read per scan)
    val e3 = intercept[Exception] {
      spark.read.format("graft-table")
        .option("path", root.resolve("tabel").toString)
        .option("history", "true").load().count()
    }
    assert(e3.getMessage.contains("never created"))
    // a malformed boolean names the option, not a bare parse error
    val e4 = intercept[Exception] {
      spark.read.format("graft-table").option("path", t)
        .option("history", "ture").load()
    }
    assert(e4.getMessage.contains("history") &&
      e4.getMessage.contains("ture"))
  }

  test("maintain/stats/advise doors: the whole table lifecycle from the format surface") {
    val root = Files.createTempDirectory("graft-table-maintain")
    val t = root.resolve("t").toString
    val up = sink(t) // compactAfter = 0: chains accumulate on purpose
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    up(batchDf(("a", 2L, 20L)), 1L)
    up(batchDf(("a", 3L, 30L)), 2L)
    KeyedUpsertSink.deleteBucketedDelta(
      spark, t, keys, order, numBuckets = 4)(
      Seq(("b", 40L)).toDF("k", "ts"), 3L)
    def stats() = spark.read.format("graft-table").option("path", t)
      .option("stats", "true").load()
      .select("bucket", "files", "bytes", "chain_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val before = stats()
    assert(before.exists(_._3 > 1L), s"fixture should carry chains: ${before.toSeq}")
    // the compact ADVISOR fires on the chained fixture (threshold
    // lowered to the fixture's scale) and goes healthy after the fold
    def compactAdvice(): (Boolean, String) = {
      val r = spark.read.format("graft-table").option("path", t)
        .option("advise", "true").option("compactAt", "2").load()
        .filter($"advisor" === "compact").head()
      (r.getBoolean(1), r.getString(2))
    }
    val (h0, rec0) = compactAdvice()
    assert(!h0 && rec0 == "maintain='compact'", s"got ($h0, $rec0)")
    // OBSERVE is per-scan: register once, watch the chain debt move
    spark.sql("DROP TABLE IF EXISTS gts")
    spark.sql(s"CREATE TABLE gts USING `graft-table` " +
      s"OPTIONS (path '$t', stats 'true')")
    try {
      val debt0 = spark.sql("SELECT max(chain_len) FROM gts")
        .head().getLong(0)
      assert(debt0 > 1L)
      // ACT: compact through the format door (empty batch)
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("maintain", "compact").mode("append").save()
      assert(spark.sql("SELECT max(chain_len) FROM gts")
        .head().getLong(0) == 1L,
        "a stats registration must see the compaction's effect")
    } finally spark.sql("DROP TABLE IF EXISTS gts")
    assert(resolved(t) == Set(("a", 3L, 30L)),
      "compaction must not change the resolve (b stays tombstoned)")
    val (h1, rec1) = compactAdvice()
    assert(h1 && rec1 == null,
      s"compact advisor must read healthy after the fold, got ($h1, $rec1)")
    // PURGE through the door: drop tombstones ranked at-or-under ts 40
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("maintain", "purge").option("purgePredicate", "ts <= 40")
      .mode("append").save()
    assert(resolved(t) == Set(("a", 3L, 30L)))
    // the purge is physical: a raw chain read shows no tombstone rows
    assert(KeyedUpsertSink.tableStats(t).map(_.files).sum >= 1L)
    // VACUUM through the door: compaction + purge superseded whole
    // generations — reclaim them. quiesceMs=1: the default 60 s dwell
    // (an in-flight staging guard) would retain this just-written
    // fixture's gens; no live writers here, so opt out explicitly
    val gensBefore = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .filter(p => p.getFileName.toString.startsWith("gen-")).count()
    Thread.sleep(100)
    spark.emptyDataFrame.write.format("graft-table").option("path", t)
      .option("maintain", "vacuum").option("quiesceMs", "1")
      .mode("append").save()
    val gensAfter = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .filter(p => p.getFileName.toString.startsWith("gen-")).count()
    assert(gensAfter < gensBefore,
      s"vacuum should reclaim superseded generations ($gensBefore → $gensAfter)")
    assert(resolved(t) == Set(("a", 3L, 30L)),
      "vacuum must not change the resolve")
    // ADVISE: a healthy tiny table → null recommendation; a lagging
    // consumer → a concrete graceManifests floor
    val adv = spark.read.format("graft-table").option("path", t)
      .option("advise", "true").load().collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(adv.exists { case (a, h, rec) => a == "rebucket" && h && rec == null })
    val head = KeyedUpsertSink.tableVersions(t).max
    val advC = spark.read.format("graft-table").option("path", t)
      .option("advise", "true").option("consumers", s"mirror=${head - 1}")
      .load().collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(advC.exists { case (a, rec) =>
      a == "retention" && rec != null && rec.contains("graceManifests >= 1") },
      s"got ${advC.toSeq}")
    // REFUSALS, each loud and specific
    val e1 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table").option("path", t)
        .option("maintain", "compact").mode("append").save()
    }
    assert(e1.getMessage.contains("EMPTY"))
    val e2 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("maintain", "compact").option("delete", "true")
        .mode("append").save()
    }
    assert(e2.getMessage.contains("one verb per write"))
    val e3 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("maintain", "defrag").mode("append").save()
    }
    assert(e3.getMessage.contains("defrag"))
    val e4 = intercept[Exception] {
      spark.emptyDataFrame.write.format("graft-table").option("path", t)
        .option("maintain", "purge").mode("append").save()
    }
    assert(e4.getMessage.contains("purgePredicate"))
    val e5 = intercept[Exception] {
      batchDf(("x", 1L, 1L)).write.format("graft-table").option("path", t)
        .option("stats", "true").mode("append").save()
    }
    assert(e5.getMessage.contains("READ-ONLY"))
    val e6 = intercept[Exception] {
      spark.read.format("graft-table").option("path", t)
        .option("stats", "true").option("history", "true").load()
    }
    assert(e6.getMessage.contains("one table per question"))
    val e7 = intercept[Exception] {
      spark.read.format("graft-table").option("path", t)
        .option("advise", "true").option("consumers", "mirror=x")
        .load().count()
    }
    assert(e7.getMessage.contains("label=version"))
    // a mistyped path refuses at first scan — "0 buckets" / "healthy"
    // for a table that does not exist is the silent answer these
    // monitoring verbs must never give (the history verb's contract)
    val e8 = intercept[Exception] {
      spark.read.format("graft-table")
        .option("path", root.resolve("tabel").toString)
        .option("stats", "true").load().count()
    }
    assert(e8.getMessage.contains("never created"))
    val e9 = intercept[Exception] {
      spark.read.format("graft-table")
        .option("path", root.resolve("tabel").toString)
        .option("advise", "true").load().count()
    }
    assert(e9.getMessage.contains("never created"))
  }

  test("an EMPTY batch write to a brand-new path is a no-op, not a half-created table") {
    val root = Files.createTempDirectory("graft-table-empty")
    val t = root.resolve("t").toString
    batchDf().write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").mode("append").save()
    assert(KeyedUpsertSink.tableVersions(t).isEmpty,
      "an empty batch must not commit a version")
    // the first DATA-carrying commit still creates it normally
    batchDf(("a", 1L, 10L)).write.format("graft-table").option("path", t)
      .option("keys", "k").option("orderBy", "ts").mode("append").save()
    assert(resolved(t) == Set(("a", 1L, 10L)))
  }

  test("graft-upsert refuses Complete mode, partitionBy, and a malformed streamId") {
    val root = Files.createTempDirectory("graft-upsert-refuse")
    val a = root.resolve("a").toString
    sink(a)(batchDf(("a", 1L, 10L)), 0L)
    def start(mode: String, streamId: String = "ok") = {
      val w = spark.readStream.format("graft-changes")
        .option("path", a).option("startingVersion", "0").load()
        .writeStream.format("graft-upsert")
        .option("path", root.resolve("b").toString)
        .option("streamId", streamId)
        .option("keys", "k").option("orderBy", "ts")
        .option("checkpointLocation",
          Files.createTempDirectory("ck").toString)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
      w.start()
    }
    val e1 = intercept[Exception] { start("complete"); () }
    assert(e1.getMessage.contains("Complete") ||
      e1.getMessage.contains("complete"))
    val e2 = intercept[Exception] { start("append", streamId = "a=b"); () }
    assert(e2.getMessage.contains("streamId"))
  }

  // ---- storage format: every state writer stores zstd + parquet v2 pages

  private def childDirs(dir: String, keep: String => Boolean): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(keep).toSet
    finally s.close()
  }

  private def genDirs(t: String): Set[String] = childDirs(t, _.startsWith("gen"))

  private def viewVersionDirs(v: String): Set[String] =
    childDirs(v, n => n.matches("v[0-9]+-.*"))

  /** Every column chunk of every parquet file under `dir`, from the footers. */
  private def columnChunks(dir: Path)
      : Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData] = {
    val s = Files.walk(dir)
    val files = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri),
          new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toList
      finally r.close()
    }
  }

  /** The state format: every chunk zstd, and int64 chunks delta-packed
    * (at least one — a column whose dictionary pays keeps the dictionary).
    */
  private def assertStateFormat(what: String, dir: Path): Unit = {
    import org.apache.parquet.column.Encoding
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val chunks = columnChunks(dir)
    assert(chunks.nonEmpty, s"$what wrote no column chunks under $dir")
    val codecs = chunks.map(_.getCodec).toSet
    assert(codecs == Set(CompressionCodecName.ZSTD), s"$what: codecs $codecs")
    assert(chunks.exists(c =>
      c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        c.getEncodings.contains(Encoding.DELTA_BINARY_PACKED)),
      s"$what: no DELTA_BINARY_PACKED int64 chunk in " +
        chunks.map(c => s"${c.getPath}:${c.getEncodings}").mkString(", "))
  }

  /** A keyed-table generation is flat: one parquet file per write task
    * (Spark names a task's files `part-<task>-<uuid>-c<n>`, so one file
    * per task is distinct task numbers, each file `c000`), no
    * `__bucket=` subdirectory, and `__bucket` stored non-decreasing
    * within each file. Returns the generation's parquet files.
    */
  private def assertOneFilePerTask(what: String, dir: Path): Seq[Path] = {
    val entries = {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }
    assert(!entries.exists(Files.isDirectory(_)),
      s"$what: subdirectories in $dir: ${entries.filter(Files.isDirectory(_))}")
    val files = entries.filter(_.getFileName.toString.endsWith(".parquet"))
    val names = files.map(_.getFileName.toString)
    assert(names.nonEmpty && names.forall(_.contains("-c000")) &&
      names.map(_.split("-")(1)).distinct.size == names.size,
      s"$what: not one file per write task: $names")
    files.foreach { f =>
      val b = spark.read.parquet(f.toString).select("__bucket").as[Long]
        .collect().toSeq
      assert(b.nonEmpty && b == b.sorted,
        s"$what: __bucket not sorted within ${f.getFileName}")
    }
    files
  }

  test("every keyed-table and view writer stores zstd with parquet v2 delta pages") {
    val root = Files.createTempDirectory("graft-state-format")
    val t = root.resolve("t").toString
    val view = root.resolve("view").toString
    val lkeys = Seq("k")
    def rows(ids: Range, ts: Long) =
      ids.map(i => (i.toLong, i / 4, i * 1000L + ts, ts)).toDF("k", "g", "v", "ts")
    def step(what: String)(write: => Unit): Seq[Path] = {
      val before = genDirs(t)
      write
      val added = genDirs(t) -- before
      assert(added.size == 1, s"$what added generations $added")
      assertStateFormat(what, Paths.get(t, added.head))
      assertOneFilePerTask(what, Paths.get(t, added.head))
    }
    Files.createDirectories(Paths.get(t))
    val first = step("delta upsert")(KeyedUpsertSink.upsertBucketedDelta(
      spark, t, lkeys, order, numBuckets = 4, compactAfter = 0)(rows(0 until 200, 10L), 0L))
    // a small commit is one file, whatever the number of buckets it touches
    assert(first.size == 1, s"a 200-row commit wrote ${first.size} files")
    step("delta upsert")(KeyedUpsertSink.upsertBucketedDelta(
      spark, t, lkeys, order, numBuckets = 4, compactAfter = 0)(rows(0 until 200 by 3, 20L), 1L))
    step("delete")(KeyedUpsertSink.deleteBucketedDelta(
      spark, t, lkeys, order, numBuckets = 4)(
      (0 until 200 by 5).map(i => (i.toLong, 30L)).toDF("k", "ts"), 2L))
    step("compaction fold")(assert(KeyedUpsertSink.compactBucketChains(
      spark, t, lkeys, order, minChain = 2).nonEmpty))
    step("rebucket")(KeyedUpsertSink.rebucketTable(spark, t, lkeys, order, newBuckets = 8))
    step("delta upsert on the rebucketed layout")(KeyedUpsertSink.upsertBucketedDelta(
      spark, t, lkeys, order, numBuckets = 8)(rows(0 until 200 by 2, 40L), 3L))
    val aggs = Seq(MaterializedAggView.AggCol("n", lit(1L)),
      MaterializedAggView.AggCol("sum_v", col("v")))
    MaterializedAggView.bootstrap(spark, t, view, lkeys, order, Seq("g"), aggs)
    val boot = viewVersionDirs(view)
    assert(boot.size == 1, s"bootstrap published $boot")
    assertStateFormat("view bootstrap", Paths.get(view, boot.head))
    KeyedUpsertSink.upsertBucketedDelta(spark, t, lkeys, order,
      numBuckets = 8, compactAfter = 0)(rows(0 until 200 by 7, 50L), 4L)
    MaterializedAggView.refresh(spark, t, view, lkeys, order, Seq("g"), aggs)
    val folded = viewVersionDirs(view) -- boot
    assert(folded.size == 1, s"refresh published $folded")
    assertStateFormat("view fold", Paths.get(view, folded.head))
  }

  test("every stored type round-trips through the state format, vectorized and row-based, tombstones included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("d18", DecimalType(18, 2)), StructField("d38", DecimalType(38, 2)),
      StructField("x", DoubleType), StructField("emb", ArrayType(FloatType)),
      StructField("at", TimestampType), StructField("ts", LongType)))
    // every 7th key carries nulls in every value column; the rest span
    // each type's range (negative, wide, fractional, empty array)
    def row(i: Int, ts: Long): Row =
      if (i % 7 == 0) Row(i.toLong, null, null, null, null, null, null, ts)
      else Row(i.toLong, s"s$i-" + "x" * (i % 5),
        java.math.BigDecimal.valueOf((i - 100) * 123456789L + ts, 2),
        new java.math.BigDecimal(BigInt(i).pow(15).toString + ".25").negate(),
        i * 0.1 - ts, Seq.tabulate(i % 4)(j => (i * j).toFloat / 3),
        new java.sql.Timestamp(1700000000000L + i * 1000L + ts), ts)
    def batch(ids: Range, ts: Long) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map(row(_, ts)): _*), schema)
    val t = Files.createTempDirectory("graft-state-types").resolve("t").toString
    val lkeys = Seq("k")
    val model = scala.collection.mutable.Map.empty[Long, Row]
    def upsert(ids: Range, ts: Long, id: Long): Unit = {
      KeyedUpsertSink.upsertBucketedDelta(spark, t, lkeys, order,
        numBuckets = 4, compactAfter = 0)(batch(ids, ts), id)
      ids.foreach(i => model(i.toLong) = row(i, ts))
    }
    def check(what: String): Unit =
      for (vectorized <- Seq("true", "false")) {
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        try {
          val got = KeyedUpsertSink.readBucketedDelta(spark, t, lkeys, order)
            .select(schema.fieldNames.map(col): _*).collect().toSet
          assert(got == model.values.toSet, s"$what, vectorized=$vectorized")
          // the raw generations: tombstone rows keep their null-filled
          // value columns beside the key and order
          val tombs = genDirs(t).toSeq.map(g => spark.read.parquet(s"$t/$g"))
            .filter(_.columns.contains(KeyedUpsertSink.TombstoneCol))
            .flatMap(_.filter(col(KeyedUpsertSink.TombstoneCol) === true)
              .select(schema.fieldNames.map(col): _*).collect())
          assert(tombs.nonEmpty && tombs.forall(r =>
            (1 to 6).forall(r.isNullAt)), s"$what tombstones, vectorized=$vectorized")
        } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
      }
    upsert(0 until 120, 10L, 0L)
    upsert(0 until 120 by 3, 20L, 1L)
    KeyedUpsertSink.deleteBucketedDelta(spark, t, lkeys, order, numBuckets = 4)(
      (0 until 120 by 5).map(i => (i.toLong, 30L)).toDF("k", "ts"), 2L)
    (0 until 120 by 5).foreach(i => model.remove(i.toLong))
    check("after delete")
    assert(KeyedUpsertSink.compactBucketChains(
      spark, t, lkeys, order, minChain = 2).nonEmpty)
    check("after compaction")
  }
}
