package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.KeyedUpsertSink

/** The `graft-changes` streaming source: `readStream` over a versioned
  * keyed table must serve exactly the poller's change feed (offsets ARE
  * manifest versions), resume from its checkpoint at the right version,
  * fail loudly past the vacuum keep window, and serve trickle batches
  * from the change-feed kernel (batch-scale shuffles, never the table).
  */
class ChangeFeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def sink(path: String) = KeyedUpsertSink.upsertBucketedDelta(
    spark, path, keys, order, numBuckets = 4, compactAfter = 0) _

  private def stream(table: String, ckpt: String, name: String,
      extra: Map[String, String] = Map.empty) = {
    val reader = spark.readStream.format("graft-changes")
      .option("keys", "k").option("orderBy", "ts")
    extra.foreach { case (k, v) => reader.option(k, v) }
    reader.load(table)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private def memRows(name: String): Set[(String, Long, Long)] =
    spark.table(name).select("k", "v", "ts")
      .as[(String, Long, Long)].collect().toSet

  private def feedRows(table: String, from: Long, to: Long): Set[(String, Long, Long)] =
    KeyedUpsertSink.readChangesBetween(spark, table, keys, order, from, Some(to))
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  /** One AvailableNow run into a row buffer via foreachBatch (the memory
    * sink refuses checkpoint RECOVERY, and the restart semantics are the
    * point here). Returns the rows this run delivered.
    */
  private def drain(table: String, ckpt: String,
      extra: Map[String, String] = Map.empty): Set[(String, Long, Long)] = {
    val got = scala.collection.mutable.Set.empty[(String, Long, Long)]
    val reader = spark.readStream.format("graft-changes")
      .option("keys", "k").option("orderBy", "ts")
    extra.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(table).writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        got ++= df.select("k", "v", "ts")
          .as[(String, Long, Long)].collect(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    got.toSet
  }

  test("streamed batches equal the poller feed across multi-commit ranges, and resume from the checkpoint") {
    val root = Files.createTempDirectory("graft-cfs")
    val table = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    val up = sink(table)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1 — the "pre-stream" floor
    // two commits land before the first trigger: one batch covers both
    up(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L) // v2
    up(batchDf(("d", 1L, 30L)), 2L)                 // v3
    // floor at v1: everything the table committed after it streams
    assert(drain(table, ckpt, Map("startingVersion" -> "1"))
      == feedRows(table, 1L, 3L), "first batch = the (1, 3] poller range")
    // a stream batch is the poller's feed for its range: one aggregate
    // on the keys over the trickle's suffix rows and their keys' prefix
    // rows — never a window over the table
    FeedPlans.assertOneKernel(KeyedUpsertSink.readChangesBetween(
      spark, table, keys, order, 1L, Some(3L)), keys)
    // restart under the same checkpoint: only the new range arrives
    up(batchDf(("a", 3L, 40L)), 3L) // v4
    assert(drain(table, ckpt) == feedRows(table, 3L, 4L),
      "restart resumes at the checkpointed version, not startingVersion")
    // idle restart: no new versions → no batch at all
    assert(drain(table, ckpt).isEmpty)
    // DEFAULT startingVersion = the head at source creation: a fresh
    // stream started now (head v4) tails changes only — zero rows
    assert(drain(table, root.resolve("ckDefault").toString).isEmpty,
      "default floor is the head at stream start: no replay of history")
  }

  test("startingVersion=0 bootstraps the full history; maxVersionsPerTrigger bounds each batch") {
    val root = Files.createTempDirectory("graft-cfs-boot")
    val table = root.resolve("t").toString
    val up = sink(table)
    up(batchDf(("a", 1L, 10L)), 0L)                 // v1
    up(batchDf(("b", 1L, 20L)), 1L)                 // v2
    up(batchDf(("a", 2L, 30L), ("c", 1L, 30L)), 2L) // v3
    val q = stream(table, root.resolve("ck1").toString, "cfsb",
      Map("startingVersion" -> "0"))
    q.awaitTermination()
    assert(memRows("cfsb") == feedRows(table, 0L, 3L),
      "(0, head] is the bootstrap image: the resolved table")
    // cap = 1 version per trigger: AvailableNow drains in single-version
    // batches, each one poller STEP — so the union equals the union of
    // per-step feeds (which, unlike the coarse (0,3] range, keeps each
    // key's intermediate images) and the batch count equals the span
    val q2 = stream(table, root.resolve("ck2").toString, "cfsc",
      Map("startingVersion" -> "0", "maxVersionsPerTrigger" -> "1"))
    q2.awaitTermination()
    assert(memRows("cfsc") ==
      (feedRows(table, 0L, 1L) ++ feedRows(table, 1L, 2L) ++ feedRows(table, 2L, 3L)))
    assert(q2.recentProgress.count(_.numInputRows > 0) == 3,
      "maxVersionsPerTrigger=1 must drain 3 versions as 3 batches")
  }

  test("a replica table maintained by streaming the source into an LWW sink equals the upstream") {
    val root = Files.createTempDirectory("graft-cfs-mirror")
    val up = root.resolve("up").toString
    val down = root.resolve("down").toString
    val ckpt = root.resolve("ckpt").toString
    val sinkUp = sink(up)
    sinkUp(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L)
    def tableOf(p: String): Set[(String, Long, Long)] =
      KeyedUpsertSink.readBucketedDelta(spark, p, keys, order)
        .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    // the full mirroring loop over the engine's own connector: stream
    // the CDC from table `up` (full-history bootstrap) into a second
    // LWW table — after each drain the replica equals the upstream,
    // and the checkpoint carries the stream across restarts
    var downBatch = 0L
    def mirror(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("keys", "k").option("orderBy", "ts")
        .option("startingVersion", "0")
        .load(up)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          KeyedUpsertSink.upsertBucketedDelta(
            spark, down, keys, order, numBuckets = 4, compactAfter = 0)(
            df, { downBatch += 1; downBatch })
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mirror()
    assert(tableOf(down) == tableOf(up))
    // more upstream commits — update, insert, redelivery — then re-drain
    sinkUp(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L)
    sinkUp(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 2L) // redelivery
    sinkUp(batchDf(("d", 1L, 30L)), 3L)
    mirror()
    assert(tableOf(down) == tableOf(up),
      "replica diverged from upstream after streamed maintenance")
  }

  test("the batch facade reads one (from, to] range; an unbounded read is refused") {
    val root = Files.createTempDirectory("graft-cfs-batch")
    val table = root.resolve("t").toString
    val up = sink(table)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L), ("c", 1L, 20L)), 1L) // v2
    def read(opts: (String, String)*): DataFrame = {
      val r = spark.read.format("graft-changes")
        .option("keys", "k").option("orderBy", "ts")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(table)
    }
    // the facade equals the library API over the same range
    assert(read("fromVersion" -> "1").select("k", "v", "ts")
      .as[(String, Long, Long)].collect().toSet == feedRows(table, 1L, 2L))
    // full-history bootstrap + explicit toVersion
    assert(read("fromVersion" -> "0", "toVersion" -> "1")
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
      == feedRows(table, 0L, 1L))
    // weighted: the retraction row rides along
    val w = read("fromVersion" -> "1", "weighted" -> "true")
      .select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(w == Set(("a", 2L, 20L, 1L), ("c", 1L, 20L, 1L), ("a", 1L, 10L, -1L)))
    // an unbounded batch read of a change feed is ambiguous — refused
    val err = intercept[IllegalArgumentException] { read() }
    assert(err.getMessage.contains("requires 'fromVersion'"))
  }

  test("an uncommitted batch 0 replays with the ORIGINAL floor after a crash (persisted under metadataPath)") {
    val root = Files.createTempDirectory("graft-cfs-recover")
    val table = root.resolve("t").toString
    val meta = root.resolve("meta").toString
    val up = sink(table)
    up(batchDf(("a", 1L, 10L)), 0L) // v1 — the head when the stream starts
    val params = Map("path" -> table, "keys" -> "k", "orderBy" -> "ts")
    // "stream start": the source resolves its default floor (head v1)
    // and must PERSIST it under the query's metadataPath
    val src1 = new graft.sources.ChangeFeedSource(
      spark.sqlContext, params, meta)
    assert(Files.exists(java.nio.file.Paths.get(meta, "graft-changes-start")))
    // the engine plans batch 0 to the then-head... more commits land,
    // and the sink CRASHES before committing batch 0
    up(batchDf(("b", 1L, 20L)), 1L) // v2
    up(batchDf(("c", 1L, 30L)), 2L) // v3
    val end = new org.apache.spark.sql.execution.streaming.runtime.LongOffset(3L)
    // restart: a FRESH source for the same query (same metadataPath);
    // without persistence its defaulted floor would re-resolve to the
    // NEW head (v3) and the engine's replay getBatch(None, 3) would
    // return an empty frame — rows (1,3] silently lost
    val src2 = new graft.sources.ChangeFeedSource(
      spark.sqlContext, params, meta)
    // getBatch returns a streaming-tagged frame (the engine splices it
    // into a streaming plan; batch analysis refuses it) — lift the
    // already-planned RDD off the LogicalRDD leaf and re-wrap as batch
    val streamed = src2.getBatch(None, end)
    val rdd = streamed.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other => fail(s"expected a LogicalRDD leaf, got ${other.getClass}")
    }
    val replay = org.apache.spark.sql.graft.Bridge.leafDataFrame(
      spark, rdd, streamed.schema)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(replay == Set(("b", 1L, 20L), ("c", 1L, 30L)),
      "the replayed batch 0 must cover (originalFloor, end], not be empty")
    src1.stop(); src2.stop()
  }

  test("the weighted feed streams retractions; a pruned offset and a missing table fail loudly") {
    val root = Files.createTempDirectory("graft-cfs-guards")
    val table = root.resolve("t").toString
    val up = sink(table)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L)), 1L)                 // v2
    val q = stream(table, root.resolve("ck1").toString, "cfsw",
      Map("startingVersion" -> "1", "weighted" -> "true"))
    q.awaitTermination()
    val got = spark.table("cfsw").select("k", "v", "ts", "__weight")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 2L, 20L, 1L), ("a", 1L, 10L, -1L)),
      "weighted stream carries the +1 new image and the -1 superseded image")
    // a startingVersion the vacuum pruned (simulated delete) fails with
    // manifestAt's loud error — never silently skips history
    Files.delete(java.nio.file.Paths.get(table, f"_manifest.v${1L}%020d"))
    val qBad = stream(table, root.resolve("ck2").toString, "cfsx",
      Map("startingVersion" -> "1"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.awaitTermination()
    }
    assert(err.getMessage.contains("no readable manifest v1"),
      s"pruned offset must surface manifestAt's error (got: ${err.getMessage.take(200)})")
    // a table with no commits has no schema to stream — loud at start
    val err2 = intercept[Exception] {
      stream(root.resolve("nope").toString, root.resolve("ck3").toString, "cfsy")
    }
    assert(err2.getMessage.contains("no committed versions"))
  }

  test("resolveLocalPath: URI forms resolve by scheme, not a substring-colon test") {
    import graft.sources.ChangeFeedSource.resolveLocalPath
    import java.nio.file.Paths
    // the URI string Spark hands metadata/checkpoint consumers
    assert(resolveLocalPath("file:/tmp/ck/sources/0") ==
      Paths.get("/tmp/ck/sources/0"))
    assert(resolveLocalPath("file:///tmp/ck") == Paths.get("/tmp/ck"))
    // a PLAIN local path containing a colon is a path, not a URI (the
    // old contains-colon test misparsed it; "a:b" alone is an opaque
    // URI with no path component and must also fall back)
    assert(resolveLocalPath("/tmp/odd:name/ck") == Paths.get("/tmp/odd:name/ck"))
    assert(resolveLocalPath("ck:0") == Paths.get("ck:0"))
    // spaces and brackets are invalid in a URI — URISyntaxException must
    // fall back to Paths.get, not escape as an opaque parse error
    assert(resolveLocalPath("/tmp/with space/ck") ==
      Paths.get("/tmp/with space/ck"))
    assert(resolveLocalPath("/tmp/br[ck]et") == Paths.get("/tmp/br[ck]et"))
    // plain absolute and relative paths pass through unchanged
    assert(resolveLocalPath("/tmp/plain") == Paths.get("/tmp/plain"))
    assert(resolveLocalPath("rel/ck") == Paths.get("rel/ck"))
  }

  test("restart recovery never re-plans the last committed batch (lazy leaf)") {
    // the engine's populate-start-offsets calls getBatch on the last
    // COMMITTED range and discards the result; the feed leaf defers
    // its whole construction (and the AQE-eager toRdd) into a thunk,
    // so the discarded recovery frame must not even CONSTRUCT a feed —
    // pinned by the idle restart running no Spark job (a constructed
    // leaf's AQE-eager toRdd runs the feed's shuffle). Before the lazy
    // leaf this replayed a whole batch's shuffles per restart
    // (measured table-scale after a bootstrap batch in
    // tools/DeleteScale).
    val root = Files.createTempDirectory("graft-feed-lazy")
    val t = root.resolve("t").toString
    val ckpt = root.resolve("ck").toString
    val up = sink(t)
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    up(batchDf(("a", 2L, 20L)), 1L)                 // v2
    var drained = 0L
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t).option("startingVersion", "0")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) => drained += df.count() }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(drained >= 2L) // both versions served
    // idle restart: recovery getBatch only
    val (_, jobs) = org.apache.spark.sql.graft.Jobs.during(spark)(drain())
    assert(jobs == 0,
      s"idle restart ran $jobs Spark job(s) - the recovery frame must " +
        "stay a deferred thunk")
    // and a REAL new batch after restart still serves correctly
    up(batchDf(("c", 1L, 30L)), 2L) // v3
    val before = drained
    drain()
    assert(drained == before + 1L)
  }
}
