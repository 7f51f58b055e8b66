package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sink.KeyedUpsertSink

/** Sub-version admission control for `graft-changes`
  * (`maxBucketsPerTrigger`): one giant commit — a compaction, a
  * backfill, one manifest version — is invisible to the version cap and
  * used to land in a single micro-batch; with the bucket cap it drains
  * as consecutive bucket slices under a `(version, bucketCursor)`
  * offset. Pinned here: slice union == the full feed, cursor offsets
  * round-trip through a mid-version checkpoint recovery, a rebucket
  * version never splits, and an old plain-long checkpoint resumes
  * correctly when the cap is added later.
  */
class ChangeFeedAdmissionSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def sink(path: String, numBuckets: Int = 8) =
    KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets = numBuckets, compactAfter = 0) _

  /** Rows spread across every bucket of an 8-bucket layout. */
  private def fatBatch: DataFrame =
    batchDf((1 to 64).map(i => (s"k$i", i.toLong, 10L)): _*)

  private def feedRows(table: String, from: Long, to: Long): Set[(String, Long, Long)] =
    KeyedUpsertSink.readChangesBetween(spark, table, keys, order, from, Some(to))
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet

  /** One AvailableNow drain collecting (batchIndex, rows) per batch;
    * `failAtBatch` makes that foreachBatch invocation throw BEFORE
    * collecting (simulating a consumer crash mid-catchup).
    */
  private def drain(table: String, ckpt: String,
      extra: Map[String, String],
      batches: scala.collection.mutable.ArrayBuffer[Set[(String, Long, Long)]],
      failAtBatch: Int = -1): Unit = {
    val reader = spark.readStream.format("graft-changes").option("path", table)
    extra.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load().writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        if (batches.size == failAtBatch)
          throw new RuntimeException("injected consumer crash")
        batches += df.select("k", "v", "ts")
          .as[(String, Long, Long)].collect().toSet
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    catch { case e: Throwable if failAtBatch >= 0 => () }
  }

  test("a fat single-version commit drains in capped bucket slices whose union is the full feed") {
    val root = Files.createTempDirectory("graft-adm-fat")
    val table = root.resolve("t").toString
    sink(table)(fatBatch, 0L) // v1, touching all 8 buckets
    val touched = KeyedUpsertSink.touchedBucketsAt(table, 1L).get
    assert(touched.size == 8, s"fixture must touch all 8 buckets: $touched")
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, Long, Long)]]
    drain(table, root.resolve("ckpt").toString,
      Map("startingVersion" -> "0", "maxBucketsPerTrigger" -> "3"), batches)
    // ceil(8/3) = 3 slices; every slice non-empty (64 keys over 8 buckets)
    assert(batches.size == 3, s"got ${batches.size} batches")
    assert(batches.forall(_.nonEmpty))
    // disjoint slices (buckets partition keys)...
    assert(batches.map(_.size).sum == batches.flatten.toSet.size)
    // ...whose union is exactly the full feed
    assert(batches.flatten.toSet == feedRows(table, 0L, 1L))
  }

  test("a bucket slice structurally never touches buckets outside it (deletion proof)") {
    // the SinkLookupSpec pattern: DELETE every generation outside the
    // slice before reading — a scan that touched one would fail loudly,
    // so a passing read is proof of pruning, not an inference from
    // metrics. A generation holds all the buckets its commit touched, so
    // the fixture gives the slice's buckets and the others different
    // chains: v2 writes only buckets outside the slice
    val root = Files.createTempDirectory("graft-adm-prune")
    val table = root.resolve("t").toString
    sink(table)(fatBatch, 0L) // v1 touches all 8 buckets
    val slice = KeyedUpsertSink.touchedBucketsAt(table, 1L).get.take(3).toSet
    val bucketOf = fatBatch
      .select(col("k"), KeyedUpsertSink.bucketOf(keys, 8))
      .as[(String, Long)].collect().toMap
    val outside = (1 to 64).filterNot(i => slice(bucketOf(s"k$i")))
    val v2 = sink(table)(
      batchDf(outside.map(i => (s"k$i", i + 100L, 20L)): _*), 1L).get
    sink(table)(batchDf((1 to 64).map(i => (s"k$i", i + 200L, 30L)): _*), 2L) // v3
    assert(KeyedUpsertSink.touchedBucketsAt(table, 3L).get.toSet.size == 8)
    def read() = KeyedUpsertSink
      .readChangesSlice(spark, table, keys, order, 3L, slice, weighted = false)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    val expect = (1 to 64).filter(i => slice(bucketOf(s"k$i")))
      .map(i => (s"k$i", i + 200L, 30L)).toSet
    assert(read() == expect && expect.nonEmpty)
    // destroy the generation only the OTHER buckets reference
    val dir = java.nio.file.Paths.get(table, v2.gen)
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator()
      .forEachRemaining(p => { Files.deleteIfExists(p); () })
    finally s.close()
    assert(read() == expect,
      "the slice must read identically with the other buckets' generation destroyed")
  }

  test("cursor offsets recover through a mid-version checkpoint after a consumer crash") {
    val root = Files.createTempDirectory("graft-adm-crash")
    val table = root.resolve("t").toString
    sink(table)(fatBatch, 0L)
    val ckpt = root.resolve("ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, Long, Long)]]
    // first run: batch 0 commits (cursor offset lands in the
    // checkpoint), batch 1 crashes before delivering
    drain(table, ckpt,
      Map("startingVersion" -> "0", "maxBucketsPerTrigger" -> "3"),
      batches, failAtBatch = 1)
    assert(batches.size == 1, "exactly the pre-crash slice must deliver")
    // the committed MID-VERSION position is what retention sizing reads
    assert(graft.sources.ChangeFeedSourceProvider.checkpointPosition(ckpt)
      == Some((0L, 3L)))
    // restart: replay the crashed slice, then the rest — the union must
    // be the complete feed with zero duplicate rows across slices
    drain(table, ckpt,
      Map("startingVersion" -> "0", "maxBucketsPerTrigger" -> "3"), batches)
    assert(batches.map(_.size).sum == batches.flatten.toSet.size,
      "slices must stay disjoint across the recovery")
    assert(batches.flatten.toSet == feedRows(table, 0L, 1L))
  }

  test("a rebucket version never splits: it drains whole and terminates its batch") {
    val root = Files.createTempDirectory("graft-adm-rbk")
    val table = root.resolve("t").toString
    sink(table, numBuckets = 4)(
      batchDf((1 to 16).map(i => (s"k$i", i.toLong, 10L)): _*), 0L) // v1
    val t1 = KeyedUpsertSink.touchedBucketsAt(table, 1L).get.size
    KeyedUpsertSink.rebucketTable(spark, table, keys, order, 8) // v2
    assert(KeyedUpsertSink.touchedBucketsAt(table, 2L).isEmpty,
      "a layout-change version must report as unsplittable")
    sink(table, numBuckets = 8)(
      batchDf(("x1", 100L, 20L), ("x2", 101L, 20L), ("x3", 102L, 20L)), 1L) // v3
    val t3 = KeyedUpsertSink.touchedBucketsAt(table, 3L).get.size
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, Long, Long)]]
    drain(table, root.resolve("ckpt").toString,
      Map("startingVersion" -> "0", "maxBucketsPerTrigger" -> "1"), batches)
    // v1 slices one bucket per batch; v2 (the rebucket — a row-level
    // no-op feed, but its own batch by construction) drains whole; v3
    // slices again
    assert(batches.size == t1 + 1 + t3,
      s"expected ${t1 + 1 + t3} batches (t1=$t1, rebucket, t3=$t3), " +
        s"got ${batches.size}")
    // the union across the resize equals the bootstrap feed at head
    assert(batches.flatten.toSet == feedRows(table, 0L, 3L))
  }

  test("versionColumns composes with the bucket cap: slice batches carry contiguous (version, cursor) anchors") {
    val root = Files.createTempDirectory("graft-adm-anchor")
    val table = root.resolve("t").toString
    sink(table)(batchDf(("p", 0L, 5L)), 0L) // v1: one small commit
    sink(table)(fatBatch, 1L)               // v2: touches all 8 buckets
    val anchors = scala.collection.mutable.ArrayBuffer
      .empty[((Long, Long), (Long, Long))]
    val q = spark.readStream.format("graft-changes")
      .option("path", table)
      .option("startingVersion", "0")
      .option("versionColumns", "true")
      .option("maxBucketsPerTrigger", "3")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.select("__from_version", "__from_cursor",
          "__to_version", "__to_cursor").head()
        anchors += (((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        ()
      }
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the anchor ranges chain contiguously from the floor to the head...
    assert(anchors.head._1 == ((0L, 0L)), s"anchors: $anchors")
    assert(anchors.last._2 == ((2L, 0L)), s"anchors: $anchors")
    anchors.sliding(2).foreach {
      case scala.collection.mutable.ArrayBuffer(a, b) =>
        assert(a._2 == b._1, s"gap between $a and $b in $anchors")
      case _ => ()
    }
    // ...and the fat version really was delivered as cursor slices
    assert(anchors.exists(_._2._2 > 0L),
      s"expected at least one mid-version anchor in $anchors")
  }

  test("an old plain-long checkpoint resumes correctly when the bucket cap is added later") {
    val root = Files.createTempDirectory("graft-adm-upg")
    val table = root.resolve("t").toString
    sink(table)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    val ckpt = root.resolve("ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[Set[(String, Long, Long)]]
    // run 1: NO bucket cap — the checkpoint ends on a plain long offset
    drain(table, ckpt, Map("startingVersion" -> "0"), batches)
    assert(batches.flatten.toSet == feedRows(table, 0L, 1L))
    batches.clear()
    // a fat commit lands, and the restart adds the cap: the long offset
    // parses as a clean boundary and the new version slices from there
    sink(table)(fatBatch, 1L) // v2 touches all 8 buckets
    drain(table, ckpt, Map("maxBucketsPerTrigger" -> "3"), batches)
    assert(batches.size == 3)
    assert(batches.flatten.toSet == feedRows(table, 1L, 2L))
  }
}
