package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** The O(requested)/O(changed) read paths of the bucketed sink family:
  * bucket-pruned point lookup, the version-range change feed, and the
  * `_layout` sidecar that stops mixed-bucket-count writers from
  * silently corrupting the LWW merge. The pruning claims are proved
  * structurally: the spec DELETES the buckets a lookup/feed must not
  * touch — a read that scans them fails loudly, so passing is proof.
  */
class SinkLookupSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))

  private def batchDf(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  private def newTable(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private def delta(path: String, numBuckets: Int = 8)(
      batch: DataFrame, batchId: Long) =
    KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets, compactAfter = 0)(batch, batchId)
      .getOrElse(fail("non-empty batch must commit"))

  private def keyDf(ks: String*): DataFrame = ks.toDF("k")

  private def nuke(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => { Files.deleteIfExists(q); () })
    finally s.close()
  }

  private def bucketsOf(path: String, ks: Seq[String]): Set[Long] = {
    val nb = KeyedUpsertSink.readLayout(path).get
    keyDf(ks: _*).withColumn("__b", KeyedUpsertSink.bucketOf(keys, nb))
      .select("__b").as[Long].collect().toSet
  }

  /** Destroy every generation that no bucket `keepKeys` hash to
    * references — the structural pruning proof: a read that scans a
    * destroyed generation fails loudly, so a passing read provably never
    * touched it. Returns the generations destroyed. (A generation is one
    * file holding every bucket its commit touched; inside a kept
    * generation, pruning to the requested buckets is the `__bucket`
    * filter [[unfilteredScans]] checks for.)
    */
  private def nukeOtherBuckets(path: String, keepKeys: Seq[String]): Set[String] = {
    import scala.jdk.CollectionConverters._
    val keep = bucketsOf(path, keepKeys)
    val live = KeyedUpsertSink.readManifest(path)
      .collect { case (b, v) if keep(b) => KeyedUpsertSink.chainOf(v) }
      .flatten.toSet
    val s = Files.list(Paths.get(path))
    val genDirs =
      try s.iterator().asScala.toList
        .filter(_.getFileName.toString.startsWith("gen-"))
      finally s.close()
    genDirs.filterNot(g => live(g.getFileName.toString)).map { g =>
      nuke(g); g.getFileName.toString
    }.toSet
  }

  /** Every file scan under `df`'s executed plan (runs it once). */
  private def scans(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.write.format("noop").mode("overwrite").save()
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** The scans of `df` whose pushed filters do NOT restrict `__bucket`. */
  private def unfilteredScans(df: DataFrame): Seq[String] = {
    val all = scans(df)
    assert(all.nonEmpty, "no file scan in the plan")
    all.map(_.metadata.getOrElse("PushedFilters", ""))
      .filterNot(_.contains("__bucket"))
  }

  test("a writer with a different bucket count is refused before it can corrupt the table") {
    val path = newTable("graft-layout-guard")
    delta(path, numBuckets = 8)(batchDf(("a", 1L, 10L)), 0L)
    assert(KeyedUpsertSink.readLayout(path).contains(8))
    val err = intercept[IllegalArgumentException] {
      delta(path, numBuckets = 16)(batchDf(("b", 1L, 20L)), 1L)
    }
    assert(err.getMessage.contains("laid out with numBuckets=8"))
    assert(err.getMessage.contains("configured with numBuckets=16"))
  }

  test("point lookup reads ONLY the requested keys' buckets (deleted others prove it)") {
    val path = newTable("graft-lookup")
    val rows = (1 to 64).map(i => (s"k$i", i.toLong, 10L))
    delta(path)(batchDf(rows: _*), 0L)
    delta(path)(batchDf(("k1", 100L, 20L)), 1L) // a chain on k1's bucket
    val wantKeys = Seq("k1", "k17")
    // a commit only the OTHER buckets reference
    val want = bucketsOf(path, wantKeys)
    val other = rows.map(_._1).find(k => !want(bucketsOf(path, Seq(k)).head)).get
    val otherGen = delta(path)(batchDf((other, 7L, 30L)), 2L).gen
    assert(nukeOtherBuckets(path, wantKeys) == Set(otherGen))
    val lookup = KeyedUpsertSink.lookupBucketed(spark, path, keys, order,
      keyDf(wantKeys: _*))
    val got = lookup
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("k1", 100L, 20L), ("k17", 17L, 10L)),
      "lookup must resolve the chain LWW for exactly the requested keys")
    // inside the shared generations, the scan reads only the requested
    // buckets' rows: every scan pushes the `__bucket` filter
    val unfiltered = unfilteredScans(lookup)
    assert(unfiltered.isEmpty, s"lookup scans without a __bucket filter: $unfiltered")
  }

  test("point lookup pushes the requested keys into the parquet scan below the LWW window") {
    val path = newTable("graft-lkp-push")
    val up = delta(path) _
    up(batchDf(("a", 1L, 10L), ("b", 1L, 10L), ("c", 1L, 10L),
      ("d", 1L, 10L)), 0L)
    up(batchDf(("a", 2L, 20L), ("c", 2L, 20L)), 1L) // chains → window path
    val df = KeyedUpsertSink.lookupBucketed(
      spark, path, keys, order, keyDf("a", "c"))
    assert(df.select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
      == Set(("a", 2L, 20L), ("c", 2L, 20L)))
    val pushed = scans(df)
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString("; ")
    // the requested keys reach the scan as an In/EqualTo filter — parquet
    // row-group stats can skip the bucket's other keys' data, and the
    // Filter prunes rows BEFORE the LWW window sort
    assert(pushed.contains("In(k") || pushed.contains("EqualTo(k"),
      s"requested-key predicate must reach the scan; PushedFilters=[$pushed]")
  }

  test("point lookup time-travels with atVersion") {
    val path = newTable("graft-lookup-tt")
    delta(path)(batchDf(("a", 1L, 10L), ("b", 1L, 10L)), 0L) // v1
    delta(path)(batchDf(("a", 2L, 20L)), 1L)                 // v2
    def at(v: Long): Set[(String, Long, Long)] =
      KeyedUpsertSink.lookupBucketed(spark, path, keys, order, keyDf("a"),
        atVersion = Some(v))
        .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(at(1L) == Set(("a", 1L, 10L)))
    assert(at(2L) == Set(("a", 2L, 20L)))
    // a key that does not exist resolves to nothing, not an error
    assert(KeyedUpsertSink.lookupBucketed(spark, path, keys, order,
      keyDf("a", "nope")).count() == 1L)
  }

  test("a table without the layout sidecar refuses point lookups loudly") {
    val path = newTable("graft-lookup-nolayout")
    delta(path)(batchDf(("a", 1L, 10L)), 0L)
    Files.delete(Paths.get(path, "_layout")) // a pre-round-15 table
    val err = intercept[IllegalStateException] {
      KeyedUpsertSink.lookupBucketed(spark, path, keys, order, keyDf("a"))
    }
    assert(err.getMessage.contains("no _layout sidecar"))
    // the next commit adopts the sidecar and lookups work again
    delta(path)(batchDf(("b", 1L, 20L)), 1L)
    assert(KeyedUpsertSink.lookupBucketed(spark, path, keys, order, keyDf("a"))
      .count() == 1L)
  }

  test("change feed between versions reads ONLY changed buckets and reports exact upserts") {
    val path = newTable("graft-feed")
    // spread keys so batch 1 touches a strict subset of buckets
    val base = (1 to 64).map(i => (s"k$i", i.toLong, 10L))
    delta(path)(batchDf(base: _*), 0L)                            // v1
    // v2 touches only buckets the v3 commit leaves alone
    val changed = Seq("k1", "new1")
    val changedBuckets = bucketsOf(path, changed)
    val other = base.map(_._1)
      .find(k => !changedBuckets(bucketsOf(path, Seq(k)).head)).get
    val otherGen = delta(path)(batchDf((other, 7L, 15L)), 1L).gen // v2
    delta(path)(batchDf(("k1", 100L, 20L), ("new1", 1L, 20L)), 2L) // v3
    // destroy every generation the changed buckets do not reference:
    // the feed must never read them
    assert(nukeOtherBuckets(path, changed) == Set(otherGen))
    val changes = KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = 2L)
    val feed = changes
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    // exact upserts at their to-version values: the updated key and the
    // new key — NOT the unchanged keys sharing their buckets
    assert(feed == Set(("k1", 100L, 20L), ("new1", 1L, 20L)))
    val unfiltered = unfilteredScans(changes)
    assert(unfiltered.isEmpty, s"feed scans without a __bucket filter: $unfiltered")
  }

  test("a compaction between versions produces no phantom changes") {
    val path = newTable("graft-feed-compact")
    delta(path, numBuckets = 2)(batchDf(("a", 1L, 10L)), 0L) // v1
    delta(path, numBuckets = 2)(batchDf(("b", 1L, 20L)), 1L) // v2
    // fold the chains — data identical, every chain entry rewritten
    KeyedUpsertSink.compactBucketChains(spark, path, keys, order, minChain = 2)
    assert(KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = 2L).isEmpty,
      "a pure compaction must not appear in the change feed")
    // ...but a real upsert after the fold does
    delta(path, numBuckets = 2)(batchDf(("a", 9L, 30L)), 2L)
    val feed = KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = 2L)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(feed == Set(("a", 9L, 30L)))
  }

  test("adopting a sidecar on a legacy table refuses a bucket count the disk disproves") {
    val path = newTable("graft-layout-adopt")
    delta(path, numBuckets = 8)(batchDf((1 to 32).map(i => (s"k$i", i.toLong, 10L)): _*), 0L)
    assert(KeyedUpsertSink.readManifest(path).keySet.exists(_ >= 4),
      "fixture must populate a bucket id >= 4 or the adoption test is vacuous")
    Files.delete(Paths.get(path, "_layout")) // pre-round-15 table
    // a writer misconfigured with a SMALLER bucket count cannot adopt:
    // the on-disk bucket ids prove its layout wrong
    val err = intercept[IllegalArgumentException] {
      delta(path, numBuckets = 4)(batchDf(("x", 1L, 20L)), 1L)
    }
    assert(err.getMessage.contains("holds bucket id"))
    assert(err.getMessage.contains("predates the _layout sidecar"))
    // the ORIGINAL count adopts cleanly
    delta(path, numBuckets = 8)(batchDf(("x", 1L, 20L)), 2L)
    assert(KeyedUpsertSink.readLayout(path).contains(8))
  }

  test("an idle change feed and an unpopulated-bucket lookup still carry the table schema") {
    val path = newTable("graft-empty-reads")
    delta(path, numBuckets = 64)(batchDf(("a", 1L, 10L)), 0L)
    val head = KeyedUpsertSink.tableVersions(path).max
    // CDC poller's steady state: no changes — select/write must still
    // resolve columns instead of blowing up on a zero-column frame
    val idle = KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = head)
    assert(idle.select("k", "v", "ts").count() == 0L)
    // a key hashing to an unpopulated bucket (64 buckets, 1 populated):
    // same schema guarantee, not a hash-dependent AnalysisException
    val miss = (1 to 200).map(i => s"absent$i")
      .find { k =>
        val b = keyDf(k).withColumn("__b",
          KeyedUpsertSink.bucketOf(keys, 64)).select("__b").as[Long].head()
        !KeyedUpsertSink.readManifest(path).contains(b)
      }.getOrElse(fail("no key hashed to an unpopulated bucket"))
    val lkp = KeyedUpsertSink.lookupBucketed(spark, path, keys, order, keyDf(miss))
    assert(lkp.select("k", "v", "ts").count() == 0L)
  }

  test("a reversed change-feed range fails loudly instead of reporting reverted rows") {
    val path = newTable("graft-feed-reversed")
    delta(path)(batchDf(("a", 1L, 10L)), 0L)
    delta(path)(batchDf(("a", 2L, 20L)), 1L)
    val err = intercept[IllegalArgumentException] {
      KeyedUpsertSink.readChangesBetween(spark, path, keys, order,
        fromVersion = 2L, toVersion = Some(1L))
    }
    assert(err.getMessage.contains("range is reversed"))
  }

  test("change feed aligns evolved schemas and from==to is empty") {
    val path = newTable("graft-feed-schema")
    delta(path)(batchDf(("a", 1L, 10L)), 0L) // v1
    delta(path)(Seq(("b", 2L, 20L, "x")).toDF("k", "v", "ts", "extra"), 1L) // v2
    val head = KeyedUpsertSink.tableVersions(path).max
    assert(KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = head).isEmpty)
    val feed = KeyedUpsertSink.readChangesBetween(
      spark, path, keys, order, fromVersion = 1L)
      .select("k", "v", "ts", "extra")
      .as[(String, Long, Long, Option[String])].collect().toSet
    assert(feed == Set(("b", 2L, 20L, Some("x"))))
  }

  test("readBucketedDeltaMatching: any-version match, resolved values, null-safe, distributed") {
    val path = newTable("graft-match-read")
    // k1's OLD version sits in group "x"; its resolved row moved to "y".
    // k2 stays in "x". k3 never touches "x". k4 has a NULL group.
    def rows(t: (String, String, Long, Long)*) = t.toDF("k", "g", "v", "ts")
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets = 4, compactAfter = 0) _
    sink(rows(("k1", "x", 1L, 10L), ("k2", "x", 1L, 10L), ("k3", "z", 1L, 10L)), 0L)
    sink(rows(("k1", "y", 2L, 20L), ("k4", null, 9L, 20L)), 1L)
    def matching(ms: (String, Option[String])*): Set[(String, String, Long, Long)] = {
      val mdf = ms.map { case (_, g) => Tuple1(g.orNull) }.toDF("g")
      KeyedUpsertSink.readBucketedDeltaMatching(
        spark, path, keys, order, mdf, Seq("g"))
        .select("k", "g", "v", "ts")
        .as[(String, Option[String], Long, Long)].collect()
        .map { case (k, g, v, ts) => (k, g.orNull, v, ts) }.toSet
    }
    // matching "x": k1 qualifies via its SUPERSEDED version but returns
    // its RESOLVED row (g=y) — the documented superset contract; k2's
    // resolved row matches directly; k3/k4 are absent
    assert(matching(("m", Some("x"))) ==
      Set(("k1", "y", 2L, 20L), ("k2", "x", 1L, 10L)))
    // a NULL match value finds the null-group key (null-safe joins)
    assert(matching(("m", None)) == Set(("k4", null, 9L, 20L)))
    // no match → empty; and the result equals the full resolve filtered
    // to candidate keys (cross-check against readBucketedDelta)
    assert(matching(("m", Some("nope"))).isEmpty)
    val full = KeyedUpsertSink.readBucketedDelta(spark, path, keys, order)
      .select("k", "g", "v", "ts")
      .as[(String, Option[String], Long, Long)].collect()
      .map { case (k, g, v, ts) => (k, g.orNull, v, ts) }.toSet
    assert(matching(("m", Some("x")), ("m", Some("y")), ("m", Some("z")),
      ("m", None)) == full)
  }

  test("the request set dedupes and buckets on the driver: building a lookup runs no job") {
    val path = newTable("graft-lookup-driver")
    delta(path)(batchDf(("a", 1L, 10L), ("b", 2L, 10L)), 0L)
    def got(df: DataFrame): Set[(String, Long, Long)] =
      df.select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    // a distributed distinct + bucket column shuffled the request set
    // before any table data was read
    val (lookup, jobs) = org.apache.spark.sql.graft.Jobs.during(spark)(
      KeyedUpsertSink.lookupBucketed(spark, path, keys, order,
        keyDf("a", "a", "b", "zz")))
    assert(jobs == 0, s"building the lookup ran $jobs job(s)")
    assert(got(lookup) == Set(("a", 1L, 10L), ("b", 2L, 10L)))
    // more request ROWS than the bound, but few distinct keys: judged by
    // the distinct keys, still a point lookup
    val dupes = spark.range(0, KeyedUpsertSink.MaxLookupKeys + 5)
      .select(when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")).as("k"))
    assert(got(KeyedUpsertSink.lookupBucketed(spark, path, keys, order, dupes)) ==
      Set(("a", 1L, 10L), ("b", 2L, 10L)))
  }

  test("an oversized request set is refused with the point-lookup contract, never an opaque driver OOM") {
    val path = newTable("graft-lookup-bound")
    delta(path)(batchDf(("a", 1L, 10L)), 0L)
    val oversized = spark.range(0, KeyedUpsertSink.MaxLookupKeys + 1)
      .select(col("id").cast("string").as("k"))
    val err = intercept[IllegalArgumentException] {
      KeyedUpsertSink.lookupBucketed(spark, path, keys, order, oversized)
    }
    assert(err.getMessage.contains("point-lookup API"),
      s"documented contract refusal, got: ${err.getMessage}")
    // exactly AT the bound still serves (and stays a correct lookup)
    val atBound = spark.range(0, KeyedUpsertSink.MaxLookupKeys - 1)
      .select(concat(lit("miss-"), col("id")).as("k"))
      .unionByName(keyDf("a"))
    val got = KeyedUpsertSink.lookupBucketed(spark, path, keys, order, atBound)
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 10L)))
  }
}
