package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.{AggCol, DistinctCol, ExtremumCol}

/** Incrementally-maintained materialized aggregate view: the contract
  * under test is maintained == recomputed-from-scratch after every
  * refresh (exact long arithmetic), retraction moving keys BETWEEN
  * groups and dropping emptied groups, effectively-once across the
  * publish/watermark crash window, and loud failure on every
  * ambiguous state (double bootstrap, missing watermark, recreated
  * base). Plus the weighted change feed the view consumes: +1 new
  * image / -1 superseded image, nothing for untouched keys.
  */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))
  private val dims = Seq("g")
  private def aggs = Seq(AggCol("n", lit(1L)), AggCol("sum_v", col("v")))

  private def batchDf(rows: (String, String, Long, Long)*): DataFrame =
    rows.toDF("k", "g", "v", "ts")

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  private def rmTree(path: String): Unit = {
    val s = Files.walk(Paths.get(path))
    try s.sorted(java.util.Comparator.reverseOrder()).iterator()
      .forEachRemaining(p => { Files.deleteIfExists(p); () })
    finally s.close()
  }

  private def sinkTo(path: String)(batch: DataFrame, id: Long): Unit =
    KeyedUpsertSink.upsertBucketedDelta(
      spark, path, keys, order, numBuckets = 4, compactAfter = 0)(batch, id)

  private def viewRows(viewPath: String): Set[(String, Long, Long)] =
    MaterializedAggView.read(spark, viewPath)
      .select("g", "n", "sum_v").as[(String, Long, Long)].collect().toSet

  private def recomputed(basePath: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, basePath, keys, order)
      .groupBy("g").agg(sum(lit(1L) * lit(1L)).as("n"),
        sum(col("v") * lit(1L)).as("sum_v"))
      .select("g", "n", "sum_v").as[(String, Long, Long)].collect().toSet

  test("weighted feed: +1 new image, -1 superseded image, silence for untouched keys") {
    val base = newDir("graft-mv-feed")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "x", 2L, 10L),
      ("c", "y", 3L, 10L)), 0L) // v1
    // update a (same bucket-set semantics regardless), insert d; b and c untouched rows —
    // but b may share a's bucket: the feed diffs ROWS, so identical rows vanish either way
    sinkTo(base)(batchDf(("a", "y", 5L, 20L), ("d", "y", 7L, 20L)), 1L) // v2
    val feed = KeyedUpsertSink.readChangesWeighted(
      spark, base, keys, order, fromVersion = 1L)
      .select("k", "g", "v", "ts", "__weight")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(feed == Set(
      ("a", "y", 5L, 20L, 1L), ("d", "y", 7L, 20L, 1L),
      ("a", "x", 1L, 10L, -1L)))
    // the unweighted feed is exactly the +1 half
    val upserts = KeyedUpsertSink.readChangesBetween(
      spark, base, keys, order, fromVersion = 1L)
      .select("k", "g", "v", "ts").as[(String, String, Long, Long)]
      .collect().toSet
    assert(upserts == Set(("a", "y", 5L, 20L), ("d", "y", 7L, 20L)))
  }

  test("maintained view equals from-scratch recompute across waves (events fixture)") {
    val ev = Tables.events(spark, Sf0001).select(
      col("user_id").as("k"), col("event_type").as("g"),
      (col("ts_ms") % 86400000L).as("v"), col("ts_us").as("ts"))
    val base = newDir("graft-mv-base")
    val view = newDir("graft-mv-view")
    sinkTo(base)(ev.filter(col("ts") % 3 === 0), 0L)
    assert(MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs).nonEmpty)
    assert(viewRows(view) == recomputed(base))
    (1L to 2L).foreach { i =>
      sinkTo(base)(ev.filter(col("ts") % 3 === i), i)
      assert(MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs).nonEmpty)
      assert(viewRows(view) == recomputed(base))
    }
  }

  test("retraction moves a key between groups and drops an emptied group") {
    val base = newDir("graft-mv-move")
    val view = newDir("graft-mv-move-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    assert(viewRows(view) == Set(("x", 1L, 1L), ("y", 1L, 2L)))
    // b's latest image moves to group x: y must DISAPPEAR (its only key
    // left), x must count both keys — a double-count would show n=1/n=3
    sinkTo(base)(batchDf(("b", "x", 9L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(viewRows(view) == Set(("x", 2L, 10L)))
  }

  test("idle refresh is a no-op; a row-identical redelivery commit advances the watermark") {
    val base = newDir("graft-mv-idle")
    val view = newDir("graft-mv-idle-view")
    val wave = batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L))
    sinkTo(base)(wave, 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val w0 = MaterializedAggView.watermark(view).get
    assert(MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs).isEmpty)
    assert(MaterializedAggView.watermark(view).contains(w0))
    // at-least-once redelivery: a new commit whose rows are identical —
    // the feed is empty, the view unchanged, but the watermark advances
    // (otherwise every poll re-reads the redelivered buckets forever)
    sinkTo(base)(wave, 1L)
    val r = MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(r.contains((w0, w0 + 1)))
    assert(MaterializedAggView.watermark(view).contains(w0 + 1))
    assert(viewRows(view) == Set(("x", 1L, 1L), ("y", 1L, 2L)))
  }

  test("crash between data publish and watermark advance replays to the same view") {
    val base = newDir("graft-mv-crash")
    val view = newDir("graft-mv-crash-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val w0 = MaterializedAggView.watermark(view).get
    sinkTo(base)(batchDf(("a", "y", 5L, 20L)), 1L)
    MaterializedAggView.onBeforeHeadPublish =
      () => throw new RuntimeException("crash before watermark")
    try intercept[RuntimeException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    } finally MaterializedAggView.onBeforeHeadPublish = () => ()
    // the data dir published but the watermark did not move — the view
    // still reads its OLD state, and the replayed refresh must land on
    // the same final answer (deterministic delta range)
    assert(MaterializedAggView.watermark(view).contains(w0))
    assert(MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs).contains((w0, w0 + 1)))
    assert(viewRows(view) == recomputed(base))
    // retention: exactly the two committed markers and their two data
    // directories — the CRASHED attempt's unreferenced directory was
    // reclaimed by the successful replay, and no stage survived
    import scala.jdk.CollectionConverters._
    val names = Files.list(Paths.get(view)).iterator().asScala
      .map(_.getFileName.toString).toList.sorted
    val markers = names.filter(_.startsWith("_head.v"))
    // `_incarnation` is the view's permanent force-rebootstrap token,
    // not a data dir
    val dirs = names.filterNot(n =>
      n.startsWith("_head") || n == "_incarnation")
    assert(markers == List(f"_head.v$w0%020d", f"_head.v${w0 + 1}%020d"),
      s"markers: $names")
    assert(dirs.map(_.split("-")(0)).sorted == List(s"v$w0", s"v${w0 + 1}"),
      s"exactly one data dir per committed marker, crash leftover gone: $names")
  }

  test("markers prune to the retained-data window: no marker ever dangles at a deleted directory") {
    val base = newDir("graft-mv-markers")
    val view = newDir("graft-mv-markers-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    // five more publishes — far past the top-2 retention window
    (1 to 5).foreach { i =>
      sinkTo(base)(batchDf(("a", "x", i + 1L, 10L + i)), i.toLong)
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    }
    import scala.jdk.CollectionConverters._
    val entries = Files.list(Paths.get(view)).iterator().asScala
      .map(_.getFileName.toString).toList
    val markers = entries.filter(_.startsWith("_head.v"))
    val dirs = entries.filter(n => n.startsWith("v") && !n.startsWith("_")).toSet
    // unsliced maintenance: the top-2 positions and the top-2 clean
    // versions coincide — exactly 2 markers, each naming a live directory
    assert(markers.size == 2, s"marker window must match retained data, got $markers")
    markers.foreach { m =>
      val dir = new String(Files.readAllBytes(Paths.get(view, m)),
        java.nio.charset.StandardCharsets.UTF_8).trim
      assert(dirs.contains(dir),
        s"marker $m names $dir which is not on disk (dangling audit surface); dirs=$dirs")
    }
    assert(viewRows(view) == recomputed(base))
  }

  test("reclaim sweeps quiescent crashed-putIfAbsent tmp files from the view root; live ones survive") {
    val base = newDir("graft-mv-tmpsweep")
    val view = newDir("graft-mv-tmpsweep-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    // a crashed putIfAbsent / force-publish leaves fsynced tmp files in
    // the view root; aged ones must be swept by the next publish's
    // reclaim, fresh ones (a concurrent maintainer mid-publish) survive
    val aged1 = Paths.get(view, "._head.v00000000000000000099.put-dead")
    val aged2 = Paths.get(view, "._incarnation.tmp-dead")
    val fresh = Paths.get(view, "._head.v00000000000000000098.put-live")
    Seq(aged1, aged2, fresh).foreach(p => Files.write(p, "x\n".getBytes))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000L)
    Seq(aged1, aged2).foreach(p => Files.setLastModifiedTime(p, old))
    sinkTo(base)(batchDf(("a", "x", 2L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(!Files.exists(aged1), "aged _head put-tmp must be swept")
    assert(!Files.exists(aged2), "aged _incarnation tmp must be swept")
    assert(Files.exists(fresh), "a fresh tmp may belong to a live publish — keep it")
    assert(viewRows(view) == recomputed(base))
  }

  test("double bootstrap refuses without force; force rebuilds") {
    val base = newDir("graft-mv-boot")
    val view = newDir("graft-mv-boot-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val e = intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    }
    assert(e.getMessage.contains("force"))
    assert(MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, force = true).nonEmpty)
    assert(viewRows(view) == Set(("x", 1L, 1L)))
  }

  test("force-bootstrap crash windows: no outcome serves a version above the new head, nothing destroyed before the new marker reads") {
    // the recreated-base shape: the old view sits at watermark v3, the
    // recreated base's head is v1 — the stale markers are all HIGHER
    // than the new head, the exact configuration where a wrong step
    // order either silently serves discarded state forever or destroys
    // it before any replacement is readable (both found in this
    // round's review passes)
    val base = newDir("graft-mv-force-crash")
    val view = newDir("graft-mv-force-crash-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    sinkTo(base)(batchDf(("b", "y", 2L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    sinkTo(base)(batchDf(("c", "y", 3L, 30L)), 2L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(MaterializedAggView.watermark(view).contains(3L))
    rmTree(base)
    sinkTo(base)(batchDf(("z", "z", 9L, 90L)), 0L) // recreated: head v1
    def forceCrashAt(step: String): Unit = {
      MaterializedAggView.onForceStep =
        s => if (s == step) throw new RuntimeException(s"crash after $s")
      try intercept[RuntimeException] {
        MaterializedAggView.bootstrap(spark, base, view, keys, order,
          dims, aggs, force = true)
      } finally MaterializedAggView.onForceStep = _ => ()
    }
    // crash after the stale higher MARKERS cleared, before the new one
    // published: the view is loudly watermark-less (never silently the
    // discarded v3 state), and the old data directories are intact
    forceCrashAt("cleared-higher")
    assert(MaterializedAggView.watermark(view).isEmpty,
      "no marker may resolve above the new head after the clear")
    val e = intercept[IllegalStateException] {
      MaterializedAggView.read(spark, view)
    }
    assert(e.getMessage.contains("never bootstrapped"))
    import scala.jdk.CollectionConverters._
    def names(): Set[String] = Files.list(Paths.get(view)).iterator()
      .asScala.map(_.getFileName.toString).toSet
    assert(names().exists(_.startsWith("v2-")) &&
      names().exists(_.startsWith("v3-")),
      s"the discarded state's data dirs must survive the crash: ${names()}")
    // re-run the force, crashing right after the new marker publishes:
    // the view now READS the forced state even though cleanup is pending
    forceCrashAt("published")
    assert(MaterializedAggView.watermark(view).contains(1L))
    assert(viewRows(view) == Set(("z", 1L, 9L)))
    // a clean re-run completes the cleanup: higher dirs and markers gone
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, force = true)
    assert(MaterializedAggView.watermark(view).contains(1L))
    assert(viewRows(view) == Set(("z", 1L, 9L)))
    assert(!names().exists(_.startsWith("_head.v" + "0" * 19 + "3")),
      s"stale higher marker must be gone: ${names()}")
    assert(!names().exists(n => n.startsWith("v2-") || n.startsWith("v3-")),
      s"orphaned above-head dirs must be swept by the completed force: ${names()}")
  }

  test("refresh without bootstrap and a recreated base fail loudly") {
    val base = newDir("graft-mv-loud")
    val view = newDir("graft-mv-loud-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    val e1 = intercept[IllegalStateException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    }
    assert(e1.getMessage.contains("bootstrap"))
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    // recreate the base: head falls below the view's watermark
    rmTree(base)
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    // watermark v1 == recreated head v1 → indistinguishable idle; force
    // a second commit on the OLD view's watermark axis to expose it
    val view2 = newDir("graft-mv-loud-view2")
    sinkTo(base)(batchDf(("b", "x", 2L, 10L)), 1L)
    MaterializedAggView.bootstrap(spark, base, view2, keys, order, dims, aggs)
    rmTree(base)
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    val e2 = intercept[IllegalStateException] {
      MaterializedAggView.refresh(spark, base, view2, keys, order, dims, aggs)
    }
    assert(e2.getMessage.contains("recreated"))
  }

  // ---- MIN/MAX maintenance (ExtremumCol two-path scheme) ----

  private def extrema = Seq(
    ExtremumCol("min_v", col("v"), isMin = true),
    ExtremumCol("max_v", col("v"), isMin = false))

  private def viewExt(viewPath: String): Set[(String, Long, Long, Long, Long)] =
    MaterializedAggView.read(spark, viewPath)
      .select("g", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet

  private def recomputedExt(basePath: String): Set[(String, Long, Long, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, basePath, keys, order)
      .groupBy("g").agg(sum(lit(1L)).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .select("g", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Long, Long, Long)].collect().toSet

  /** Seam guard: fail the test if the dirty-recompute path fires. */
  private def forbidRecompute[A](body: => A): A = {
    MaterializedAggView.onExtremaRecompute =
      n => throw new AssertionError(s"base recompute fired ($n dirty groups)")
    try body finally MaterializedAggView.onExtremaRecompute = _ => ()
  }

  test("min/max: inserts and non-tying retractions never read the base; a retracted extremum recomputes only the dirty group") {
    val base = newDir("graft-mv-ext")
    val view = newDir("graft-mv-ext-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "x", 5L, 10L),
      ("c", "x", 9L, 10L), ("d", "y", 4L, 10L)), 0L)
    forbidRecompute {
      MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs, extrema)
    }
    assert(viewExt(view) == Set(("x", 3L, 15L, 1L, 9L), ("y", 1L, 4L, 4L, 4L)))
    // pure insert + interior update: e is new, b moves 5→6 (retracted 5
    // is strictly inside (1, 9)) — the cheap path must cover both
    sinkTo(base)(batchDf(("e", "x", 7L, 20L), ("b", "x", 6L, 20L)), 1L)
    forbidRecompute {
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
    }
    assert(viewExt(view) == recomputedExt(base))
    assert(viewExt(view).contains(("x", 4L, 23L, 1L, 9L)))
    // retract the stored min of x (a: 1→2): exactly one dirty group,
    // recomputed from the base at head; y must not be in the dirty set
    var fired = Seq.empty[Long]
    MaterializedAggView.onExtremaRecompute = n => fired :+= n
    try {
      sinkTo(base)(batchDf(("a", "x", 2L, 30L)), 2L)
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
    } finally MaterializedAggView.onExtremaRecompute = _ => ()
    assert(fired == Seq(1L))
    assert(viewExt(view) == recomputedExt(base))
    assert(viewExt(view).contains(("x", 4L, 24L, 2L, 9L)))
  }

  test("min/max: a retracted max moving a key between groups recomputes the source group and seeds the target") {
    val base = newDir("graft-mv-ext-move")
    val view = newDir("graft-mv-ext-move-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("c", "x", 9L, 10L)), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, extrema)
    // c (x's max) moves to brand-new group y: x recomputes to (1,1),
    // y's extrema come from the insert path alone
    sinkTo(base)(batchDf(("c", "y", 3L, 20L)), 1L)
    MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs, extrema)
    assert(viewExt(view) == Set(("x", 1L, 1L, 1L, 1L), ("y", 1L, 3L, 3L, 3L)))
    // and retracting the LAST key of a group drops it, dirty or not
    sinkTo(base)(batchDf(("a", "y", 2L, 30L)), 2L)
    MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs, extrema)
    assert(viewExt(view) == Set(("y", 2L, 5L, 2L, 3L)))
  }

  test("min/max: events-fixture waves stay equal to the from-scratch recompute") {
    val ev = Tables.events(spark, Sf0001).select(
      col("user_id").as("k"), col("event_type").as("g"),
      (col("ts_ms") % 86400000L).as("v"), col("ts_us").as("ts"))
    val base = newDir("graft-mv-ext-ev")
    val view = newDir("graft-mv-ext-ev-view")
    sinkTo(base)(ev.filter(col("ts") % 3 === 0), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, extrema)
    (1L to 2L).foreach { i =>
      sinkTo(base)(ev.filter(col("ts") % 3 === i), i)
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
      assert(viewExt(view) == recomputedExt(base))
    }
  }

  test("min/max: a NULL dim value is a real group through every extremum path") {
    // groupBy keeps NULL as a group; the extremum joins must be
    // null-safe or this group's min/max silently null out on refresh
    val base = newDir("graft-mv-ext-ndim")
    val view = newDir("graft-mv-ext-ndim-view")
    def ndimDf(rows: (String, Option[String], Long, Long)*): DataFrame =
      rows.toDF("k", "g", "v", "ts")
    sinkTo(base)(ndimDf(("a", None, 3L, 10L), ("b", None, 8L, 10L),
      ("c", Some("x"), 5L, 10L)), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, extrema)
    def rows() = MaterializedAggView.read(spark, view)
      .select("g", "n", "min_v", "max_v")
      .as[(Option[String], Long, Long, Long)].collect().toSet
    assert(rows() == Set((None, 2L, 3L, 8L), (Some("x"), 1L, 5L, 5L)))
    // interior update inside the null group: cheap path, values keep
    sinkTo(base)(ndimDf(("d", None, 5L, 20L)), 1L)
    forbidRecompute {
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
    }
    assert(rows() == Set((None, 3L, 3L, 8L), (Some("x"), 1L, 5L, 5L)))
    // retract the null group's min: IT must register dirty and recompute
    var fired = Seq.empty[Long]
    MaterializedAggView.onExtremaRecompute = n => fired :+= n
    try {
      sinkTo(base)(ndimDf(("a", None, 4L, 30L)), 2L)
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
    } finally MaterializedAggView.onExtremaRecompute = _ => ()
    assert(fired == Seq(1L))
    assert(rows() == Set((None, 3L, 4L, 8L), (Some("x"), 1L, 5L, 5L)))
  }

  test("min/max: an extremum named 'hit' survives the dirty-recompute path") {
    // regression guard: internal scratch names must not collide with
    // any legal user name ("__rec_" + "hit" once shadowed the hit flag)
    val base = newDir("graft-mv-ext-hit")
    val view = newDir("graft-mv-ext-hit-view")
    val ext = Seq(ExtremumCol("hit", col("v"), isMin = true))
    sinkTo(base)(batchDf(("a", "x", 2L, 10L), ("b", "x", 6L, 10L)), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, ext)
    sinkTo(base)(batchDf(("a", "x", 7L, 20L)), 1L) // retracts the min
    MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs, ext)
    val got = MaterializedAggView.read(spark, view)
      .select("g", "hit").as[(String, Long)].collect().toSet
    assert(got == Set(("x", 6L)))
  }

  test("refresh with a different agg/extremum spec than the bootstrapped view fails loudly") {
    val base = newDir("graft-mv-ext-spec")
    val view = newDir("graft-mv-ext-spec-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, extrema)
    sinkTo(base)(batchDf(("b", "x", 2L, 20L)), 1L)
    // omitting the extrema (the defaulted parameter) must not silently
    // publish a view stripped of its maintained min/max columns
    val e = intercept[IllegalArgumentException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    }
    assert(e.getMessage.contains("must match the bootstrapped view"))
    // and the stored state is untouched: the matching refresh proceeds
    MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs, extrema)
    assert(viewExt(view) == recomputedExt(base))
  }

  test("min/max: null values never dirty and an all-null group stores a null extremum") {
    val base = newDir("graft-mv-ext-null")
    val view = newDir("graft-mv-ext-null-view")
    def nullableDf(rows: (String, String, Option[Long], Long)*): DataFrame =
      rows.toDF("k", "g", "v", "ts")
    sinkTo(base)(nullableDf(("a", "x", None, 10L), ("b", "x", None, 10L),
      ("c", "y", Some(5L), 10L)), 0L)
    MaterializedAggView.bootstrap(
      spark, base, view, keys, order, dims, aggs, extrema)
    val boot = MaterializedAggView.read(spark, view)
      .select("g", "min_v", "max_v")
      .as[(String, Option[Long], Option[Long])].collect().toSet
    assert(boot == Set(("x", None, None), ("y", Some(5L), Some(5L))))
    // retract a null (a gains a value): null never ties an extremum, so
    // no base read; x's min becomes the inserted 3
    forbidRecompute {
      sinkTo(base)(nullableDf(("a", "x", Some(3L), 20L)), 1L)
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs, extrema)
    }
    val after = MaterializedAggView.read(spark, view)
      .select("g", "min_v", "max_v")
      .as[(String, Option[Long], Option[Long])].collect().toSet
    assert(after == Set(("x", Some(3L), Some(3L)), ("y", Some(5L), Some(5L))))
  }

  // ---- exact COUNT DISTINCT maintenance (DistinctCol aux tables) ----

  private def distincts = Seq(DistinctCol("nd_v", col("v")))

  private def viewNd(viewPath: String): Set[(String, Long, Long)] =
    MaterializedAggView.read(spark, viewPath)
      .select("g", "n", "nd_v").as[(String, Long, Long)].collect().toSet

  private def recomputedNd(basePath: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, basePath, keys, order)
      .groupBy("g").agg(sum(lit(1L)).as("n"),
        count_distinct(col("v")).as("nd_v"))
      .select("g", "n", "nd_v").as[(String, Long, Long)].collect().toSet

  test("count distinct: multiplicity collapse — a shared value survives one retraction, drops with the last") {
    val base = newDir("graft-mv-nd")
    val view = newDir("graft-mv-nd-view")
    // a and b share v=7; c holds v=9 → x: 2 distinct values
    sinkTo(base)(batchDf(("a", "x", 7L, 10L), ("b", "x", 7L, 10L),
      ("c", "x", 9L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    assert(viewNd(view) == Set(("x", 3L, 2L)))
    // a moves 7→1: value 7 still live through b → distinct becomes 3
    sinkTo(base)(batchDf(("a", "x", 1L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    assert(viewNd(view) == Set(("x", 3L, 3L)))
    assert(viewNd(view) == recomputedNd(base))
    // b moves 7→9: value 7's LAST holder gone, 9 now shared → 2 distinct
    sinkTo(base)(batchDf(("b", "x", 9L, 30L)), 2L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    assert(viewNd(view) == Set(("x", 3L, 2L)))
    assert(viewNd(view) == recomputedNd(base))
  }

  test("count distinct: null values are ignored and an all-null group publishes 0") {
    val base = newDir("graft-mv-nd-null")
    val view = newDir("graft-mv-nd-null-view")
    def nullableDf(rows: (String, String, Option[Long], Long)*): DataFrame =
      rows.toDF("k", "g", "v", "ts")
    sinkTo(base)(nullableDf(("a", "x", None, 10L), ("b", "x", None, 10L),
      ("c", "y", Some(5L), 10L), ("d", "y", None, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    assert(viewNd(view) == Set(("x", 2L, 0L), ("y", 2L, 1L)))
    // a null→3 transition adds the group's first value
    sinkTo(base)(nullableDf(("a", "x", Some(3L), 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    assert(viewNd(view) == Set(("x", 2L, 1L), ("y", 2L, 1L)))
  }

  test("count distinct: all three maintained tiers together equal the recompute across events-fixture waves") {
    val ev = Tables.events(spark, Sf0001).select(
      col("user_id").as("k"), col("event_type").as("g"),
      (col("ts_ms") % 86400000L).as("v"), col("ts_us").as("ts"))
    val base = newDir("graft-mv-nd-ev")
    val view = newDir("graft-mv-nd-ev-view")
    def full(basePath: String): Set[(String, Long, Long, Long, Long, Long)] =
      KeyedUpsertSink.readBucketedDelta(spark, basePath, keys, order)
        .groupBy("g").agg(sum(lit(1L)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          count_distinct(col("v")).as("nd_v"))
        .select("g", "n", "sum_v", "min_v", "max_v", "nd_v")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    def view6(): Set[(String, Long, Long, Long, Long, Long)] =
      MaterializedAggView.read(spark, view)
        .select("g", "n", "sum_v", "min_v", "max_v", "nd_v")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    sinkTo(base)(ev.filter(col("ts") % 3 === 0), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, extrema, distincts)
    assert(view6() == full(base))
    (1L to 2L).foreach { i =>
      sinkTo(base)(ev.filter(col("ts") % 3 === i), i)
      MaterializedAggView.refresh(spark, base, view, keys, order, dims,
        aggs, extrema, distincts)
      assert(view6() == full(base))
    }
  }

  test("count distinct: refresh without the bootstrapped distinct spec fails loudly") {
    val base = newDir("graft-mv-nd-spec")
    val view = newDir("graft-mv-nd-spec-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, Seq.empty, distincts)
    sinkTo(base)(batchDf(("b", "x", 2L, 20L)), 1L)
    val e = intercept[IllegalArgumentException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    }
    assert(e.getMessage.contains("must match"))
  }

  test("streaming maintenance: refresh rides the ingest foreachBatch across restart and redelivery") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, Sf0001).select(
      col("user_id").as("k"), col("event_type").as("g"),
      (col("ts_ms") % 86400000L).as("v"), col("ts_us").as("ts"))
    val root = Files.createTempDirectory("graft-mv-stream")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val base = root.resolve("t").toString
    val view = root.resolve("view").toString
    // seed commit + bootstrap: the maintenance loop assumes a
    // bootstrapped view, exactly like ChangeFeedConsumer assumes a
    // checkpoint
    sinkTo(base)(ev.filter(col("ts") % 4 === 0), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
      aggs, extrema, distincts)
    def runOnce(ckpt: String): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", "true").parquet(landing)
        .writeStream
        .foreachBatch((df: DataFrame, id: Long) => {
          // commit the micro-batch, then fold its weighted feed into
          // the view — the view trails the table by at most one trigger
          sinkTo(base)(df, id)
          MaterializedAggView.refresh(spark, base, view, keys, order,
            dims, aggs, extrema, distincts)
          ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def view6(): Set[(String, Long, Long, Long, Long, Long)] =
      MaterializedAggView.read(spark, view)
        .select("g", "n", "sum_v", "min_v", "max_v", "nd_v")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    def full(): Set[(String, Long, Long, Long, Long, Long)] =
      KeyedUpsertSink.readBucketedDelta(spark, base, keys, order)
        .groupBy("g").agg(sum(lit(1L)).as("n"), sum(col("v")).as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          count_distinct(col("v")).as("nd_v"))
        .select("g", "n", "sum_v", "min_v", "max_v", "nd_v")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val ckpt = root.resolve("ckpt").toString
    ev.filter(col("ts") % 4 === 1).write.parquet(s"$landing/w1")
    runOnce(ckpt)
    assert(view6() == full())
    // restart boundary: same checkpoint, new wave
    ev.filter(col("ts") % 4 === 2).write.parquet(s"$landing/w2")
    runOnce(ckpt)
    assert(view6() == full())
    // at-least-once redelivery: a FRESH checkpoint replays the whole
    // landing dir — every replayed commit nets an empty feed, the
    // watermark advances, the view's values never move
    val before = view6()
    runOnce(Files.createTempDirectory("graft-mv-stream-ckpt2").toString)
    assert(MaterializedAggView.watermark(view).contains(
      KeyedUpsertSink.tableVersions(base).max))
    assert(view6() == before && view6() == full())
  }

  test("reserved/colliding column names and empty dims are rejected") {
    val base = newDir("graft-mv-val")
    val view = newDir("graft-mv-val-view")
    intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        Seq.empty, aggs)
    }
    intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        dims, Seq(AggCol("g", lit(1L))))
    }
    intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        dims, Seq(AggCol("__n", lit(1L))))
    }
    // extremum names join the same namespace: collisions and the
    // reserved __ prefix are rejected before any work happens
    intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        dims, aggs, Seq(ExtremumCol("n", col("v"), isMin = true)))
    }
    intercept[IllegalArgumentException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        dims, aggs, Seq(ExtremumCol("__r_min", col("v"), isMin = true)))
    }
  }

  // ---- decimal sums: one stored type across bootstrap and folds

  private type DecRow = (String, String, String, Long) // k, g, amount, ts

  private def decAggs = Seq(AggCol("n", lit(1L)), AggCol("sum_amount", col("amount")))

  private def decBatch(rows: Seq[DecRow]): DataFrame =
    rows.toDF("k", "g", "amount", "ts")
      .withColumn("amount", col("amount").cast("decimal(18,2)"))

  /** The view a from-scratch LWW resolve of `history` must produce. */
  private def decModel(history: Seq[DecRow]): Set[(String, Long, BigDecimal)] =
    history.groupBy(_._1).values.map(_.maxBy(_._4)).groupBy(_._2)
      .map { case (g, rs) =>
        (g, rs.size.toLong, rs.map(r => BigDecimal(r._3)).sum.setScale(2)) }
      .toSet

  private def decView(view: String): Set[(String, Long, BigDecimal)] =
    MaterializedAggView.read(spark, view).select("g", "n", "sum_amount")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2)).setScale(2)))
      .toSet

  private def sumAmountType(view: String) =
    MaterializedAggView.read(spark, view).schema("sum_amount").dataType

  private val decWaves: Seq[Seq[DecRow]] = Seq(
    Seq(("a", "x", "1.10", 10L), ("b", "y", "2.25", 10L), ("c", "x", "-0.35", 10L)),
    Seq(("a", "y", "7.05", 20L), ("d", "x", "9999999999999999.99", 20L)),
    Seq(("b", "x", "0.01", 30L), ("c", "x", "-3.50", 30L), ("e", "z", "12.34", 30L)),
    Seq(("d", "y", "0.99", 40L), ("a", "y", "-7.05", 40L)))

  test("a decimal(18,2) sum keeps one stored type through bootstrap, refresh and streamed folds") {
    import org.apache.spark.sql.types.DecimalType
    val base = newDir("graft-mv-dec")
    val view = newDir("graft-mv-dec-view")
    sinkTo(base)(decBatch(decWaves(0)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, decAggs)
    assert(decView(view) == decModel(decWaves(0)))
    assert(sumAmountType(view) == DecimalType(38, 2))
    for (i <- 1 until decWaves.size) {
      sinkTo(base)(decBatch(decWaves(i)), i.toLong)
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, decAggs)
      assert(decView(view) == decModel(decWaves.take(i + 1).flatten), s"refresh $i")
      assert(sumAmountType(view) == DecimalType(38, 2))
    }
    // the same waves folded by the maintenance stream
    val sbase = newDir("graft-mv-dec-s")
    val sview = newDir("graft-mv-dec-s-view")
    val ckpt = Files.createTempDirectory("graft-mv-dec-ckpt").toString
    sinkTo(sbase)(decBatch(decWaves(0)), 0L)
    MaterializedAggView.bootstrap(spark, sbase, sview, keys, order, dims, decAggs)
    assert(decView(sview) == decModel(decWaves(0)))
    for (i <- 1 until decWaves.size) {
      sinkTo(sbase)(decBatch(decWaves(i)), i.toLong)
      MaterializedAggView.maintainStream(spark, sbase, sview, keys, order,
        dims, decAggs, checkpointDir = ckpt).awaitTermination()
      assert(decView(sview) == decModel(decWaves.take(i + 1).flatten), s"stream fold $i")
      assert(sumAmountType(sview) == DecimalType(38, 2))
    }
  }

  test("publish primes the view's schema: reading a fresh bootstrap or refresh infers nothing") {
    val base = newDir("graft-mv-prime")
    val view = newDir("graft-mv-prime-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    // the first read after a bootstrap used to pay a parquet schema-
    // inference job before any data moved; the schema publish wrote is
    // already cached, so building the read runs no job at all
    def building(): Int =
      org.apache.spark.sql.graft.Jobs.during(spark)(
        MaterializedAggView.read(spark, view))._2
    assert(building() == 0, "the bootstrap's schema must be primed")
    sinkTo(base)(batchDf(("a", "y", 3L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(building() == 0, "the fold's schema must be primed")
    assert(viewRows(view) == recomputed(base))
  }

  test("a view stored with a narrower decimal sum than the fold publishes heals on its next fold") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.DecimalType
    val base = newDir("graft-mv-dec-heal")
    val view = newDir("graft-mv-dec-heal-view")
    sinkTo(base)(decBatch(decWaves(0)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, decAggs)
    // re-store the bootstrapped rows with sum_amount as decimal(30,2), the
    // type an earlier bootstrap gave it (the view is not read before this,
    // so the first read below infers and caches the narrow type)
    val dataDir = {
      val s = Files.walk(Paths.get(view))
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString == "view" && Files.isDirectory(p)).toList
      finally s.close()
    } match { case Seq(d) => d; case ds => fail(s"view data dirs: $ds") }
    val narrow = spark.read.parquet(dataDir.toString)
      .withColumn("sum_amount", col("sum_amount").cast("decimal(30,2)"))
    val rows = narrow.collect()
    val tmp = Files.createTempDirectory("graft-mv-dec-narrow").resolve("v")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), narrow.schema)
      .write.parquet(tmp.toString)
    rmTree(dataDir.toString)
    Files.move(tmp, dataDir)
    for (i <- 1 until decWaves.size) {
      sinkTo(base)(decBatch(decWaves(i)), i.toLong)
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, decAggs)
      assert(decView(view) == decModel(decWaves.take(i + 1).flatten), s"refresh $i")
      assert(sumAmountType(view) == DecimalType(38, 2))
    }
  }
}
