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
    val before = viewRows(view)
    val v0 = KeyedUpsertSink.tableVersions(view).max
    sinkTo(base)(batchDf(("a", "y", 5L, 20L)), 1L)
    MaterializedAggView.onBeforeCommit =
      () => throw new RuntimeException("crash before the commit")
    try intercept[RuntimeException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    } finally MaterializedAggView.onBeforeCommit = () => ()
    // the fold's rows were staged but never committed: the view still
    // reads its OLD state at the old watermark, and the replayed refresh
    // lands on the same final answer (deterministic delta range)
    assert(MaterializedAggView.watermark(view).contains(w0))
    assert(KeyedUpsertSink.tableVersions(view).max == v0)
    assert(viewRows(view) == before)
    assert(MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs).contains((w0, w0 + 1)))
    assert(viewRows(view) == recomputed(base))
    // data and watermark commit together: the replay is exactly one
    // view version, and nothing of the old marker layout is written
    assert(KeyedUpsertSink.tableVersions(view).max == v0 + 1)
    import scala.jdk.CollectionConverters._
    val names = Files.list(Paths.get(view)).iterator().asScala
      .map(_.getFileName.toString).toList
    assert(!names.exists(n => n.startsWith("_head") || n == "_incarnation" ||
      n.matches("v[0-9]+-.*")), s"view root: $names")
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

  test("a force with a different spec or column type is refused and names the fix") {
    val base = newDir("graft-mv-force-spec")
    val view = newDir("graft-mv-force-spec-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val v0 = KeyedUpsertSink.tableVersions(view).max
    // a dropped aggregate, then a sum retyped (a recreated base with a
    // decimal column where the view summed a bigint)
    Seq(Seq(AggCol("n", lit(1L))),
        Seq(AggCol("n", lit(1L)), AggCol("sum_v", col("v").cast("decimal(20,2)"))))
      .foreach { changed =>
        val e = intercept[IllegalArgumentException] {
          MaterializedAggView.bootstrap(spark, base, view, keys, order, dims,
            changed, force = true)
        }
        assert(e.getMessage.contains("delete the view directory and bootstrap it"),
          e.getMessage)
      }
    assert(KeyedUpsertSink.tableVersions(view).max == v0,
      "a refused force commits nothing")
    assert(viewRows(view) == recomputed(base))
  }

  test("force-bootstrap crash windows: no outcome serves a version above the new head, nothing destroyed before the new marker reads") {
    // the recreated-base shape: the old view sits at watermark v3, the
    // recreated base's head is v1. A force is ONE commit (the new image
    // plus tombstones for every stored key it lacks), so a crash before
    // it leaves the old view whole and readable, and the re-run lands
    // the forced state at the LOWER head
    val base = newDir("graft-mv-force-crash")
    val view = newDir("graft-mv-force-crash-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    sinkTo(base)(batchDf(("b", "y", 2L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    sinkTo(base)(batchDf(("c", "y", 3L, 30L)), 2L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(MaterializedAggView.watermark(view).contains(3L))
    val old = viewRows(view)
    assert(old == Set(("x", 1L, 1L), ("y", 2L, 5L)))
    rmTree(base)
    sinkTo(base)(batchDf(("z", "z", 9L, 90L)), 0L) // recreated: head v1
    MaterializedAggView.onBeforeCommit =
      () => throw new RuntimeException("crash before the force commit")
    try intercept[RuntimeException] {
      MaterializedAggView.bootstrap(spark, base, view, keys, order,
        dims, aggs, force = true)
    } finally MaterializedAggView.onBeforeCommit = () => ()
    assert(MaterializedAggView.watermark(view).contains(3L),
      "a crashed force must leave the old watermark")
    assert(viewRows(view) == old, "a crashed force must leave the old view readable")
    // the re-run forces to v1 on the recreated base: the old groups are
    // tombstoned in the same commit, nothing above the new head serves
    assert(MaterializedAggView.bootstrap(spark, base, view, keys, order,
      dims, aggs, force = true).contains(1L))
    assert(MaterializedAggView.watermark(view).contains(1L))
    assert(viewRows(view) == Set(("z", 1L, 9L)))
    // and the forced view maintains on from the new head
    sinkTo(base)(batchDf(("x", "z", 1L, 95L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(viewRows(view) == recomputed(base))
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

  test("a view directory without `_head.v*` markers or `_incarnation` is refused by every reader and maintainer") {
    val base = newDir("graft-mv-legacy")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    val head = KeyedUpsertSink.tableVersions(base).max
    def refused(view: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(view) &&
        e.getMessage.contains("delete the view directory and bootstrap"),
        e.getMessage)
    }
    def checkpoint = Files.createTempDirectory("graft-mv-legacy-ck").toString
    def allRefuse(view: String): Unit = {
      refused(view)(MaterializedAggView.read(spark, view))
      refused(view)(MaterializedAggView.watermark(view))
      refused(view)(MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs))
      refused(view)(MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs))
      refused(view)(MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs, force = true))
      refused(view)(MaterializedAggView.maintainStream(spark, base, view,
        keys, order, dims, aggs, checkpointDir = checkpoint))
    }
    def oldData(view: String, dir: String): Unit =
      spark.range(1).select(lit("x").as("g"), lit(1L).as("n"),
        lit(1L).as("sum_v"), lit(1L).as("__n"))
        .write.parquet(s"$view/$dir/view")
    // the marker layout: a put-if-absent `_head.v<H>` marker naming a
    // per-version data directory, and an `_incarnation` token
    val marked = newDir("graft-mv-marked-view")
    oldData(marked, s"v$head-0a1b2c3d")
    Files.writeString(Paths.get(marked, f"_head.v$head%020d"), s"v$head-0a1b2c3d\n")
    Files.writeString(Paths.get(marked, "_incarnation"), "0f1e2d3c\n")
    allRefuse(marked)
    // the older single-file layout: a `_head` watermark file naming a
    // plain `v<H>` data directory
    val legacy = newDir("graft-mv-legacy-view")
    oldData(legacy, s"v$head")
    Files.writeString(Paths.get(legacy, "_head"), s"$head\n")
    allRefuse(legacy)
    // the fix the message names
    Seq(marked, legacy).foreach { view =>
      rmTree(view)
      assert(MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs).contains(head))
      assert(viewRows(view) == recomputed(base))
    }
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
    // inference job before any data moved; the view table's commit
    // primes each generation's schema, so building the read runs no job
    def building(): Int =
      org.apache.spark.sql.graft.Jobs.during(spark)(
        MaterializedAggView.read(spark, view))._2
    assert(building() == 0, "the bootstrap's schema must be primed")
    sinkTo(base)(batchDf(("a", "y", 3L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(building() == 0, "the fold's schema must be primed")
    assert(viewRows(view) == recomputed(base))
  }

  test("a fold writes only its dirty groups: one version, one generation of changed keys") {
    val base = newDir("graft-mv-dirty")
    val view = newDir("graft-mv-dirty-view")
    // 1,000 groups of one key each
    sinkTo(base)((0 until 1000).map(i => (s"k$i", s"g$i", i.toLong, 10L)).toDF(
      "k", "g", "v", "ts"), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val v0 = KeyedUpsertSink.tableVersions(view).max
    val gens0 = genDirs(view)
    // one base commit: k2 moves into g1 — g1 changes, g2 empties
    sinkTo(base)(batchDf(("k2", "g1", 2L, 20L)), 1L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    assert(KeyedUpsertSink.tableVersions(view).max == v0 + 1,
      "the fold must add exactly one view version")
    val added = genDirs(view) -- gens0
    assert(added.size == 1, s"the fold must add one generation: $added")
    val written = spark.read.parquet(s"$view/${added.head}")
    assert(written.count() == 2L, "the generation holds the two dirty groups only")
    assert(written.filter(col(KeyedUpsertSink.TombstoneCol)).select("g")
      .as[String].collect().toSeq == Seq("g2"), "the emptied group is a tombstone")
    // every older chain is a prefix of its new chain: nothing rewritten
    val (m0, m1) = (KeyedUpsertSink.manifestAt(view, v0),
      KeyedUpsertSink.manifestAt(view, v0 + 1))
    m0.foreach { case (b, chain) =>
      assert(KeyedUpsertSink.chainOf(m1(b)).startsWith(KeyedUpsertSink.chainOf(chain)),
        s"bucket $b: ${m1(b)} does not extend $chain")
    }
    assert(viewRows(view) == recomputed(base))
    assert(viewRows(view).size == 999)
  }

  test("view storage stays bounded: the vacuum keeps the head and one grace version") {
    val base = newDir("graft-mv-bounded")
    val view = newDir("graft-mv-bounded-view")
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L),
      ("c", "z", 3L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    // group z empties before the folds below: its tombstone must not
    // outlive the compaction of the view's chains
    sinkTo(base)(batchDf(("c", "x", 3L, 11L)), 100L)
    MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    def fold(i: Int): Unit = {
      sinkTo(base)(batchDf((s"k${i % 3}", if (i % 2 == 0) "x" else "y",
        i.toLong, 10L + i)), i.toLong)
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    }
    (1 to 12).foreach(fold)
    // age every generation past the vacuum's one-minute quiescence dwell
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000L)
    genDirs(view).foreach { g =>
      val s = Files.walk(Paths.get(view, g))
      try s.iterator().forEachRemaining(p => Files.setLastModifiedTime(p, aged))
      finally s.close()
    }
    fold(13)
    val versions = KeyedUpsertSink.tableVersions(view).sorted
    val live = versions.takeRight(2).flatMap(v =>
      KeyedUpsertSink.manifestAt(view, v).values.flatMap(KeyedUpsertSink.chainOf)).toSet
    assert(genDirs(view) == live,
      s"on disk ${genDirs(view).toSeq.sorted}, live ${live.toSeq.sorted}")
    val stored = genDirs(view).toSeq.map(g => spark.read.parquet(s"$view/$g"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    assert(stored.filter(col("g") === "z").count() == 0L,
      "the emptied group's tombstone must be purged, not kept for good")
    assert(viewRows(view) == recomputed(base))
  }

  private def genDirs(view: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(view))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("gen-")).toSet
    finally s.close()
  }
}
