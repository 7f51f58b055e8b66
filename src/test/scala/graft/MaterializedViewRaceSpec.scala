package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.AggCol

/** The view's single-maintainer contract is ENFORCED, not conventional:
  * the watermark rides the view table's put-if-absent manifest commit,
  * which aborts unless the head still carries the watermark the pass
  * started from, so a stalled or concurrent second maintainer fails
  * loudly instead of regressing the watermark.
  *
  *  - deterministic interleaving (seam): a maintainer stalled between
  *    its stage and its commit, overtaken by another full refresh, gets
  *    the documented ConcurrentModificationException; the watermark
  *    never regresses and the view equals the recompute;
  *  - two real JVMs racing refreshes of one view: every committed range
  *    chains contiguously (each from == the previous to — CAS admits no
  *    overlap and no gap), the final view equals the from-scratch
  *    recompute, and a reader holding the previous version keeps it
  *    (one-version grace).
  */
class MaterializedViewRaceSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order = Seq(col("ts"))
  private val dims = Seq("g")
  private def aggs = Seq(AggCol("sum_v", col("v")), AggCol("n", lit(1L)))

  private def batchDf(rows: (String, String, Long, Long)*): DataFrame =
    rows.toDF("k", "g", "v", "ts")

  private def sinkTo(path: String) = KeyedUpsertSink.upsertBucketedDelta(
    spark, path, keys, order, numBuckets = 4, compactAfter = 0) _

  private def recomputed(base: String): Set[(String, Long, Long)] =
    KeyedUpsertSink.readBucketedDelta(spark, base, keys, order)
      .groupBy("g").agg(sum("v").as("sum_v"), count(lit(1L)).as("n"))
      .as[(String, Long, Long)].collect().toSet

  private def viewRows(view: String): Set[(String, Long, Long)] =
    MaterializedAggView.read(spark, view)
      .select("g", "sum_v", "n").as[(String, Long, Long)].collect().toSet

  test("a stalled maintainer overtaken mid-publish loses loudly; the watermark never regresses") {
    val root = Files.createTempDirectory("graft-mvr-stall")
    val base = root.resolve("base").toString
    val view = root.resolve("view").toString
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val w0 = MaterializedAggView.watermark(view).get
    sinkTo(base)(batchDf(("a", "x", 5L, 20L)), 1L)
    // maintainer A stalls between its stage and its commit; maintainer
    // B refreshes the SAME range to completion inside that window
    var fired = false
    val v0 = KeyedUpsertSink.tableVersions(view).max
    MaterializedAggView.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        assert(MaterializedAggView.refresh(
          spark, base, view, keys, order, dims, aggs).contains((w0, w0 + 1)),
          "maintainer B must commit inside A's stall window")
      }
    }
    val err = try intercept[java.util.ConcurrentModificationException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    } finally MaterializedAggView.onBeforeCommit = () => ()
    assert(err.getMessage.contains("another maintainer advanced the view"),
      s"documented loser error, got: ${err.getMessage}")
    // one CAS won: B's commit is the only new view version, the
    // watermark is B's, the content the recompute
    assert(KeyedUpsertSink.tableVersions(view).max == v0 + 1)
    assert(MaterializedAggView.watermark(view).contains(w0 + 1))
    assert(viewRows(view) == recomputed(base))
    // A dropped its staged generation: every generation on disk is
    // referenced by the head, and the next refresh chains on
    val gens = Files.list(root.resolve("view")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen-")).toSet
    assert(gens == KeyedUpsertSink.readManifest(view).values
      .flatMap(KeyedUpsertSink.chainOf).toSet, s"unreferenced generations: $gens")
    sinkTo(base)(batchDf(("c", "z", 7L, 30L)), 2L)
    assert(MaterializedAggView.refresh(
      spark, base, view, keys, order, dims, aggs).contains((w0 + 1, w0 + 2)))
    assert(viewRows(view) == recomputed(base))
  }

  test("a stalled maintainer must not regress the watermark below a later commit (late-marker case)") {
    val root = Files.createTempDirectory("graft-mvr-late")
    val base = root.resolve("base").toString
    val view = root.resolve("view").toString
    sinkTo(base)(batchDf(("a", "x", 1L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val w0 = MaterializedAggView.watermark(view).get
    sinkTo(base)(batchDf(("b", "y", 2L, 20L)), 1L)
    // A stalls pre-commit; inside the window another base commit lands
    // and B refreshes PAST A's target head — A's late commit would sit
    // BELOW the head
    var fired = false
    MaterializedAggView.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        sinkTo(base)(batchDf(("c", "z", 3L, 30L)), 2L)
        assert(MaterializedAggView.refresh(
          spark, base, view, keys, order, dims, aggs).contains((w0, w0 + 2)))
      }
    }
    val err = try intercept[java.util.ConcurrentModificationException] {
      MaterializedAggView.refresh(spark, base, view, keys, order, dims, aggs)
    } finally MaterializedAggView.onBeforeCommit = () => ()
    assert(err.getMessage.contains("another maintainer advanced the view"))
    assert(MaterializedAggView.watermark(view).contains(w0 + 2),
      "the stalled maintainer's late advance must not move the watermark back")
    assert(viewRows(view) == recomputed(base))
  }

  test("two separate JVMs racing one view's maintenance keep it consistent") {
    val root = Files.createTempDirectory("graft-mvr-proc")
    val base = root.resolve("base").toString
    val view = root.resolve("view").toString
    val done = root.resolve("DONE").toString
    val out = root.resolve("child.log").toFile
    sinkTo(base)(batchDf(("a", "x", 1L, 10L), ("b", "y", 2L, 10L)), 0L)
    MaterializedAggView.bootstrap(spark, base, view, keys, order, dims, aggs)
    val w0 = MaterializedAggView.watermark(view).get

    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      System.getProperty("java.home") + "/bin/java") ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "-Dspark.ui.enabled=false",
      "graft.tools.MviewRacer", base, view, done)
    val child = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(out).start()

    // wait for the child to commit at least one refresh (it pays ~20 s
    // of Spark boot), so the race is real, then interleave our own
    // commits + refreshes against it
    val ownRanges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var ownLost = 0
    def tryRefresh(): Unit =
      try MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs).foreach(ownRanges += _)
      catch { case _: java.util.ConcurrentModificationException => ownLost += 1 }
    sinkTo(base)(batchDf(("a", "x", 10L, 20L), ("c", "z", 1L, 20L)), 1L)
    val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
    while (MaterializedAggView.watermark(view).contains(w0) &&
        System.nanoTime() < deadline && child.isAlive) {
      Thread.sleep(100)
      if (Files.readString(out.toPath).contains("idle")) tryRefresh()
    }
    assert(!MaterializedAggView.watermark(view).contains(w0) || ownRanges.nonEmpty,
      "no maintainer ever advanced — the race never happened")
    (2 to 6).foreach { i =>
      sinkTo(base)(batchDf(
        (s"k$i", if (i % 2 == 0) "x" else "y", i.toLong, 20L + i),
        ("a", "x", 100L + i, 20L + i)), i.toLong)
      tryRefresh()
    }
    Files.writeString(java.nio.file.Paths.get(done), "done")
    assert(child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
      "child driver did not finish in time")
    val log = Files.readString(out.toPath)
    assert(child.exitValue() == 0,
      s"child driver failed (exit ${child.exitValue()}):\n${log.takeRight(2000)}")
    assert(log.contains("MVRACER DONE"))
    // drain whatever the child left unapplied
    var guard = 0
    while (MaterializedAggView.watermark(view).get <
        KeyedUpsertSink.tableVersions(base).max && guard < 20) {
      tryRefresh(); guard += 1
    }
    // a reader holding the PREVIOUS version keeps reading it across ONE
    // advance (the documented one-version grace). Checked after the
    // child exits: with a concurrent maintainer a SECOND advance can
    // legitimately reclaim the grace version, so mid-race this check
    // would assert more than the contract promises.
    val reader = MaterializedAggView.read(spark, view)
    sinkTo(base)(batchDf(("b", "y", 50L, 99L)), 7L)
    tryRefresh()
    assert(reader.collect().nonEmpty, "grace version deleted under a reader")

    // the invariants the watermark CAS guarantees: every commit's TO is
    // unique, the watermark is the max committed TO and never regresses,
    // and every from is a previously-committed watermark
    val childRanges = raw"MVRACER ok from=(\d+) to=(\d+)".r
      .findAllMatchIn(log).map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    val all = (ownRanges ++ childRanges).sortBy(_._2)
    assert(all.nonEmpty)
    val tos = all.map(_._2)
    assert(tos.distinct.size == tos.size,
      s"a watermark version was committed twice — the CAS is broken: $all")
    assert(all.forall { case (f, t) => f < t }, s"regressing range: $all")
    val legalFroms = tos.toSet + w0
    assert(all.forall { case (f, _) => legalFroms.contains(f) },
      s"a refresh started from a never-committed watermark: $all")
    assert(MaterializedAggView.watermark(view).contains(tos.max),
      "watermark must be the max committed watermark")
    assert(tos.max == KeyedUpsertSink.tableVersions(base).max)
    // and the maintained content equals the from-scratch recompute
    assert(viewRows(view) == recomputed(base))
  }
}
