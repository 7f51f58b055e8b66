package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** TWO DRIVERS, not two threads: the optimistic protocol's whole claim
  * is that separate JVMs — no shared monitor, no shared SparkContext,
  * only `link(2)` put-if-absent on a shared directory — can commit one
  * table without lost rows. This spec forks a second Spark driver
  * ([[graft.tools.OptimisticRacer]]) and races it against in-process
  * commits of the SAME table: every row from both drivers must survive,
  * the version chain must be contiguous (each version published exactly
  * once), and both drivers' generations must appear in the final
  * manifest chain's history.
  */
class MultiProcessRaceSpec extends SparkSpec {
  import spark.implicits._

  private val nBatches = 4
  private val numBuckets = 2 // tiny bucket space: overlap is guaranteed

  test("two separate JVMs racing one optimistic table lose nothing") {
    val root = Files.createTempDirectory("graft-mproc-race")
    val tbl = root.resolve("t").toString
    val out = root.resolve("child.log").toFile

    // child JVM: writer 2. Same classpath as this (forked) test JVM;
    // Spark 4 on JDK 17 needs the add-opens set spark-submit injects.
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
      "graft.tools.OptimisticRacer", tbl, "2", nBatches.toString,
      numBuckets.toString)
    val child = new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true).redirectOutput(out).start()

    // writer 1: in-process commits racing the child's whole lifetime.
    // The child pays ~20 s of Spark boot before its first commit; without
    // a handshake writer 1 would finish first and the "race" would be a
    // serial schedule. So: commit batch 0, then WAIT until the chain has
    // advanced past our own commit (the child is live and committing),
    // then interleave the remaining batches against it.
    val sink = KeyedUpsertSink.upsertBucketedDelta(
      spark, tbl, Seq("k"), Seq(col("ts")), numBuckets, maxAttempts = 60) _
    def commit(i: Int): Unit =
      sink(Seq(
        (s"w1-$i", 1L, 100L + i),
        ("shared", 1000L + i, i.toLong * 10 + 1)).toDF("k", "v", "ts"), i.toLong)
        .getOrElse(fail(s"writer 1 batch $i did not commit"))
    commit(0)
    val ownHead = KeyedUpsertSink.tableVersions(tbl).max
    val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
    while (KeyedUpsertSink.tableVersions(tbl).max == ownHead &&
        System.nanoTime() < deadline && child.isAlive)
      Thread.sleep(200)
    assert(KeyedUpsertSink.tableVersions(tbl).max > ownHead,
      "child driver never committed — the race never happened")
    (1 until nBatches).foreach(commit)

    assert(child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES),
      "child driver did not finish in time")
    val log = Files.readString(out.toPath)
    assert(child.exitValue() == 0,
      s"child driver failed (exit ${child.exitValue()}):\n${log.takeRight(2000)}")
    assert(log.contains("RACER 2 DONE"))

    // no lost rows: every key from BOTH drivers, with its latest value
    val got = KeyedUpsertSink.readBucketedDelta(spark, tbl, Seq("k"), Seq(col("ts")))
      .select("k", "v", "ts").as[(String, Long, Long)].collect().toSet
    val wantOwn = (0 until nBatches).flatMap(i => Seq(
      (s"w1-$i", 1L, 100L + i), (s"w2-$i", 2L, 100L + i))).toSet
    // shared key: max ts = (nBatches-1)*10 + 2 — writer 2's last batch
    val wantShared = ("shared", 2000L + (nBatches - 1), (nBatches - 1).toLong * 10 + 2)
    assert(got == wantOwn + wantShared,
      s"lost or corrupted rows; got ${got.size} rows")

    // version chain: contiguous 1..max — putIfAbsent published each
    // version exactly once, no gaps, no writer stomped another's commit
    val versions = KeyedUpsertSink.tableVersions(tbl)
    assert(versions == (1L to versions.max).toSeq,
      s"version chain not contiguous: $versions")
    assert(versions.max == 2L * nBatches,
      "every batch of both drivers must have its own version")

    // both drivers' commits interleaved through the SAME chain: the
    // child's per-commit log lines carry its versions; they must be
    // distinct from and interleaved with writer 1's (which we can't
    // observe directly, but contiguity + count above pins the union)
    val childVersions = raw"version=(\d+)".r
      .findAllMatchIn(log).map(_.group(1).toLong).toSeq
    assert(childVersions.size == nBatches)
    assert(childVersions == childVersions.sorted,
      "a single writer's committed versions must be monotone")
  }
}
