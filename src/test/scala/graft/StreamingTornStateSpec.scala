package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, StreamingDedup}
import graft.pipeline.{Curation, StreamingCuration}

/** Torn-write recovery. The StreamingDedup band state rewrites touched
  * partitions IN PLACE, so a writer dying mid-batch leaves some
  * partitions at the new generation and some at the old; the
  * StreamingCuration survivor state commits through the keyed table's
  * delta protocol, where a writer dying mid-stage leaves part of an
  * unpublished generation on disk. The streaming checkpoint then
  * REPLAYS the batch — and because both merges are monotone set-unions
  * with deterministic winners (min doc_id per fingerprint; identity
  * rows per (band,bucket,doc_id)), replaying over a torn state must
  * converge to exactly the clean run's result. This spec manufactures
  * the torn state deliberately: snapshot state before a wave, apply the
  * wave, roll HALF of it back to the snapshot, replay the wave, compare
  * against an untorn run.
  */
class StreamingTornStateSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf0001)
  private val isBench = col("doc_id") % 37 === 0
  private lazy val benchmark = docs.filter(isBench)

  private def copyDir(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  private def deleteDir(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Roll back every even-numbered `prefix=N` partition dir of `state`
    * to its `snapshot` version (missing in snapshot → partition removed)
    * — the torn outcome: odd partitions hold the new write, even ones
    * the old.
    */
  private def tear(state: Path, snapshot: Path, prefix: String): Int = {
    var torn = 0
    val s = Files.list(state)
    try s.forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(prefix + "=") &&
          name.stripPrefix(prefix + "=").toLong % 2 == 0) {
        deleteDir(p)
        val old = snapshot.resolve(name)
        if (Files.exists(old)) copyDir(old, p)
        torn += 1
      }
    } finally s.close()
    torn
  }

  /** Un-publish the commit a wave made on a delta-protocol table and
    * tear the generation it staged — the outcome of a writer dying
    * mid-stage: no version file past the snapshot's, and each parquet
    * file of the new generation (one per write task) cut to half its
    * length. Returns the files torn.
    */
  private def tearCommit(state: Path, snapshot: Path): Int = {
    var torn = 0
    val s = Files.list(state)
    try s.forEach { p =>
      val name = p.getFileName.toString
      if (!Files.exists(snapshot.resolve(name))) {
        if (name.startsWith("_manifest.v")) Files.delete(p)
        else if (name.startsWith("gen-")) {
          val b = Files.list(p)
          try b.forEach { q =>
            if (q.getFileName.toString.endsWith(".parquet")) {
              val ch = java.nio.channels.FileChannel.open(q,
                java.nio.file.StandardOpenOption.WRITE)
              try ch.truncate(ch.size() / 2) finally ch.close()
              torn += 1
            }
          } finally b.close()
        }
      }
    } finally s.close()
    torn
  }

  test("StreamingDedup: batch replay over a torn state converges to the clean result") {
    val w0 = docs.filter(col("doc_id") % 2 === 0)
    val w1 = docs.filter(col("doc_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-torn-dedup")
    val state = root.resolve("state"); val pairsDir = root.resolve("pairs")
    val merge = StreamingDedup.mergeBatch(spark, state.toString,
      pairsDir.toString, 2, 64, 16, 0.7, 8) _
    merge(w0, 0L)
    // snapshot, apply wave 1, then tear half the partitions back
    val snap = root.resolve("snap"); copyDir(state, snap)
    merge(w1, 1L)
    assert(tear(state, snap, "__bkt") > 0, "no partitions torn — vacuous")
    // checkpoint replay of the SAME batch over the torn state
    merge(w1, 1L)
    val got = StreamingDedup.pairs(spark, pairsDir.toString).collect()
      .map(r => (r.getAs[Long]("doc_id_a"), r.getAs[Long]("doc_id_b"))).toSet
    val want = Dedup.minhashNearDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // state itself healed: one row per (band,bucket,doc_id) over the union
    val st = spark.read.parquet(state.toString)
    assert(st.count() ==
      st.select("band", "bucket", "doc_id").distinct().count())
    assert(st.select("doc_id").distinct().count() == docs.count())
  }

  test("StreamingCuration: batch replay over a torn survivor state converges") {
    val w0 = docs.filter(col("doc_id") % 2 === 0)
    val w1 = docs.filter(col("doc_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-torn-cur")
    val state = root.resolve("state")
    def gated(w: org.apache.spark.sql.DataFrame) =
      Curation.gates(w, isBench)
    val merge = StreamingCuration.mergeBatch(spark,
      graft.dedup.Dedup.benchmarkNgramIndex(benchmark),
      state.toString, 40L, 8) _
    merge(gated(w0), 0L)
    val snap = root.resolve("snap"); copyDir(state, snap)
    val before = StreamingCuration.corpusView(spark, state.toString).collect().toSet
    merge(gated(w1), 1L)
    assert(tearCommit(state, snap) > 0, "no generation file torn — vacuous")
    // the half-staged, unpublished wave is invisible
    assert(StreamingCuration.corpusView(spark, state.toString).collect().toSet == before)
    merge(gated(w1), 1L)
    val got = StreamingCuration.corpusView(spark, state.toString).collect().toSet
    val want = Curation.curate(docs, isBench, minShared = 40L).collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
