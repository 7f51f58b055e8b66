package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, StreamingCuration}

/** Streamed-equals-batch for the COMPOSED curation pipeline: the
  * incremental corpus view after any sequence of arrival waves must be
  * row-identical to [[Curation.curate]] over the union — regardless of
  * wave order, wave partitioning, or at-least-once redelivery.
  */
class StreamingCurationSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf0001)
  private val isBench = col("doc_id") % 37 === 0
  private lazy val benchmark = docs.filter(isBench)
  private val MinShared = 40L

  private lazy val batchWant: Set[org.apache.spark.sql.Row] =
    Curation.curate(docs, isBench, minShared = MinShared).collect().toSet

  /** Feed the given waves (in order) through the streaming pipeline into
    * a fresh state dir, one AvailableNow run per wave, and return the
    * final corpus view.
    */
  private def runWaves(tag: String, waves: Seq[DataFrame]): DataFrame = {
    val root = Files.createTempDirectory(s"graft-scur-$tag")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.write.parquet(s"$landing/w$i")
      val stream = spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(landing)
      StreamingCuration.start(stream, benchmark, isBench, state, ckpt,
        minShared = MinShared, numBuckets = 8).awaitTermination()
    }
    StreamingCuration.corpusView(spark, state)
  }

  test("incremental corpus view equals the batch pipeline over the union") {
    val got = runWaves("fwd", Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))).collect().toSet
    assert(got == batchWant)
    assert(got.nonEmpty)
  }

  test("arrival order does not change the view (reversed waves)") {
    val got = runWaves("rev", Seq(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0))).collect().toSet
    assert(got == batchWant)
  }

  test("at-least-once redelivery and overlapping waves collapse in the merge") {
    // wave 2 redelivers every even doc alongside the odd half; wave 3 is
    // a full replay of wave 1
    val even = docs.filter(col("doc_id") % 2 === 0)
    val got = runWaves("redeliver", Seq(even, docs, even)).collect().toSet
    assert(got == batchWant)
  }

  test("a trigger killed between stage and commit leaves the previous trigger's view; its replay converges") {
    import graft.sink.KeyedUpsertSink
    val root = Files.createTempDirectory("graft-scur-crash")
    val state = root.resolve("state").toString
    val twin = root.resolve("twin").toString
    val index = graft.dedup.Dedup.benchmarkNgramIndex(benchmark).persist()
    def merge(dir: String)(wave: DataFrame, id: Long): Unit =
      StreamingCuration.mergeBatch(spark, index, dir, MinShared, 8)(
        Curation.gates(wave, isBench), id)
    def view = StreamingCuration.corpusView(spark, state).collect().toSet
    def gens(dir: String): Set[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("gen-")).toSet }
      finally s.close()
    }
    try {
      val odd = docs.filter(col("doc_id") % 2 === 1)
      merge(state)(docs.filter(col("doc_id") % 2 === 0), 0L)
      val afterFirst = view
      assert(afterFirst.nonEmpty)
      // trigger 1 is killed after staging: a delta stage depends on the
      // batch alone, so the generation it left is the one a twin store
      // stages for the same batch — moved in, never published
      merge(twin)(odd, 1L)
      val orphan = gens(twin).toSeq match {
        case Seq(g) => g
        case other => fail(s"twin staged $other")
      }
      Files.move(java.nio.file.Paths.get(twin, orphan),
        java.nio.file.Paths.get(state, orphan))
      assert(view == afterFirst, "an unpublished stage leaked into the view")
      // the stream replays trigger 1: the view is the batch pipeline's
      merge(state)(odd, 1L)
      assert(view == batchWant)
      assert(KeyedUpsertSink.vacuumGenerations(state, quiesceMs = 0L) == Seq(orphan))
      assert(view == batchWant)
    } finally index.unpersist()
  }

  test("benchmark index is built once across a multi-trigger run") {
    // count every evaluation of a benchmark text: the index build reads
    // each benchmark row exactly once, so a run with 3 triggers over a
    // PERSISTED index evaluates nBench texts total — a per-trigger
    // rebuild would evaluate ~3× that
    val acc = spark.sparkContext.longAccumulator("bench-text-evals")
    val countedText = udf { (s: String) => acc.add(1); s }
    val benchCounted = benchmark.withColumn("text", countedText(col("text")))
    val root = Files.createTempDirectory("graft-scur-once")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$landing/w0")
    docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$landing/w1")
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$landing/w2")
    val stream = spark.readStream.schema(docs.schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1") // 3 files → 3 micro-batches
      .parquet(landing)
    val q = StreamingCuration.start(stream, benchCounted, isBench, state,
      ckpt, minShared = MinShared, numBuckets = 8)
    q.awaitTermination()
    val progresses = q.recentProgress.filter(_.numInputRows > 0)
    assert(progresses.length >= 3, s"expected ≥3 triggers, saw ${progresses.length}")
    val nBench = benchmark.count()
    assert(acc.value == nBench,
      s"benchmark texts evaluated ${acc.value} times for $nBench rows — index rebuilt per trigger?")
    // and the multi-trigger run still converges to the batch view
    assert(StreamingCuration.corpusView(spark, state).collect().toSet == batchWant)
  }

  test("index cache is released after termination even with no data to trigger on") {
    // an AvailableNow query over an empty landing dir can terminate
    // before the cleanup listener registers; the post-registration
    // isActive probe must release the persisted index anyway
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val root = Files.createTempDirectory("graft-scur-empty")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("recursiveFileLookup", "true").parquet(landing)
    StreamingCuration.start(stream, benchmark, isBench, state, ckpt,
      minShared = MinShared, numBuckets = 8).awaitTermination()
    // the terminated-event path is async (listener bus): poll briefly
    val deadline = System.currentTimeMillis() + 15000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty,
      s"benchmark index cache leaked after query termination: rdd ids $leaked")
  }

  test("state stays bounded: survivor rows only, no text column") {
    val root = Files.createTempDirectory("graft-scur-state")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    docs.write.parquet(s"$landing/w0")
    val stream = spark.readStream.schema(docs.schema)
      .option("recursiveFileLookup", "true").parquet(landing)
    StreamingCuration.start(stream, benchmark, isBench, state, ckpt,
      minShared = MinShared, numBuckets = 8).awaitTermination()
    // the self-describing read: the state table's stored key/order spec
    val st = graft.sink.KeyedUpsertSink.readBucketedDelta(spark, state)
    // one row per surviving fingerprint — not per arrival
    assert(st.count() == st.select("fp").distinct().count())
    assert(!st.columns.contains("text"))
    // flags present and the clean subset matches the batch survivor count
    val batchSurvivors = batchWant.size
    assert(st.filter(!col("contaminated")).count() == batchSurvivors)
  }

  test("the streamed pipeline gates with the same FROZEN trained model as the batch twin") {
    import graft.text.TextAnalysis
    // train once on the full corpus, freeze — both twins gate with it
    val w = TextAnalysis.trainClassifierWeights(docs)
    val gate = TextAnalysis.frozenClassifierGate(w)
    val want = Curation.curate(docs, isBench, minShared = MinShared,
      extraGate = gate).collect().toSet
    assert(want.nonEmpty && want.size < batchWant.size,
      "the trained gate must actually cut (and not empty) the corpus")
    val root = Files.createTempDirectory("graft-scur-trained")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val state = root.resolve("state").toString
    val ckpt = root.resolve("ckpt").toString
    Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)).zipWithIndex.foreach {
      case (wv, i) =>
        wv.write.parquet(s"$landing/w$i")
        val stream = spark.readStream.schema(docs.schema)
          .option("recursiveFileLookup", "true").parquet(landing)
        StreamingCuration.start(stream, benchmark, isBench, state, ckpt,
          minShared = MinShared, numBuckets = 8, extraGate = gate)
          .awaitTermination()
    }
    val got = StreamingCuration.corpusView(spark, state).collect().toSet
    assert(got == want,
      "streamed curation under the frozen model must equal the batch twin")
    graft.Staging.unpin(w)
  }
}
