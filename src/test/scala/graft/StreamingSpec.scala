package graft

import java.nio.file.Files

import graft.pipeline.EtlPipeline

/** Streaming-mode pipeline (SURVEY.md §7.2 M3): watched landing dir →
  * checkpointed foreachBatch keyed upsert, exactly-once across restarts.
  */
class StreamingSpec extends SparkSpec {

  test("streaming pipeline upserts CSV arrivals exactly-once across restarts") {
    val root = Files.createTempDirectory("graft-stream")
    val landing = Files.createDirectory(root.resolve("landing"))
    val table = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val headers = Seq("ID", "HouseNum", "Street", "Town", "Zip")

    Files.writeString(landing.resolve("a.csv"),
      "ID,HouseNum,Street,Town,Zip\n1,10,First St,Alpha,11111\n2,20,Second St,Beta,22222\n")
    val q1 = EtlPipeline.runStreaming(
      spark, landing.toString, headers, table, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(table).count() == 2)

    // second file: one new id, one overwrite of id=2 (LWW)
    Files.writeString(landing.resolve("b.csv"),
      "ID,HouseNum,Street,Town,Zip\n2,99,Updated St,Beta2,22299\n3,30,Third St,Gamma,33333\n")
    val q2 = EtlPipeline.runStreaming(
      spark, landing.toString, headers, table, ckpt)
    q2.awaitTermination()
    val rows = spark.read.parquet(table)
    assert(rows.count() == 3)
    val r2 = rows.filter("id = '2'").collect().head
    assert(r2.getAs[String]("street_address") == "Updated St")

    // restart with NO new files: checkpoint prevents reprocessing
    val q3 = EtlPipeline.runStreaming(
      spark, landing.toString, headers, table, ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(table).count() == 3)
  }

  test("multicast: upsert and audit queries share one landing dir with independent progress") {
    val root = Files.createTempDirectory("graft-multicast")
    val landing = Files.createDirectory(root.resolve("landing"))
    val headers = Seq("ID", "HouseNum", "Street", "Town", "Zip")
    Files.writeString(landing.resolve("a.csv"),
      "ID,HouseNum,Street,Town,Zip\n1,10,First St,Alpha,11111\n2,20,Second St,Beta,22222\n")

    def runBoth(): Unit = {
      EtlPipeline.runStreaming(spark, landing.toString, headers,
        root.resolve("table").toString, root.resolve("ckpt-upsert").toString)
        .awaitTermination()
      EtlPipeline.auditStreaming(spark, landing.toString, headers,
        root.resolve("audit").toString, root.resolve("ckpt-audit").toString)
        .awaitTermination()
    }
    runBoth()
    assert(spark.read.parquet(root.resolve("table").toString).count() == 2)
    assert(spark.read.parquet(root.resolve("audit").toString).count() == 2)

    // a new arrival is seen exactly once by EACH query (separate checkpoints)
    Files.writeString(landing.resolve("b.csv"),
      "ID,HouseNum,Street,Town,Zip\n3,30,Third St,Gamma,33333\n")
    runBoth()
    assert(spark.read.parquet(root.resolve("table").toString).count() == 3)
    assert(spark.read.parquet(root.resolve("audit").toString).count() == 3)
  }

  test("dynamic per-file headers: heterogeneous CSVs flow through one stream") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, try_element_at, lit}
    val root = Files.createTempDirectory("graft-dynhdr")
    val landing = Files.createDirectory(root.resolve("landing"))
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    // two files, two DIFFERENT header sets, one landing dir
    Files.writeString(landing.resolve("addr.csv"), "ID,Town\n1,Antrim\n2,Derry\n")
    Files.writeString(landing.resolve("parts.csv"), "SKU,Price,Color\nX1,9.99,red\n")

    def run(): Unit = graft.ingest.CsvExtract.streamDynamicHeaders(
      spark, landing.toString, ckpt,
      (events, _) => events.write.mode("append").parquet(out)).awaitTermination()

    run()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3)
    // each event carries ITS OWN file's header row (main.py:33 semantics)
    val addr = rows.filter(try_element_at(col("detail.data"), lit("ID")) === "1")
      .select("detail.headers").collect()
    assert(addr.map(_.getSeq[String](0)).toSeq == Seq(Seq("ID", "Town")))
    val part = rows.filter(try_element_at(col("detail.data"), lit("SKU")) === "X1")
      .select("detail.data").collect()
    assert(part.map(_.getMap[String, String](0).toMap).toSeq ==
      Seq(Map("SKU" -> "X1", "Price" -> "9.99", "Color" -> "red")))

    // restart with no new files: checkpoint prevents reprocessing
    run()
    assert(spark.read.parquet(out).count() == 3)

    // a third header shape arrives later and still lands typed
    Files.writeString(landing.resolve("extra.csv"), "K\nv1\nv2\n")
    run()
    val after = spark.read.parquet(out)
    assert(after.count() == 5)
    assert(after.filter(try_element_at(col("detail.data"), lit("K")).isNotNull)
      .count() == 2)

    // a 0-byte upload (the partial-upload failure mode) must not wedge
    // the stream: unparseable files quarantine, siblings in the SAME
    // batch still land, and the next run stays healthy
    Files.writeString(landing.resolve("empty.csv"), "")
    Files.writeString(landing.resolve("good.csv"), "G\ng1\n")
    run()
    val healed = spark.read.parquet(out)
    assert(healed.count() == 6)
    assert(healed.filter(try_element_at(col("detail.data"), lit("G")) === "g1")
      .count() == 1)
    // and the stream keeps moving afterwards (checkpoint not poisoned)
    Files.writeString(landing.resolve("later.csv"), "L\nl1\n")
    run()
    assert(spark.read.parquet(out).count() == 7)
  }

  test("upsertBatch is idempotent under duplicate replay") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert").resolve("t").toString
    val batch = Seq(("1", "a", 1L), ("2", "b", 1L)).toDF("id", "v", "seq")
    val sink = graft.sink.KeyedUpsertSink
      .upsertBatch(spark, dir, Seq("id"), Seq(col("seq"))) _
    sink(batch, 0L)
    sink(batch, 0L) // at-least-once redelivery
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("upsertBatch self-heals a crash between the replace renames; empty batches are no-ops") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-upsert-crash").resolve("t").toString
    val sink = graft.sink.KeyedUpsertSink
      .upsertBatch(spark, dir, Seq("id"), Seq(col("seq"))) _
    sink(Seq.empty[(String, String, Long)].toDF("id", "v", "seq"), 0L)
    // empty FIRST batch: no marker-only table dir is left behind
    assert(!Files.exists(java.nio.file.Paths.get(dir)))
    sink(Seq(("1", "a", 1L), ("2", "b", 1L)).toDF("id", "v", "seq"), 1L)
    // simulate a writer killed between rename-aside and rename-in: the
    // table vanishes, the set-aside copy remains
    Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + ".old-simulated"))
    // the next batch restores the set-aside table BEFORE merging, so the
    // previously committed keys survive instead of silently vanishing
    sink(Seq(("3", "c", 1L)).toDF("id", "v", "seq"), 2L)
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    assert(t.select("id").as[String].collect().toSet == Set("1", "2", "3"))
  }

  test("streaming curation: gates run unchanged on a document stream into the bucketed sink") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    import graft.pipeline.Curation
    import graft.sink.KeyedUpsertSink
    val docs = Tables.documents(spark, Sf0001)
    val root = Files.createTempDirectory("graft-stream-curation")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val table = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    // two arrival waves
    docs.filter(col("doc_id") % 2 === 0).write.parquet(landing + "/w0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(landing + "/w1")
    val stream = spark.readStream.schema(docs.schema)
      .option("recursiveFileLookup", "true").parquet(landing)
    val gated = Curation.gates(stream, col("doc_id") % 37 === 0)
    val q = gated.writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) => {
        KeyedUpsertSink.upsertBucketedDelta(
          spark, table, Seq("doc_id"), Seq(col("doc_id")), 8)(df, id); ()
      })
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = KeyedUpsertSink.readBucketedDelta(spark, table)
      .select("doc_id").as[Long].collect().toSet
    val want = Curation.gates(docs, col("doc_id") % 37 === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming chunking: context windows emit per-arrival, equal to the batch result") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    import graft.text.TextAnalysis
    val docs = Tables.documents(spark, Sf0001)
    val root = Files.createTempDirectory("graft-stream-chunk")
    val landing = Files.createDirectory(root.resolve("landing")).toString
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    docs.filter(col("doc_id") % 2 === 0).write.parquet(landing + "/w0")
    docs.filter(col("doc_id") % 2 === 1).write.parquet(landing + "/w1")
    val stream = spark.readStream.schema(docs.schema)
      .option("recursiveFileLookup", "true").parquet(landing)
    // chunking is row-local (no shuffle, no state) so the SAME operator
    // runs on a stream untouched — continuous-ingestion chunking needs
    // no second implementation
    val q = TextAnalysis.chunkDocuments(stream).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select("doc_id", "chunk_id", "chunk_len")
      .as[(Long, Long, Long)].collect().toSet
    val want = TextAnalysis.chunkDocuments(docs)
      .select("doc_id", "chunk_id", "chunk_len")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("the bucketed commit merges LWW and appends only to the touched buckets' chains") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.sink.KeyedUpsertSink
    val root = Files.createTempDirectory("graft-upsert-b")
    val dir = root.resolve("t").toString
    val nb = 8
    val sink = KeyedUpsertSink.upsertBucketedDelta(spark, dir, Seq("id"), Seq(col("seq")), nb) _
    // seed: 100 keys spread across buckets
    val seed = (1 to 100).map(i => (i.toString, "old", 1L)).toDF("id", "v", "seq")
    val seedGen = sink(seed, 0L).get.gen
    val before = KeyedUpsertSink.readManifest(dir)
    assert(before.size == nb && before.values.forall(_ == seedGen))
    // second batch: update one key, insert one — touches at most 2 buckets
    val b2 = Seq(("1", "new", 2L), ("999", "ins", 1L)).toDF("id", "v", "seq")
    val gen2 = sink(b2, 1L).get.gen
    val touched = b2.select(KeyedUpsertSink.bucketOf(Seq("id"), nb)).distinct()
      .collect().map(_.getLong(0)).toSet
    // only the touched buckets' chains grew, by exactly the new
    // generation; every other bucket still points at the seed alone
    val after = KeyedUpsertSink.readManifest(dir)
    before.foreach { case (b, chain) =>
      if (touched(b)) assert(after(b) == s"$chain;$gen2", s"touched bucket $b")
      else assert(after(b) == chain, s"untouched bucket $b was rewritten")
    }
    // LWW semantics survive the bucketed layout, and replay is a no-op
    sink(b2, 1L)
    val t = KeyedUpsertSink.readBucketedDelta(spark, dir, Seq("id"), Seq(col("seq")))
    assert(t.count() == 101)
    assert(t.filter(col("id") === "1").select("v").as[String].head() == "new")
  }
}
