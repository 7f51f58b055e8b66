package graft

import java.nio.file.{Files, Path}

import graft.pipeline.EtlPipeline
import graft.sink.KeyedUpsertSink

/** Streaming-mode pipeline (SURVEY.md §7.2 M3): watched landing dir →
  * checkpointed foreachBatch keyed upsert into the versioned table,
  * exactly-once across restarts.
  */
class StreamingSpec extends SparkSpec {

  private val Headers = Seq("ID", "HouseNum", "Street", "Town", "Zip")
  private val DropA =
    "ID,HouseNum,Street,Town,Zip\n1,10,First St,Alpha,11111\n2,20,Second St,Beta,22222\n"
  private val DropB =
    "ID,HouseNum,Street,Town,Zip\n2,99,Updated St,Beta2,22299\n3,30,Third St,Gamma,33333\n"

  /** Land `csv` as `name`, then run the pipeline to quiescence. */
  private def drop(root: Path, name: String, csv: String): Unit = {
    Files.writeString(root.resolve("landing").resolve(name), csv)
    runPipeline(root)
  }

  private def runPipeline(root: Path): Unit =
    EtlPipeline.runStreaming(spark, root.resolve("landing").toString, Headers,
      root.resolve("table").toString, root.resolve("ckpt").toString)
      .awaitTermination()

  private def pipelineRoot(prefix: String): Path = {
    val root = Files.createTempDirectory(prefix)
    Files.createDirectory(root.resolve("landing"))
    root
  }

  test("streaming pipeline upserts CSV arrivals exactly-once across restarts") {
    val root = pipelineRoot("graft-stream")
    val table = root.resolve("table").toString
    drop(root, "a.csv", DropA)
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).count() == 2)

    // second file: one new id, one overwrite of id=2 (LWW)
    drop(root, "b.csv", DropB)
    val rows = KeyedUpsertSink.readBucketedDelta(spark, table)
    assert(rows.count() == 3)
    val r2 = rows.filter("id = '2'").collect().head
    assert(r2.getAs[String]("street_address") == "Updated St")

    // restart with NO new files: checkpoint prevents reprocessing
    runPipeline(root)
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).count() == 3)
  }

  test("a micro-batch replayed after its table commit leaves the table unchanged") {
    val root = pipelineRoot("graft-stream-replay")
    val table = root.resolve("table").toString
    drop(root, "a.csv", DropA)
    drop(root, "b.csv", DropB)
    val before = KeyedUpsertSink.readBucketedDelta(spark, table).collect().toSet
    val versionsBefore = KeyedUpsertSink.tableVersions(table).last
    // a crash after the table commit and before the checkpoint commit:
    // the last batch's commit-log entry (and its checksum) never landed
    val commits = root.resolve("ckpt").resolve("commits")
    Files.delete(commits.resolve("1"))
    Files.deleteIfExists(commits.resolve(".1.crc"))
    runPipeline(root)
    // the batch ran again and committed a duplicate delta …
    assert(KeyedUpsertSink.tableVersions(table).last == versionsBefore + 1)
    // … whose rows tie and resolve to the same table: the replay keeps
    // its batchTimestampMs from the offset log, so `time` does not move
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).collect().toSet == before)
    assert(before.size == 3)
  }

  test("a drop's commit writes only the drop: older chains stay prefixes") {
    val root = pipelineRoot("graft-stream-100tb")
    val table = root.resolve("table").toString
    drop(root, "bulk.csv", (1 to 2000)
      .map(i => s"$i,$i,Street $i,Town,11111")
      .mkString("ID,HouseNum,Street,Town,Zip\n", "\n", "\n"))
    val before = KeyedUpsertSink.readManifest(table)
    drop(root, "one.csv", "ID,HouseNum,Street,Town,Zip\n5000,1,Last St,Omega,99999\n")
    val after = KeyedUpsertSink.readManifest(table)
    before.foreach { case (b, chain) =>
      assert(KeyedUpsertSink.chainOf(after(b))
        .startsWith(KeyedUpsertSink.chainOf(chain)), s"bucket $b was rewritten")
    }
    val gens = (m: Map[Long, String]) => m.values.flatMap(KeyedUpsertSink.chainOf).toSet
    val added = gens(after) -- gens(before)
    assert(added.size == 1)
    assert(spark.read.parquet(s"$table/${added.head}").count() == 1)
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).count() == 2001)
  }

  test("the pipeline table has versions: time travel and the change feed read it") {
    import spark.implicits._
    val root = pipelineRoot("graft-stream-versions")
    val table = root.resolve("table").toString
    drop(root, "a.csv", DropA)
    val v1 = KeyedUpsertSink.tableVersions(table).last
    drop(root, "b.csv", DropB)
    val atV1 = spark.read.format("graft-table")
      .option("path", table).option("versionAsOf", v1).load()
    assert(atV1.count() == 2)
    assert(atV1.filter("id = '2'").select("street_address").as[String].head() ==
      "Second St")
    // id 2 existed at v1 (an update), id 3 did not (an insert)
    val feed = KeyedUpsertSink.readChangesBetween(spark, table, v1)
      .select("id", "street_address").as[(String, String)].collect().toMap
    assert(feed == Map("2" -> "Updated St", "3" -> "Third St"))
  }

  test("multicast: upsert and audit queries share one landing dir with independent progress") {
    val root = Files.createTempDirectory("graft-multicast")
    val landing = Files.createDirectory(root.resolve("landing"))
    val table = root.resolve("table").toString
    Files.writeString(landing.resolve("a.csv"), DropA)

    def runBoth(): Unit = {
      EtlPipeline.runStreaming(spark, landing.toString, Headers,
        table, root.resolve("ckpt-upsert").toString)
        .awaitTermination()
      EtlPipeline.auditStreaming(spark, landing.toString, Headers,
        root.resolve("audit").toString, root.resolve("ckpt-audit").toString)
        .awaitTermination()
    }
    runBoth()
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).count() == 2)
    assert(spark.read.parquet(root.resolve("audit").toString).count() == 2)

    // a new arrival is seen exactly once by EACH query (separate checkpoints)
    Files.writeString(landing.resolve("b.csv"),
      "ID,HouseNum,Street,Town,Zip\n3,30,Third St,Gamma,33333\n")
    runBoth()
    assert(KeyedUpsertSink.readBucketedDelta(spark, table).count() == 3)
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

  test("streaming curation: gates run unchanged on a document stream into the bucketed sink") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    import graft.pipeline.Curation
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
