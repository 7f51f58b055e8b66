package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.CsvExtract
import graft.route.Rules
import graft.sink.{AuditSink, KeyedUpsertSink}
import graft.xform.Transform

/** End-to-end wiring of the reference pipeline (SURVEY.md §3), Spark-first.
  *
  * The reference: S3 CSV upload → SQS → extract Lambda → Fargate splinter
  * task → EventBridge → transform Lambda → EventBridge → load Lambda →
  * DynamoDB, with an observe Lambda tapping every event. Five AWS
  * components; per-row network hops between each.
  *
  * Here: five composable Dataset transformations in one job. The event bus
  * is a plain Dataset hand-off in batch mode, a checkpointed stream in
  * streaming mode. Stage boundaries fuse into whole-stage codegen; the only
  * external crossing left is the terminal keyed upsert.
  */
object EtlPipeline {

  /** Stage 1-2: scan + splinter (entry point A, SURVEY.md §3.1). */
  def extractionEvents(spark: SparkSession, csvPath: String): DataFrame =
    CsvExtract.toEvents(CsvExtract.scan(spark, csvPath))

  /** Stage 3: routing + transform (entry point B, SURVEY.md §3.2). */
  def transformedEvents(extraction: DataFrame): DataFrame =
    Transform.transformStage(extraction.filter(Rules.transformRule))

  /** Stage 4: routing + reshape to the storage schema (entry point C). */
  def addressRows(transformed: DataFrame): DataFrame =
    Transform.toAddress(transformed.filter(Rules.loadRule))

  /** LWW ordering for the keyed table: event time first, then a content
    * hash as a DETERMINISTIC intra-batch tie-break. `CsvExtract.toEvents`
    * stamps every row of one run with the same `current_timestamp()`
    * (query-constant in Spark), so duplicate ids inside a batch always
    * TIE on time — an un-tied row_number would then pick a survivor by
    * post-shuffle partition order, varying across runs. The reference
    * resolves such ties by file order (last PutItem wins); a distributed
    * scan has no stable file-order surrogate (FilePartition packing
    * reorders splits), so the engine promises determinism instead: the
    * same input rows pick the same survivor on any cluster, every run.
    */
  private def lwwOrder(valueCols: Seq[String]): Seq[Column] =
    Seq(col("time"),
      xxhash64(struct(valueCols.filterNot(_ == "time").map(col): _*)))

  /** Full batch replay: CSV file(s) → final keyed table (LWW by id). */
  def runBatch(spark: SparkSession, csvPath: String): DataFrame = {
    val loaded = addressRows(transformedEvents(extractionEvents(spark, csvPath)))
    KeyedUpsertSink
      .latestByKey(loaded, Seq("id"), lwwOrder(loaded.columns.toSeq))
      .drop("time")
  }

  /** The observe channel for a batch run: all stage events, tagged+unioned
    * (multicast — each stage's events ALSO match the observe rule,
    * SURVEY.md §2.2).
    */
  def auditBatch(spark: SparkSession, csvPath: String): DataFrame = {
    val extraction  = extractionEvents(spark, csvPath)
    val transformed = transformedEvents(extraction)
    AuditSink.tap(Map(
      "extract"   -> extraction.filter(Rules.observeRule),
      "transform" -> transformed.filter(Rules.observeRule)))
  }

  /** The streaming observe channel (K3) as an INDEPENDENT query over the
    * same landing directory — multicast routing (SURVEY.md §2.2, hard
    * part §7.4.3): N EventBridge rules on one bus become N streaming
    * queries sharing one source, each with its own checkpoint and
    * therefore its own progress. Writes the stage-tagged audit log to a
    * parquet table.
    */
  def auditStreaming(
      spark: SparkSession,
      landingDir: String,
      headers: Seq[String],
      auditPath: String,
      checkpointDir: String): StreamingQuery = {
    val events = CsvExtract.toEvents(
      CsvExtract.stream(spark, landingDir, headers))
    events.filter(Rules.observeRule)
      .select(lit("extract").as("stage"),
        col("source"), col("detailType"), col("time"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", auditPath)
      .start()
  }

  /** Streaming mode (SURVEY.md §7.2 M3): the same pipeline over a watched
    * landing directory, exactly-once into the versioned keyed table via
    * checkpointed foreachBatch — an upgrade over the reference's
    * at-least-once delivery (SURVEY.md §1.4). Each micro-batch commits
    * one delta generation through [[KeyedUpsertSink.upsertBucketedDelta]],
    * so a drop writes only its own rows; the table records its key/order
    * spec, and [[KeyedUpsertSink.readBucketedDelta]], `versionAsOf` and
    * the change feed read it without restating either.
    */
  def runStreaming(
      spark: SparkSession,
      landingDir: String,
      headers: Seq[String],
      tablePath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val rows    = CsvExtract.stream(spark, landingDir, headers, maxFilesPerTrigger)
    val loaded  = addressRows(transformedEvents(CsvExtract.toEvents(rows)))
    // same deterministic tie-break as runBatch: within one micro-batch
    // all rows share the current_timestamp() stamp; ACROSS batches a tie
    // goes to the later commit on the chain
    val upsert = KeyedUpsertSink.upsertBucketedDelta(spark, tablePath,
      Seq("id"), lwwOrder(loaded.columns.toSeq)) _
    loaded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsert(batch, batchId); ()
      }
      .start()
  }
}
