package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.KeyedUpsertSink

/** Streaming twin of [[TextAnalysis.removeBoilerplateParagraphs]] — the
  * last batch-only text operator, now maintainable over a continuously
  * ingested corpus under the engine's finalize-on-read discipline
  * (StreamingCuration.corpusView / StreamingDedup.clustersView):
  *
  *  - each micro-batch EXPLODES its documents' paragraphs once and
  *    upserts (doc_id, paragraph-hash, in-doc count) rows into a
  *    bucketed LWW state table. Keying by (doc_id, ph) — not by ph
  *    alone — is what makes at-least-once redelivery a no-op: a
  *    replayed document overwrites ITS OWN rows with identical values,
  *    where a bare additive count would double. State is hashes and
  *    counts only; document text never enters the state or the shuffle.
  *  - the corpus paragraph frequency is a GLOBAL property (a paragraph
  *    crossing `maxFreq` retroactively reclassifies every earlier
  *    document containing it), so the stripped corpus cannot stream
  *    incrementally without retraction — [[strippedView]] derives it on
  *    read: sum the maintained counts per hash, gate at `maxFreq`,
  *    broadcast the (by-construction tiny) frequent set, and run the
  *    SAME map-side rebuild as the batch operator
  *    ([[TextAnalysis.stripParagraphs]]). Streamed == batch is then a
  *    consequence of count additivity over the delivered union, pinned
  *    by StreamingBoilerplateSpec over redelivered waves.
  *
  * Redelivery contract: replays carry the SAME text per doc_id (the
  * at-least-once case). An upstream that REVISES documents should route
  * through the curation pipeline's LWW document state first — a revision
  * can retire paragraphs, and this state's (doc_id, ph) rows for them
  * would go stale.
  *
  * Scale shape per trigger: O(batch paragraphs) map-side hashing, one
  * partial-agged shuffle of compact (doc_id, md5) pairs, and an
  * O(batch) delta commit to the state table (chains folded past the
  * sink's `compactAfter`) — never O(corpus).
  */
object StreamingBoilerplate {

  /** Start paragraph-count maintenance over a stream of documents
    * (`doc_id`, `text`).
    */
  def start(
      docs: DataFrame,
      stateDir: String,
      ckptDir: String,
      sep: String = "\n\n",
      numBuckets: Int = 16): StreamingQuery = {
    val spark = docs.sparkSession
    docs.select("doc_id", "text").writeStream
      .foreachBatch(mergeBatch(spark, stateDir, sep, numBuckets) _)
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  private[graft] def mergeBatch(spark: SparkSession, stateDir: String,
      sep: String, numBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    // a doc redelivered WITHIN one micro-batch must count once: the
    // groupBy below would double its paragraph counts, and the LWW
    // order Seq(n) keeps the inflated row forever (same guard as
    // StreamingDedup.mergeBatch; cross-batch redelivery is already a
    // no-op via the (doc_id, ph) keying)
    val counts = batch.dropDuplicates("doc_id")
      .select(col("doc_id"),
        explode(split(col("text"), java.util.regex.Pattern.quote(sep))).as("para"))
      .select(col("doc_id"), TextAnalysis.paraNormHash(col("para")).as("ph"))
      .groupBy("doc_id", "ph").agg(count(lit(1)).as("n"))
    KeyedUpsertSink.upsertBucketedDelta(spark, stateDir,
      CountKeys, CountOrder, numBuckets)(counts, batchId)
    ()
  }

  private val CountKeys = Seq("doc_id", "ph")
  private def CountOrder = Seq(col("n"))

  /** The maintained (doc_id, ph, n) count state as of the last trigger. */
  def counts(spark: SparkSession, stateDir: String): DataFrame =
    KeyedUpsertSink.readBucketedDelta(spark, stateDir, CountKeys, CountOrder)

  /** The boilerplate-stripped corpus under the maintained counts —
    * identical to [[TextAnalysis.removeBoilerplateParagraphs]] over the
    * union of all delivered documents. `docs` is the corpus to rebuild
    * (same parameter discipline as StreamingDedup.clustersView).
    */
  def strippedView(spark: SparkSession, stateDir: String, docs: DataFrame,
      maxFreq: Long = 20, sep: String = "\n\n"): DataFrame = {
    val freqSet = counts(spark, stateDir)
      .groupBy("ph").agg(sum("n").as("n"))
      .filter(col("n") > maxFreq)
      .agg(array_sort(collect_list(col("ph"))).as("bp"))
    TextAnalysis.stripParagraphs(docs, freqSet, sep)
  }
}
