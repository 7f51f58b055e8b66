package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** Plan + shuffle-byte micro-probe for
  * [[KeyedUpsertSink.readBucketedDeltaMatching]]: is the candidate-key
  * semi-join a broadcast (only matching rows shuffle into the LWW
  * window) or a sort-merge (the whole table shuffles — the regression
  * the adaptive route exists to avoid)?
  *
  * Usage: runMain graft.tools.MatchReadProbe <sfDir> [scale]
  */
object MatchReadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scale = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val ev = ProbeCorpus.scaledEvents(spark, sfDir, scale)
      .withColumn("event_type",
        concat(lit("h"), floor(col("v") / 3600000L).cast("long")))
    val root = Files.createTempDirectory("graft-matchread")
    val base = root.resolve("t").toString
    val keys = Seq("event_id")
    val order = Seq(col("ts_us"))
    KeyedUpsertSink.upsertBucketedDelta(
      spark, base, keys, order, numBuckets = 16, compactAfter = 0)(ev, 0L)
    // one trickle so the table carries a real chain (the window matters)
    KeyedUpsertSink.upsertBucketedDelta(
      spark, base, keys, order, numBuckets = 16, compactAfter = 0)(
      ev.limit(500), 1L)
    import spark.implicits._
    val matchDf = Seq("h3").toDF("event_type")
    io.reset()
    val t0 = System.nanoTime()
    val out = KeyedUpsertSink.readBucketedDeltaMatching(
      spark, base, keys, order, matchDf, Seq("event_type"))
    // collect() drives THIS DataFrame's QueryExecution to its final
    // adaptive plan — count() would plan a different QueryExecution and
    // leave out.queryExecution at isFinalPlan=false (the memory-file /
    // PlanRegressionSpec gotcha)
    val n = out.collect().length
    val wall = (System.nanoTime() - t0) / 1e9
    val (in, sh) = io.snapshot()
    val plan = out.queryExecution.executedPlan.toString
    val joins = plan.linesIterator.filter(l =>
      l.contains("Join") || l.contains("Exchange")).map(_.trim.take(110)).toSeq
    println(s"[match-read] rows=$n wall=${f"$wall%.1f"}s " +
      s"input=${in >> 20}MB shuffle=${sh >> 20}MB")
    joins.foreach(l => println(s"[match-read]   $l"))
    io.reset()
    val t1 = System.nanoTime()
    val full = KeyedUpsertSink.readBucketedDelta(spark, base, keys, order)
      .filter(col("event_type") === "h3")
    val n2 = full.count()
    val wall2 = (System.nanoTime() - t1) / 1e9
    val (in2, sh2) = io.snapshot()
    println(s"[match-read] FULL-WINDOW baseline rows=$n2 " +
      s"wall=${f"$wall2%.1f"}s input=${in2 >> 20}MB shuffle=${sh2 >> 20}MB")
    spark.stop()
  }
}
