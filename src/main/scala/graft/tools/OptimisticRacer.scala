package graft.tools

import org.apache.spark.sql.functions._

import graft.sink.KeyedUpsertSink

/** Second-DRIVER half of the multi-process commit race
  * (MultiProcessRaceSpec forks this main in its own JVM): the whole
  * point of the versioned-manifest protocol is that two *drivers* — no
  * shared JVM monitor, no shared SparkContext, only the filesystem's
  * `link(2)` put-if-absent — can commit one table without losing rows.
  *
  * Each batch writes this writer's own keys (disjoint from the other
  * writer's) plus the "shared" key (guaranteed overlap: a lost race
  * re-appends to the fresh head's chains). Exit 0 iff every batch
  * committed.
  *
  * args: tablePath writerId nBatches numBuckets
  */
object OptimisticRacer {
  def main(args: Array[String]): Unit = {
    val Array(tablePath, writerIdS, nBatchesS, numBucketsS) = args
    val writerId = writerIdS.toInt
    val nBatches = nBatchesS.toInt
    val spark = graft.Config.session(2)
    import spark.implicits._
    try {
      val sink = KeyedUpsertSink.upsertBucketedDelta(
        spark, tablePath, Seq("k"), Seq(col("ts")),
        numBuckets = numBucketsS.toInt, maxAttempts = 60) _
      (0 until nBatches).foreach { i =>
        val batch = Seq(
          (s"w$writerId-$i", writerId.toLong, 100L + i),
          // the shared key: ts encodes (batch, writer) so the expected
          // LWW winner is deterministic — the last batch of writer 2
          ("shared", writerId.toLong * 1000 + i, i.toLong * 10 + writerId))
          .toDF("k", "v", "ts")
        val st = sink(batch, i.toLong)
          .getOrElse(sys.error(s"writer $writerId batch $i did not commit"))
        // one line per commit so the spec can assert both drivers really
        // interleaved (distinct versions, monotone per writer)
        println(s"RACER $writerId COMMIT batch=$i version=${st.version} " +
          s"retries=${st.commitRetries}")
      }
      println(s"RACER $writerId DONE")
    } finally spark.stop()
  }
}
