package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.dedup.StreamingDedup
import graft.pipeline.{Curation, StreamingCuration}

/** Plan guards for the streaming state tables: the per-trigger
  * touched-partition claim is only real if the partition filter reaches
  * the state SCAN — a filter evaluated after a full read would be
  * silently O(state) per trigger. Mirrors PartitionedSinkSpec's
  * discipline for the new state layouts.
  */
class StreamingStatePlanSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf0001)

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get

  /** Files the scan ACTUALLY touched (post-partition-pruning): execute,
    * then read the scan node's numFiles metric — `inputFiles` lists the
    * whole table regardless of pruning and cannot see the difference.
    */
  private def filesTouched(df: org.apache.spark.sql.DataFrame): Long = {
    val scan = scanOf(df)
    df.collect()
    scan.metrics("numFiles").value
  }

  test("dedup signature-state read prunes __bkt partitions at the scan") {
    val root = Files.createTempDirectory("graft-plan-dedup")
    val state = root.resolve("state").toString
    StreamingDedup.mergeBatch(spark, state,
      root.resolve("pairs").toString, 2, 64, 16, 0.7, 8)(docs, 0L)
    // the exact read shape mergeBatch issues for a later batch touching
    // a subset of partitions
    val slice = spark.read.parquet(state).filter(col("__bkt").isin(0L, 1L))
    val scan = scanOf(slice)
    assert(scan.metadata("PartitionFilters").contains("__bkt"),
      s"partition filter must reach the scan: ${scan.metadata("PartitionFilters")}")
    assert(filesTouched(slice) < filesTouched(spark.read.parquet(state)),
      "pruned slice must read fewer files than the full state")
  }

  test("curation survivor-state read prunes __bucket partitions at the scan") {
    import scala.jdk.CollectionConverters._
    import graft.sink.KeyedUpsertSink
    val root = Files.createTempDirectory("graft-plan-cur")
    val state = root.resolve("state").toString
    val gated = Curation.gates(docs, col("doc_id") % 37 === 0)
    val merge = StreamingCuration.mergeBatch(spark,
      graft.dedup.Dedup.benchmarkNgramIndex(docs.filter(col("doc_id") % 37 === 0)),
      state, 40L, 8) _
    merge(gated, 0L)
    merge(gated.orderBy("doc_id").limit(2), 1L) // touches at most 2 buckets
    // the survivor state is a keyed table: a generation is one file per
    // write task with `__bucket` stored, so the read of a bucket subset
    // is the generations those buckets reference, filtered by `__bucket`
    // at the scan. The buckets the second batch left alone reference
    // only the first generation.
    val man = KeyedUpsertSink.readManifest(state)
    val untouched = man.filter { case (_, v) => !v.contains(";") }
    assert(untouched.nonEmpty && untouched.size < man.size,
      s"fixture must leave some buckets single-generation: $man")
    val (k, o) = KeyedUpsertSink.storedSpec(state).get
    val slice = KeyedUpsertSink.readBucketedDeltaManifest(spark, state, k, o,
      untouched.take(2))
    val scan = scanOf(slice)
    assert(scan.metadata("PushedFilters").contains("__bucket"),
      s"bucket filter must reach the scan: ${scan.metadata("PushedFilters")}")
    val dataFiles = {
      val s = Files.walk(java.nio.file.Paths.get(state))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(filesTouched(slice) < dataFiles,
      "the slice must skip the generation its buckets do not reference")
  }
}
