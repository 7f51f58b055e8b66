package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge. Spark 4's Column wraps a ColumnNode and the
  * conversion helpers are `private[sql]`, so libraries adding custom
  * Catalyst expressions need this one-file shim inside the sql package —
  * the same access pattern third-party Spark extensions use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The FULLY-CONVERTED catalyst tree of a Column. [[expression]] wraps
    * an unresolved Column in a lazy `ColumnNodeExpression` whose children
    * are invisible to `collect` — this goes through the session's
    * ColumnNode converter, so `col("a") + col("b")` really yields an
    * UnresolvedFunction over two UnresolvedAttributes. Classic sessions
    * only (like everything in this shim — [[leafDataFrame]] makes the
    * same cast): a Spark Connect session would ClassCastException here,
    * which is acceptable for a library that is classic-embedded by
    * construction.
    */
  def convertedExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** A DataFrame whose logical plan is a LEAF over `rows` (no upstream
    * lineage in Catalyst; the RDD keeps its own lineage for recovery).
    * `internalCreateDataFrame` is `private[sql]` — this is the
    * no-Row-conversion path graft.Staging's persist strategy uses to cut
    * iterative plans without paying InternalRow↔Row round-trips.
    */
  def leafDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** `df` re-wrapped as a STREAMING-tagged leaf: what a DSv1
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming` on the batch plan). Planning happens here (toRdd
    * builds the physical RDD DAG); execution stays lazy. This is the
    * same move Spark's own v1 Kafka source makes —
    * `internalCreateDataFrame(rdd, schema, isStreaming = true)`.
    */
  def streamingLeafDataFrame(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)

  /** [[streamingLeafDataFrame]] with DEFERRED planning: the inner
    * DataFrame (and its `toRdd` — which under AQE executes the plan's
    * shuffle stages eagerly) is not built until the engine actually
    * computes the returned leaf. Why this exists: on every restart,
    * MicroBatchExecution's offset recovery calls `Source.getBatch` on
    * the last COMMITTED range and DISCARDS the result — with an eager
    * leaf that discarded frame still pays the full feed re-plan
    * (measured: a half-table bootstrap batch re-shuffled per restart
    * in tools/DeleteScale until the next commit moved the basis). The
    * lazy leaf makes the recovery call construction-only: dependencies,
    * partitions and compute all force the inner build on first touch,
    * which for a real batch happens exactly once at execution.
    */
  def lazyStreamingLeafDataFrame(spark: SparkSession, schema: StructType)(
      build: => DataFrame): DataFrame = {
    val thunk: () => RDD[InternalRow] = () => {
      val df = build
      // names + types must line up with the declared leaf schema
      // (nullability may legitimately differ — e.g. padded columns)
      require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"lazy streaming leaf: built schema ${df.schema.catalogString} " +
          s"!= declared ${schema.catalogString}")
      df.queryExecution.toRdd
    }
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        new LazyLeafRdd(spark.sparkContext, thunk), schema,
        isStreaming = true)
  }

  /** The deferred leaf behind [[lazyStreamingLeafDataFrame]]. The thunk
    * (which closes over non-serializable source state) is @transient
    * AND nulled at first force — the driver always forces before any
    * task serializes (DAGScheduler reads partitions first), so
    * executors deserialize the resolved `inner` field and never touch
    * the thunk.
    */
  private class LazyLeafRdd(
      @transient private val sc0: org.apache.spark.SparkContext,
      @transient private var build0: () => RDD[InternalRow])
    extends RDD[InternalRow](sc0, Nil) {
    private var inner: RDD[InternalRow] = null
    private def force(): RDD[InternalRow] = synchronized {
      if (inner == null) { inner = build0(); build0 = null }
      inner
    }
    override def getDependencies: Seq[org.apache.spark.Dependency[_]] =
      Seq(new org.apache.spark.OneToOneDependency(force()))
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      force().partitions
    override def compute(split: org.apache.spark.Partition,
        context: org.apache.spark.TaskContext): Iterator[InternalRow] =
      force().iterator(split, context)
  }

  /** The checkpointed RDD behind a `localCheckpoint(true)` frame, if its
    * optimized plan is the expected LogicalRDD leaf — lets graft.Staging
    * release the checkpoint blocks PROMPTLY on unpin (Dataset.unpersist
    * only touches CacheManager entries, which a local checkpoint never
    * creates).
    */
  def leafRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      // a column-only projection over the leaf (e.g. `pinned.drop(c)`)
      // still releases the leaf's blocks — without this, an unpin on the
      // derived frame is a silent no-op and the checkpoint set lives on
      case org.apache.spark.sql.catalyst.plans.logical.Project(_,
          l: org.apache.spark.sql.execution.LogicalRDD) => Some(l.rdd)
      case _ => None
    }

  /** Blocks until the listener bus has delivered every event posted so
    * far (`waitUntilEmpty` is `private[spark]`): a listener added after
    * this sees none of the earlier events, and one read after it has
    * seen all of its own.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
