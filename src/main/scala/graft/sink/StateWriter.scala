package graft.sink

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SaveMode}
import org.apache.spark.sql.functions.{col, collect_set}

/** The one parquet writer for state the engine reads back: keyed-table
  * generations, maintained-view versions and streaming operator stores.
  *
  * Two per-write options, fixed on purpose:
  *
  *  - `compression=zstd`: a denser codec than Spark's default snappy at a
  *    comparable decode cost (Iceberg's default for the same reason).
  *  - `parquet.writer.version=v2`: data page v2, whose value writers fall
  *    back from dictionary to DELTA_BINARY_PACKED (int32/int64) and
  *    DELTA_BYTE_ARRAY (binary) when a dictionary does not pay — sorted
  *    ids and timestamps, the keyed table's common case, pack to a fraction
  *    of PLAIN's 8 bytes a value.
  *
  * Both are constants, not settings: parquet records codec and encodings
  * per column chunk, so every reader (vectorized or not) reads any mix of
  * old snappy/v1 and new zstd/v2 generations unchanged, and there is
  * nothing to migrate or to keep in step between writers. They are passed
  * per write and never touch the session's conf, so user-facing outputs
  * (`PartitionedSink`, `Layout`, `Formats`, ...) keep Spark's defaults.
  */
private[graft] object StateWriter {

  val Codec = "zstd"
  val PageVersion = "v2"

  def apply(df: DataFrame): DataFrameWriter[Row] =
    df.write
      .option("compression", Codec)
      .option("parquet.writer.version", PageVersion)

  /** Write one keyed-table generation to the new directory `dir` and
    * return the bucket ids it holds. `__bucket` is a stored column, not a
    * partition directory: each write task sorts its rows by (`__bucket`,
    * keys) and writes ONE file, so a commit pays the ~1.5 KB a parquet
    * file costs in footer, schema and dictionaries once per task, not
    * once per (task, bucket); sorted runs also pack tighter and let
    * row-group statistics prune a bucket subset. The bucket set is an
    * [[Observation]] of the write itself: no listing, no extra job.
    */
  def generation(df: DataFrame, dir: String, keys: Seq[String]): Set[Long] = {
    val buckets = Observation()
    apply(df.observe(buckets, collect_set(col("__bucket")).as("b"))
        .sortWithinPartitions((col("__bucket") +: keys.map(col)): _*))
      .mode(SaveMode.ErrorIfExists) // attempt dirs are never reused
      .parquet(dir)
    buckets.get("b").asInstanceOf[scala.collection.Seq[Long]].toSet
  }
}
