package graft.sink

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

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
}
