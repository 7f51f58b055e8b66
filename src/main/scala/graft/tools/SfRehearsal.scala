package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only sf1 rehearsal fixture: materialize a ×C (default ×10) scale-up
  * of the sf0.1 driver fixture under /tmp, with TPC-H-faithful growth
  * semantics, so the full headline Bench can run at ≈sf1:
  *
  *   - `region`/`nation` stay FIXED (TPC-H keeps them constant across
  *     scale factors — 5 and 25 rows at sf0.001 and at sf100 alike);
  *   - growing tables replicate into DISJOINT KEY UNIVERSES: copy i's
  *     custkey/orderkey/partkey/suppkey (and events' event_id/user_id)
  *     shift by i·10¹⁰, so intra-copy join cardinalities are preserved
  *     and cross-copy joins never match — per-copy query semantics are
  *     exactly the sf0.1 semantics, ×C the data;
  *   - `documents` uses ProbeCorpus.mutatedDocCopies (copy-salted text:
  *     near-dup structure grows without replica cliques),
  *     `embeddings` uses exactEmbCopies (schema-preserving, keeps
  *     `label` for the supervised ANN queries).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=$(out) runMain graft.Bench` after
  * `runMain graft.tools.SfRehearsal [outDir] [copies]`.
  */
object SfRehearsal {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft-sf1"
    val c = if (args.length > 1) args(1).toInt else 10
    val src = "/root/testdata/sf0.1"
    val spark = graft.Config.session()
    val K = 10000000000L // disjoint-universe key offset per copy

    def base(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sfrehearsal] $name: " +
        spark.read.parquet(s"$out/$name.parquet").count() + " rows")
    }
    def rep(name: String)(shift: (DataFrame, Long) => DataFrame): Unit =
      write(name, (0 until c).map(i => shift(base(name), i * K))
        .reduce(_ unionByName _))

    Seq("region", "nation").foreach(n => write(n, base(n)))
    rep("customer")((b, o) => b.withColumn("c_custkey", col("c_custkey") + o))
    rep("supplier")((b, o) => b.withColumn("s_suppkey", col("s_suppkey") + o))
    rep("part")((b, o) => b.withColumn("p_partkey", col("p_partkey") + o))
    rep("orders")((b, o) => b
      .withColumn("o_orderkey", col("o_orderkey") + o)
      .withColumn("o_custkey", col("o_custkey") + o))
    rep("lineitem")((b, o) => b
      .withColumn("l_orderkey", col("l_orderkey") + o)
      .withColumn("l_partkey", col("l_partkey") + o)
      .withColumn("l_suppkey", col("l_suppkey") + o))
    rep("events")((b, o) => b
      .withColumn("event_id", col("event_id") + o)
      .withColumn("user_id", col("user_id") + o))
    write("documents", ProbeCorpus.mutatedDocCopies(base("documents"), c))
    write("embeddings", ProbeCorpus.exactEmbCopies(base("embeddings"), c))
    spark.stop()
  }
}
