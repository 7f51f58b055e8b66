package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dev-only probe for the Jaccard candidate/verify trade (SURVEY
  * §15.1's 44×-growth diagnosis): measures, at 1× and K× of the sf0.1
  * corpus (mutatedDocCopies — the same growth model as the sf1
  * rehearsal), (a) the length-bucket join volume Σ n_b·(n_b−1)/2 the
  * windowed stage pays, (b) the prefix-filter candidate count the
  * exhaustive stage pays, and (c) walls of the windowed operator (with
  * the threshold-gated verify), the exhaustive prefix operator, and the
  * clustering consumer.
  */
object PrefixProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val spark = graft.Config.session()
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val time = ProbeCorpus.time("PREFIX") _

    Seq(1, k).foreach { c =>
      val docs = ProbeCorpus.mutatedDocCopies(base, c)
      println(s"== ${c}x corpus")
      val lengthJoinVolume = docs
        .select(explode(array_distinct(array(
          expr("n_chars div 64"), expr("(n_chars + 32) div 64")))).as("bucket"))
        .groupBy("bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).get(0)
      println(s"PREFIX length_join_volume_${c}x $lengthJoinVolume")
      val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 2).as("sh"))
      println(s"PREFIX prefix_candidates_${c}x " +
        Dedup.prefixJaccardCandidates(Dedup.hashedSets(sh), 0.6, 32L, 1 << 17)
          .count())
      time(s"ngram_jaccard_${c}x")(Dedup.blockedJaccardPairs(docs).count())
      time(s"ngram_jaccard_allpairs_${c}x")(Dedup.prefixJaccardPairs(docs).count())
      time(s"cluster_${c}x")(Dedup.jaccardClusters(docs).count())
    }
    spark.stop()
  }
}
