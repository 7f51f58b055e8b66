package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dev-only scale experiment: replicate the sf0.1 documents corpus K×
  * (unique doc_ids) and measure how the dedup operators scale. The
  * length-blocked Jaccard is O(n²·w) in candidate pairs (quadratic by
  * design — every same-length pair is verified); MinHash-LSH should stay
  * near-linear (signatures linear, candidates sparse).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 5
    val spark = graft.Config.session()
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

    def corpus(copies: Int): DataFrame = ProbeCorpus.exactDocCopies(base, copies)
    val time = ProbeCorpus.time("SCALE") _

    // candidate volume of a banded signature scheme: Σ n_b·(n_b-1)/2 over
    // (band, bucket) groups — the work the verify stage would pay, before
    // any hamming/cosine filter
    def bandedCandidates(banded: DataFrame): Long =
      banded.groupBy("band", "bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getAs[Any](0) match {
          case null => 0L
          case d: java.math.BigDecimal => d.longValue()
          case d: Double => d.toLong
          case l: Long => l
        }

    def simhashCandidates(docs: DataFrame, wide: Boolean): Long = {
      val banded =
        if (wide)
          docs.select(Dedup.simhashWide(col("text")).as("sw"))
            .select(element_at(col("sw"), 1).as("w0"), element_at(col("sw"), 2).as("w1"))
            .select(posexplode(array(
              col("w0").bitwiseAND(lit(0xFFFFFFFFL)), shiftrightunsigned(col("w0"), 32),
              col("w1").bitwiseAND(lit(0xFFFFFFFFL)), shiftrightunsigned(col("w1"), 32))))
        else
          docs.select(Dedup.simhash(col("text")).as("sig"))
            .select(posexplode(array((0 until 4).map(b =>
              shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      bandedCandidates(banded
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
    }

    Seq(1, k).foreach { c =>
      val docs = corpus(c)
      println(s"== ${c}x corpus (${5000 * c} docs)")
      // the 16-bit-band cliff vs the 32-bit-band fix, in raw candidate pairs
      println(s"SCALE simhash_candidates_64bit_${c}x  ${simhashCandidates(docs, wide = false)}")
      println(s"SCALE simhash_candidates_128bit_${c}x ${simhashCandidates(docs, wide = true)}")
      time(s"minhash_${c}x")(Dedup.minhashNearDups(docs).count())
      time(s"simhash64_${c}x")(Dedup.simhashNearDups64(docs).count())
      time(s"simhash_${c}x")(Dedup.simhashNearDups(docs).count())
      time(s"ngram_jaccard_${c}x")(Dedup.blockedJaccardPairs(docs).count())
      time(s"substring_${c}x")(Dedup.substringDupSpans(docs).count())
      time(s"cluster_${c}x")(Dedup.jaccardClusters(docs).count())
      time(s"decontaminate_${c}x")(
        Dedup.decontaminate(docs, col("doc_id") % 37 === 0).count())
      time(s"mixture_${c}x")(graft.sample.Sampling.mixtureSqrt(
        docs.select("doc_id", "lang"), col("lang"), col("doc_id")).count())
      time(s"pack_${c}x")(graft.sample.Sampling.packSequences(
        docs.select(col("doc_id"), col("source"),
          graft.text.TextAnalysis.tokenCount(col("text")).as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), budget = 2048L).count())
      time(s"repetition_${c}x")(
        graft.text.TextAnalysis.repetitionSignals(docs).count())
      time(s"top_terms_${c}x")(graft.text.TextAnalysis.topTerms(docs).count())
      time(s"curation_${c}x")(graft.pipeline.Curation.curate(
        docs, col("doc_id") % 37 === 0, minShared = 40L).count())
    }

    // events scale: replicate 10x (unique event_ids) and run the window/
    // join-heavy event operators
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.1")
    Seq(1, 10).foreach { c =>
      val events = ProbeCorpus.eventCopies(ev, c)
      println(s"== events ${c}x (${100000 * c} rows)")
      import graft.events.EventAnalytics
      time(s"sessionize_${c}x")(EventAnalytics.sessionize(events).count())
      time(s"asof_${c}x")(EventAnalytics.asofJoin(events, "purchase", "click").count())
      time(s"range_join_${c}x")(EventAnalytics.rangeJoinAfter(events, "purchase", 60).count())
      time(s"lww_${c}x")(EventAnalytics.latestPerUser(events).count())
    }
    // similarity scale: replicate embeddings 10x (unique vec_ids) —
    // brute-force grows linearly with the corpus, LSH candidates stay
    // bucket-bound
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    import graft.sim.Similarity
    Seq(1, 10).foreach { c =>
      val corpus = ProbeCorpus.exactEmbCopies(emb, c)
      val queries = emb.filter(col("vec_id") < 8)
      println(s"== embeddings ${c}x (${2000 * c} vectors)")
      // RHP band-collision volume for the label-free near-dup path
      val rhpBanded = corpus
        .select(Similarity.rhpSignature(col("embedding"), 64).as("sig"))
        .select(posexplode(array((0 until 8).map(b =>
          shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(0xFFL))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      println(s"SCALE rhp_candidates_${c}x ${bandedCandidates(rhpBanded)}")
      time(s"bruteforce_${c}x")(Similarity.bruteForceTopK(corpus, queries).count())
      time(s"lsh_ann_${c}x")(Similarity.lshTopK(corpus, queries).count())
      time(s"embed_neardup_${c}x")(Similarity.embeddingNearDups(corpus).count())
      time(s"embed_neardup_lsh_${c}x")(Similarity.embeddingNearDupsLsh(corpus).count())
      time(s"ivf_ann_${c}x")(Similarity.ivfTopK(corpus, queries).count())
      time(s"ivf_ann_unlabeled_${c}x")(Similarity.ivfTopKUnlabeled(
        corpus.drop("label"), queries.drop("label")).count())
      // SemDeDup: total pair work is Σ cᵢ² over trained clusters — with
      // fixed K it grows ~quadratically in replicated data, so scale K
      // with n (kCentroids = 8·c) the way the operator's contract says,
      // and the growth should stay near-linear
      time(s"semdedup_${c}x")(Similarity.semDedup(
        corpus.drop("label"), kCentroids = 8 * c).count())
      time(s"sq8_ann_${c}x")(Similarity.sq8TopK(corpus, queries).count())
      time(s"pq_ann_${c}x")(Similarity.pqTopK(
        corpus.drop("label"), queries.drop("label")).count())
      time(s"ivfpq_ann_${c}x")(Similarity.ivfPqTopK(
        corpus.drop("label"), queries.drop("label")).count())
      if (c == 1) {
        // recall of the label-free LSH path against the exact label-blocked
        // twin, at the twin's own threshold (0.3 — deep in the isotropic
        // tail, the worst case for sign-LSH; see embeddingNearDupsLsh docs)
        // and at a near-dup threshold where the banding is designed to live
        Seq(0.3, 0.35).foreach { t =>
          val exact = Similarity.embeddingNearDups(corpus, t)
            .select("vec_id_a", "vec_id_b")
          val lsh = Similarity.embeddingNearDupsLsh(corpus, t)
            .select("vec_id_a", "vec_id_b")
          val hit = exact.join(lsh, Seq("vec_id_a", "vec_id_b"), "left_semi").count()
          val tot = exact.count()
          println(f"SCALE embed_neardup_lsh_recall@$t ${hit.toDouble / tot}%.3f ($hit/$tot)")
        }
      }
    }
    spark.stop()
  }
}
