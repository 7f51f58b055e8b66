package graft.tools

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** ×1/×10/×100 rehearsal for the round-18 TRAINED operators — the BPE
  * merge-table trainer and the line-search classifier — with raw
  * TaskEnd bytes (IoListener) attributed per stage. The claims under
  * test:
  *
  *  - BPE: the corpus is touched ONCE (the word-frequency groupBy);
  *    all merge rounds run over the DISTINCT VOCABULARY, so per-round
  *    shuffle is vocabulary-scale and per-corpus cost is linear. The
  *    growth model is `mutatedDocCopies` (copy-salted tokens), so the
  *    vocabulary grows with the corpus — the honest worst case for a
  *    "rounds run over the vocab" claim (exact copies would make the
  *    rounds free by construction).
  *  - Classifier: per training round three partial-agged shuffles of
  *    doc-/d-sized rows — input scales with the corpus, shuffles with
  *    docs × d, never corpus × rounds re-scans beyond the pinned
  *    feature build.
  *
  * Usage: runMain graft.tools.TrainScale <sfDir> [scales...]
  * (defaults: 1 10 — add 100 for the two-decade run)
  */
object TrainScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    def measure(scale: Int, tag: String)(run: => Long): Unit = {
      io.reset()
      val t0 = System.nanoTime()
      val n = run
      val wall = (System.nanoTime() - t0) / 1e9
      val (in, sh) = io.snapshot()
      println(f"[train-scale] x$scale%-4d $tag%-12s rows=$n%-8d " +
        f"wall=$wall%6.2fs input=${in / 1e6}%9.2fMB shuffle=${sh / 1e6}%9.3fMB")
    }

    scales.foreach { scale =>
      val base = graft.Tables.documents(spark, sfDir)
      val docs = ProbeCorpus.cached(spark,
        s"/tmp/graft-train-docs-${scale}x-" +
          java.nio.file.Paths.get(sfDir).getFileName)(
        ProbeCorpus.mutatedDocCopies(base, scale))
      val nDocs = docs.count()
      val vocab = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .select(countDistinct("w")).head().getLong(0)
      println(s"[train-scale] x$scale docs=$nDocs vocab=$vocab")
      measure(scale, "bpe_vocab") {
        TextAnalysis.bpeVocab(docs).count()
      }
      measure(scale, "bpe_encode") {
        TextAnalysis.bpeEncode(docs).count()
      }
      measure(scale, "clf_train") {
        TextAnalysis.trainedClassifierScore(docs)
          .agg(sum(when(col("keep"), 1L).otherwise(0L))).head().getLong(0)
      }
      // trained langid (round-18 third pass): train = ONE exploded-token
      // groupBy (shuffle linear in corpus); score = token × |L| fan-out
      // over a broadcast marginals frame + a KEYED model join + one
      // partial-agged (doc, lang) reduce — also corpus-linear, with the
      // |L| multiplier map-side only
      measure(scale, "lid_train") {
        TextAnalysis.trainLangModel(docs.filter(col("doc_id") % 5 =!= 0))
          .count()
      }
      val model = TextAnalysis
        .trainLangModel(docs.filter(col("doc_id") % 5 =!= 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      model.count() // materialize OUTSIDE the scoring measurement
      measure(scale, "lid_score") {
        // filter on the PREDICTION: a bare count() lets the optimizer
        // eliminate the left join + aggregation via distinct-keys
        // propagation and measures only the doc scan
        TextAnalysis.langIdWith(docs, model)
          .filter(col("lang_pred") =!= "und").count()
      }
      model.unpersist()
    }
    spark.stop()
  }
}
