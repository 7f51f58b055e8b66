package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.AggCol
import graft.text.TextAnalysis

/** Measures the MODEL-AS-MAINTAINED-VIEW claim (SURVEY §21.10, r18
  * verdict "what's missing" #3): the unigram language model stored as
  * an incrementally-maintained (lang, w) aggregate view over a
  * (doc_id, pos)-keyed token table refreshes at CHANGE-VOLUME cost,
  * while the batch retrain (a force re-bootstrap — the same group-by
  * the from-scratch [[TextAnalysis.trainLangModel]] runs, over the
  * resolved token table) pays the whole corpus. OnlineLangModelSpec
  * pins the bit-for-bit equality; this probe pins the COST SHAPE with
  * the §20.1 discipline — raw TaskEnd input/shuffle bytes around each
  * phase, a fixed-size trickle, corpus scaled ×1/×10/×100.
  *
  * Corpus: the documents table with text capped to its first 32
  * tokens (bounds token rows without touching the claim), labels
  * closed-form over doc_id. Scale ×k replicates docs with disjoint
  * doc_ids. The trickle UPDATES a fixed 200 base docs in place with a
  * neighbor's words (same position count, different words — so the
  * weighted feed carries real retractions, not self-cancelling
  * reversals), then: refresh (measured) vs force re-bootstrap into a
  * scratch view (measured), equality-gated.
  *
  * Usage: runMain graft.tools.LmViewScale <sfDir> [scales=1,10,100] [trickleDocs=200]
  */
object LmViewScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val scales = (if (args.length > 1) args(1) else "1,10,100")
      .split(",").toSeq.map(_.trim.toInt)
    val trickleDocs = if (args.length > 2) args(2).toInt else 200
    val spark = graft.Config.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)

    val numBuckets = 16
    val keys = Seq("doc_id", "pos")
    val order = Seq(col("ver"))
    val dims = Seq("lang", "w")
    val aggs = Seq(AggCol("c", lit(1L)))

    // (doc_id, lang, toks): text capped to 32 tokens, label closed-form
    val docsBase = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr")),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")).as("lang"),
        slice(TextAnalysis.tokens(col("text")), 1, 32).as("toks"))
    val nBase = docsBase.count()

    def tokenRows(docs: DataFrame, ver: Long): DataFrame =
      docs.select(col("doc_id"), col("lang"), lit(ver).as("ver"),
        posexplode(col("toks")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("ver"), col("lang"), col("col").as("w"))

    val results = scales.map { k =>
      // ×k: replicate with disjoint doc_ids (labels follow the new id —
      // immaterial to the cost shape; the trickle targets base ids only)
      val docs = (0 until k).map(i => docsBase
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * nBase)))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = docs.count()
      val root = Files.createTempDirectory(s"graft-lm-view-x$k")
      val base = root.resolve("tokens").toString
      val view = root.resolve("model").toString
      val scratch = root.resolve("retrain").toString
      val sink = KeyedUpsertSink.upsertBucketedDelta(
        spark, base, keys, order, numBuckets, compactAfter = 0) _
      sink(tokenRows(docs, 1L), 0L)
      MaterializedAggView.bootstrap(
        spark, base, view, keys, order, dims, aggs)

      // trickle: the fixed base docs take their NEIGHBOR's words at the
      // same positions — every touched position retracts its old word
      val neighbors = docsBase
        .withColumn("doc_id", col("doc_id") - 1L)
        .filter(col("doc_id") >= 0 && col("doc_id") < trickleDocs)
        .select(col("doc_id"), col("toks").as("ntoks"))
      val updated = docsBase
        .filter(col("doc_id") < trickleDocs)
        .join(neighbors, Seq("doc_id"), "inner")
        .select(col("doc_id"), col("lang"),
          // neighbor words truncated to THIS doc's position count: the
          // update replaces positions in place, no tail to tombstone
          slice(col("ntoks"), lit(1),
            least(size(col("toks")), size(col("ntoks")))).as("toks"))
      sink(tokenRows(updated, 2L), 1L)

      io.reset()
      val t0 = System.nanoTime()
      MaterializedAggView.refresh(
        spark, base, view, keys, order, dims, aggs)
      val rfWall = (System.nanoTime() - t0) / 1e9
      val (rfIn, rfSh) = io.snapshot()

      io.reset()
      val t1 = System.nanoTime()
      MaterializedAggView.bootstrap(spark, base, scratch, keys, order,
        dims, aggs, force = true)
      val rcWall = (System.nanoTime() - t1) / 1e9
      val (rcIn, rcSh) = io.snapshot()

      // the asymmetry is only worth reporting if the models agree
      val a = MaterializedAggView.read(spark, view).select("lang", "w", "c")
      val b = MaterializedAggView.read(spark, scratch).select("lang", "w", "c")
      val same = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      require(same, s"x$k: maintained model != batch retrain — fix before measuring")
      docs.unpersist()
      // Locale.ROOT: the f"" interpolator uses the JVM default locale,
      // whose comma decimals would corrupt the JSON line (the
      // Bench.scala rule; sibling probes follow it)
      def n(v: Double, dp: Int): String =
        String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
      def mb(x: Long): String = n(x / 1048576.0, 1)
      s""""x$k":{"docs":$nDocs,"refresh_wall_s":${n(rfWall, 2)},"retrain_wall_s":${n(rcWall, 2)},"refresh_input_mb":${mb(rfIn)},"retrain_input_mb":${mb(rcIn)},"refresh_shuffle_mb":${mb(rfSh)},"retrain_shuffle_mb":${mb(rcSh)},"models_equal":$same}"""
    }
    println(s"""{"probe":"lm_view_scale","trickle_docs":$trickleDocs,${results.mkString(",")}}""")
    spark.stop()
  }
}
