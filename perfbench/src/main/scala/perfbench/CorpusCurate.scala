package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.pipeline.Curation
import graft.sim.Similarity
import perfbench.Inputs._
import perfbench.Main.median

/** `corpus_curate`: a seeded corpus shaped after the sf0.1 `documents`
  * table, with planted exact and near duplicates and a flagged benchmark
  * subset (doc_id % 37 == 0), plus vectors shaped after sf0.1
  * `embeddings` with planted near copies, goes through `Curation.curate`,
  * `Dedup.minhashNearDups` and `Similarity.semDedup`; each output is
  * written to parquet. One round = one step = one pass over the inputs.
  * There is no warm-up: the first pass runs cold, in a fresh JVM, as a
  * curation batch job does.
  * The DuckDB replay of the engine's reference SQL for the three queries
  * runs in run.py after the JVM exits, over the inputs and last outputs
  * named in `oracle.json`.
  */
final class CorpusCurate(spark: SparkSession, runDir: String, seed: Long,
    rec: Recorder) extends Workload {
  import CorpusCurate._

  val shape = CorpusShape(docs = Docs, minTokens = 10, maxTokens = 100,
    exactShare = ExactShare, nearShare = NearShare, contamShare = ContamShare,
    vectors = Vectors, dim = Dim, vecSd = 0.125, nearVecShare = NearVecShare)

  private val base = s"$runDir/data/corpus"
  private val docsPath = s"$base/input/documents.parquet"
  private val vecPath = s"$base/input/embeddings.parquet"
  private var plants: Vector[Plant] = Vector.empty
  private var pass = 0
  private def out(p: Int) = s"$base/out-$p"
  private var rows = Map.empty[String, Long]

  def setup(): Unit = {
    val (docs, ps) = corpus(seed, shape)
    plants = ps
    spark.createDataFrame(docs.map(d => Row(d.docId, d.text, d.lang, d.source,
        d.text.length.toLong)).asJava, DocSchema)
      .coalesce(1).write.parquet(docsPath)
    spark.createDataFrame(embeddings(seed, shape).map { case (id, v) =>
        Row(id, v.toSeq) }.asJava, VecSchema)
      .coalesce(1).write.parquet(vecPath)
  }

  def warm(): Unit = ()

  def round(): Int = {
    if (pass > 0) Disk.delete(out(pass - 1))
    runPass(out(pass))
    pass += 1
    1
  }

  private def runPass(o: String): Unit = {
    val t0 = System.nanoTime()
    rec.attempt("curation.curate") {
      Curation.curate(spark.read.parquet(docsPath), col("doc_id") % 37 === 0,
        minShared = 40L).write.parquet(s"$o/text_curation_pipeline")
    }
    rec.attempt("dedup.minhash") {
      Dedup.minhashNearDups(spark.read.parquet(docsPath))
        .write.parquet(s"$o/dedup_minhash")
    }
    rec.attempt("sim.semdedup") {
      Similarity.semDedup(spark.read.parquet(vecPath)).write.parquet(s"$o/sim_semdedup")
    }
    rec.sample("corpus.visible", (System.nanoTime() - t0) / 1e9)
  }

  private def last = out(pass - 1)

  def finish(): Unit = {
    rows = Outputs.map(n => n -> spark.read.parquet(s"$last/$n").count()).toMap
    val kept = spark.read.parquet(s"$last/text_curation_pipeline")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val groups = Models.exactGroups(plants)
    val extra = groups.values.flatMap(g => g.tail.filter(kept))
    require(extra.isEmpty, s"corpus_curate: planted exact duplicates survive " +
      s"beside their original: ${extra.take(5)}")
    println(s"check corpus_curate.exact_duplicates_collapse ok (${groups.size} " +
      s"planted groups, ${groups.values.count(_.exists(kept))} with a survivor)")
    val pairs = spark.read.parquet(s"$last/dedup_minhash")
      .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = Models.nearPairs(plants).filterNot(pairs)
    require(missed.isEmpty, s"corpus_curate: minhash missed planted near " +
      s"duplicates ${missed.take(5)}")
    println(s"check corpus_curate.near_duplicates_found ok " +
      s"(${Models.nearPairs(plants).size} planted pairs)")
    Main.write(s"$runDir/oracle.json", Json.render(Map(
      "documents" -> docsPath, "embeddings" -> vecPath, "outputs" -> last,
      "queries" -> Outputs.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)))
  }

  def endToEnd(wallS: Double): Map[String, Double] = Map(
    "visible_p50_s" -> median(rec.samplesOf("corpus.visible")),
    "rows_per_s" -> Docs.toDouble * rec.samplesOf("corpus.visible").size / wallS,
    "bytes_per_row" -> Outputs.map(n => Disk.bytes(s"$last/$n")).sum.toDouble / Docs)

  def layers(steps: Int): Map[String, Double] = Map(
    "curation.curate_s" -> median(rec.samplesOf("curation.curate")),
    "dedup.minhash_s" -> median(rec.samplesOf("dedup.minhash")),
    "sim.semdedup_s" -> median(rec.samplesOf("sim.semdedup")),
    "curation.rows" -> rows("text_curation_pipeline").toDouble,
    "dedup.rows" -> rows("dedup_minhash").toDouble,
    "sim.rows" -> rows("sim_semdedup").toDouble)
}

object CorpusCurate {
  // 8% of sf0.1's 5,000 documents and 2,000 vectors; its near-duplicate
  // share (250 of 5,000 documents end in the token `dup`)
  val Docs = 400
  val ExactShare = 0.01
  val NearShare = 0.05
  val ContamShare = 0.01
  val Vectors = 160
  val Dim = 64
  val NearVecShare = 0.05
  val Outputs: Seq[String] = Seq("text_curation_pipeline", "dedup_minhash", "sim_semdedup")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
