package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of
  * (seed, stream name, index): the same seed always yields the same
  * bytes, whatever order the workloads ask for them in.
  */
object Inputs {

  /** A generator for one named stream of one seed. */
  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ (index + 1) * 0x165667B19E3779F9L)

  // ───────────────────────────────────────────────── etl_ingest ──

  final case class Address(id: Long, house: String, street: String,
      town: String, zip: String) {
    def csvLine: String = s"$id,$house,$street,$town,$zip"
  }

  val AddressHeaders: Seq[String] = Seq("ID", "HouseNum", "Street", "Town", "Zip")

  private val streets = Seq("Main", "Oak", "Pine", "Maple", "Cedar", "Elm",
    "Lake", "Hill", "Park", "River", "Spring", "North", "South", "Mill",
    "Church", "Bridge", "Station", "Forest", "Meadow", "Harbor")
  private val suffixes = Seq("St", "Ave", "Rd", "Ln", "Way", "Ct")
  private val towns = Seq("Ashford", "Brookdale", "Camden", "Dunmore",
    "Easton", "Fairview", "Glendale", "Hartley", "Irvington", "Jasper",
    "Kingston", "Lakewood", "Milford", "Newport", "Oakridge", "Preston")

  private def address(r: SplittableRandom, id: Long): Address =
    Address(id, (1 + r.nextInt(9999)).toString,
      s"${streets(r.nextInt(streets.size))} ${suffixes(r.nextInt(suffixes.size))}",
      towns(r.nextInt(towns.size)), f"${r.nextInt(100000)}%05d")

  /** Shape of the `etl_ingest` input stream. Drop `i` holds `dropRows`
    * distinct IDs: `updateShare` of them are drawn uniformly from every ID
    * landed before it (the pre-populated table included), the rest are
    * new IDs in sequence.
    */
  final case class EtlShape(prepopRows: Int, dropRows: Int, updateShare: Double) {
    val updatesPerDrop: Int = math.round(dropRows * updateShare).toInt
    val newPerDrop: Int = dropRows - updatesPerDrop
    def idsBefore(drop: Int): Long = prepopRows.toLong + drop.toLong * newPerDrop
  }

  def prepopulation(seed: Long, shape: EtlShape): Vector[Address] = {
    val r = rng(seed, "etl.prepop")
    Vector.tabulate(shape.prepopRows)(i => address(r, i.toLong))
  }

  def drop(seed: Long, shape: EtlShape, i: Int): Vector[Address] = {
    val r = rng(seed, "etl.drop", i)
    val before = shape.idsBefore(i)
    val updates = distinctDraws(r, shape.updatesPerDrop, before)(
      r => (r.nextDouble() * before).toLong)
    val fresh = (0 until shape.newPerDrop).map(k => before + k)
    (updates ++ fresh).map(id => address(r, id)).toVector
  }

  // ───────────────────────────────────────────────── keyed_table ──

  final case class Event(eventId: Long, userId: Long, eventType: String,
      value: Long, amountCents: Long, tsUs: Long) {
    def amount: java.math.BigDecimal = java.math.BigDecimal.valueOf(amountCents, 2)
  }

  val EventTypes: Seq[String] = Seq("view", "click", "cart", "buy",
    "search", "share", "rate", "return")

  /** Shape of the `keyed_table` input stream. Users and event types are
    * Zipf-skewed (exponent `skew`); `updateShare` of each wave re-writes
    * earlier event IDs, drawn with a power-law bias toward the oldest
    * (hottest) IDs; every `deleteEvery`-th commit is a `deleteWhere` of
    * one user's events instead of an upsert wave.
    */
  final case class TableShape(prepopRows: Int, waveRows: Int,
      updateShare: Double, users: Int, skew: Double, deleteEvery: Int) {
    val updatesPerWave: Int = math.round(waveRows * updateShare).toInt
    val newPerWave: Int = waveRows - updatesPerWave
    def idsBefore(wave: Int): Long = prepopRows.toLong + wave.toLong * newPerWave
  }

  private def zipf(r: SplittableRandom, n: Int, s: Double): Int = {
    // inverse-CDF over the continuous approximation: cheap and seeded
    val u = r.nextDouble()
    val x = math.pow(n.toDouble, 1 - s) * u + (1 - u)
    math.min(n - 1, math.max(0, math.pow(x, 1 / (1 - s)).toInt - 1))
  }

  private def event(r: SplittableRandom, shape: TableShape, id: Long, ts: Long): Event =
    Event(id, zipf(r, shape.users, shape.skew).toLong,
      EventTypes(zipf(r, EventTypes.size, shape.skew)),
      r.nextInt(1000).toLong, r.nextLong(1000000L), ts)

  def tablePrepop(seed: Long, shape: TableShape): Vector[Event] = {
    val r = rng(seed, "table.prepop")
    Vector.tabulate(shape.prepopRows)(i => event(r, shape, i.toLong, i.toLong))
  }

  /** Upsert wave `w` (commit timestamps rise strictly across waves). */
  def wave(seed: Long, shape: TableShape, w: Int): Vector[Event] = {
    val r = rng(seed, "table.wave", w)
    val before = shape.idsBefore(w)
    val updates = distinctDraws(r, shape.updatesPerWave, before)(
      r => (math.pow(r.nextDouble(), 3) * before).toLong)
    val ids = updates ++ (0 until shape.newPerWave).map(k => before + k)
    val ts0 = (w.toLong + 1) * 1000000000L
    ids.zipWithIndex.map { case (id, k) => event(r, shape, id, ts0 + k) }.toVector
  }

  /** The user whose events delete number `d` removes: one of the users
    * that hold live events (`liveUsers`, sorted), so every delete changes
    * the table and its views.
    */
  def deletedUser(seed: Long, d: Int, liveUsers: IndexedSeq[Long]): Long =
    liveUsers(rng(seed, "table.delete", d).nextInt(liveUsers.size))

  /** One fixed-size lookup batch: live, deleted (as many as exist, up to
    * an eighth) and never-written keys. `live` must hold at least `n` keys.
    */
  def lookupKeys(seed: Long, n: Int, live: IndexedSeq[Long],
      deleted: IndexedSeq[Long], nextId: Long): Seq[Long] = {
    val r = rng(seed, "table.lookup", nextId)
    val nDeleted = math.min(n / 8, deleted.size)
    val nAbsent = n / 8
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < nDeleted) keys += deleted(r.nextInt(deleted.size))
    while (keys.size < nDeleted + nAbsent) keys += nextId + 1000000L + r.nextInt(1000000)
    while (keys.size < n) keys += live(r.nextInt(live.size))
    keys.toSeq
  }

  // ─────────────────────────────────────────────── corpus_curate ──

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** Shape of the `corpus_curate` inputs, after the sf0.1 `documents`
    * and `embeddings` tables: token counts uniform in
    * [`minTokens`, `maxTokens`], tokens drawn uniformly from that corpus's
    * 30-word vocabulary, languages and sources in its proportions.
    * `exactShare` of the documents are verbatim copies of an earlier
    * document; `nearShare` are copies with the token `dup` appended (the
    * fixture's own near-duplicate form, bigram Jaccard (n-1)/n against an
    * n-token original); `contamShare` embed the text of a benchmark
    * document (doc_id % 37 == 0). Vectors are `dim` Gaussian components
    * of sd `vecSd`; `nearVecShare` of them are an earlier vector plus
    * noise of sd `vecSd` / 10.
    */
  final case class CorpusShape(docs: Int, minTokens: Int, maxTokens: Int,
      exactShare: Double, nearShare: Double, contamShare: Double,
      vectors: Int, dim: Int, vecSd: Double, nearVecShare: Double)

  /** The sf0.1 corpus's vocabulary (every token of it but `dup`, each
    * about 1/30 of the tokens there).
    */
  val Vocabulary: Vector[String] = Vector("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Languages by their sf0.1 document counts (of 5,000). */
  private val langWeights: Seq[(String, Int)] =
    Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  val Sources = 20

  private def lang(r: SplittableRandom): String = {
    var u = r.nextInt(langWeights.map(_._2).sum)
    langWeights.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  private def text(r: SplittableRandom, n: Int): String =
    Iterator.fill(n)(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")

  /** Kinds of planted document, recorded for the planted-duplicate model. */
  sealed trait Plant
  case object Original extends Plant
  final case class ExactOf(orig: Long) extends Plant
  final case class NearOf(orig: Long) extends Plant
  final case class ContamOf(bench: Long) extends Plant

  def corpus(seed: Long, shape: CorpusShape): (Vector[Doc], Vector[Plant]) = {
    val r = rng(seed, "corpus.docs")
    val docs = mutable.ArrayBuffer[Doc]()
    val plants = mutable.ArrayBuffer[Plant]()
    val earlier = mutable.ArrayBuffer[Doc]() // copy sources: non-benchmark
    val bench = mutable.ArrayBuffer[Doc]()
    def tokens() = shape.minTokens + r.nextInt(shape.maxTokens - shape.minTokens + 1)
    for (i <- 0 until shape.docs) {
      val id = i.toLong
      val lg = lang(r)
      val source = s"src${r.nextInt(Sources)}"
      val u = r.nextDouble()
      val (t, p) =
        if (i >= 50 && u < shape.exactShare) {
          val o = earlier(r.nextInt(earlier.size))
          (o.text, ExactOf(o.docId))
        } else if (i >= 50 && u < shape.exactShare + shape.nearShare) {
          val o = earlier(r.nextInt(earlier.size))
          (o.text + " dup", NearOf(o.docId))
        } else if (i >= 50 && id % 37 != 0 &&
            u < shape.exactShare + shape.nearShare + shape.contamShare) {
          val b = bench(r.nextInt(bench.size))
          (b.text + " " + text(r, shape.minTokens), ContamOf(b.docId))
        } else (text(r, tokens()), Original)
      val d = Doc(id, t, lg, source)
      docs += d
      plants += p
      if (id % 37 == 0) bench += d else if (p == Original) earlier += d
    }
    (docs.toVector, plants.toVector)
  }

  def embeddings(seed: Long, shape: CorpusShape): Vector[(Long, Array[Float])] = {
    val r = rng(seed, "corpus.vectors")
    val out = mutable.ArrayBuffer[(Long, Array[Float])]()
    for (i <- 0 until shape.vectors) {
      val v =
        if (i >= 10 && r.nextDouble() < shape.nearVecShare) {
          val o = out(r.nextInt(out.size))._2
          o.map(x => (x + shape.vecSd / 10 * gaussian(r)).toFloat)
        } else Array.fill(shape.dim)((shape.vecSd * gaussian(r)).toFloat)
      out += (i.toLong -> v)
    }
    out.toVector
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def distinctDraws(r: SplittableRandom, n: Int, universe: Long)(
      draw: SplittableRandom => Long): Seq[Long] = {
    require(universe >= n * 2L, s"cannot draw $n distinct keys from $universe")
    val s = mutable.LinkedHashSet[Long]()
    while (s.size < n) s += draw(r)
    s.toSeq
  }

  /** A content fingerprint of generated inputs, for the seed checks. */
  def fingerprint(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(10: Byte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
