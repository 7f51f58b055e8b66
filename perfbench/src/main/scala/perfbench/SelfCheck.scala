package perfbench

import perfbench.Inputs._
import perfbench.Models._

/** The benchmark's own checks, run at the start of every run before any
  * engine call: seeded inputs repeat and differ by seed, and the models
  * agree with small cases worked out by hand. A failure ends the run.
  */
object SelfCheck {

  private def check(name: String)(ok: => Boolean): Unit = {
    if (!ok) throw new IllegalStateException(s"self-check failed: $name")
    println(s"check self.$name ok")
  }

  private val etl = EtlShape(prepopRows = 200, dropRows = 40, updateShare = 0.5)
  private val table = TableShape(prepopRows = 200, waveRows = 40,
    updateShare = 0.3, users = 50, skew = 1.2, deleteEvery = 4)
  private val corpusShape = CorpusShape(docs = 400, minTokens = 10,
    maxTokens = 100, exactShare = 0.05, nearShare = 0.05, contamShare = 0.02,
    vectors = 100, dim = 8, vecSd = 0.125, nearVecShare = 0.1)

  private def inputPrint(seed: Long): String = fingerprint(
    (prepopulation(seed, etl) ++ (0 until 3).flatMap(drop(seed, etl, _)))
      .iterator.map(_.csvLine) ++
    (tablePrepop(seed, table) ++ (0 until 3).flatMap(wave(seed, table, _)))
      .iterator.map(_.toString) ++
    Iterator(deletedUser(seed, 0, (0L until 50L)).toString) ++
    corpus(seed, corpusShape)._1.iterator.map(_.toString) ++
    embeddings(seed, corpusShape).iterator.map(_._2.mkString(",")))

  def run(seed: Long): Unit = {
    check("same_seed_same_inputs")(inputPrint(seed) == inputPrint(seed))
    check("other_seed_other_inputs")(inputPrint(seed) != inputPrint(seed + 1))

    // drops: IDs distinct within a drop, the stated update share, and
    // the new IDs continue where the previous drop stopped
    val d1 = drop(seed, etl, 1)
    check("drop_shape")(d1.map(_.id).distinct.size == etl.dropRows &&
      d1.count(_.id < etl.idsBefore(1)) == etl.updatesPerDrop &&
      d1.filter(_.id >= etl.idsBefore(1)).map(_.id).max == etl.idsBefore(2) - 1)

    // LWW by hand: k1 written, overwritten, deleted, rewritten; k2 deleted
    val m = new Lww[String, Int]
    m.put("k1", 1); m.put("k2", 2); m.put("k1", 3); m.delete("k2")
    check("lww_overwrite_delete")(m.rows == Map("k1" -> 3) && m.deletedKeys == Set("k2"))
    m.delete("k1"); m.put("k1", 4); m.delete("absent")
    check("lww_reinsert")(m.rows == Map("k1" -> 4) && m.deletedKeys == Set("k2"))

    // view aggregates by hand: two "buy" rows and one "view" row
    def ev(id: Long, t: String, v: Long, c: Long) = Event(id, 0L, t, v, c, id)
    val agg = viewAggregates(Seq(ev(1, "buy", 5, 150), ev(2, "buy", 7, 1),
      ev(3, "view", 1, 99999)))
    check("view_aggregates")(agg == Map(
      "buy" -> (2L, 12L, new java.math.BigDecimal("1.51")),
      "view" -> (1L, 1L, new java.math.BigDecimal("999.99"))))
    check("digest_order_free")(
      digest(Seq(ev(1, "a", 1, 1), ev(2, "b", 2, 2))) ==
        digest(Seq(ev(2, "b", 2, 2), ev(1, "a", 1, 1))) &&
      digest(Seq(ev(1, "a", 1, 1))) != digest(Seq(ev(1, "a", 2, 1))))

    // planted duplicates by hand: doc 3 copies 0, doc 5 copies 0,
    // doc 4 is a near copy of 2
    val plants = Seq(Original, Original, Original, ExactOf(0), NearOf(2), ExactOf(0))
    check("planted_groups")(exactGroups(plants) == Map(0L -> Seq(0L, 3L, 5L)) &&
      nearPairs(plants) == Seq(2L -> 4L))
    check("bigram_jaccard")(
      bigramJaccard("a b c d", "a b c e") == 2.0 / 4.0 &&
      bigramJaccard("a  b", "a b") == 1.0)

    // the generated corpus carries its plants as stated; a near copy
    // stays above minhashNearDups' Jaccard threshold of 0.7
    val (docs, ps) = corpus(seed, corpusShape)
    check("corpus_plants")(exactGroups(ps).forall { case (o, g) =>
      g.forall(i => docs(i.toInt).text == docs(o.toInt).text) } &&
      nearPairs(ps).forall { case (o, c) =>
        bigramJaccard(docs(o.toInt).text, docs(c.toInt).text) > 0.7 })
  }
}
