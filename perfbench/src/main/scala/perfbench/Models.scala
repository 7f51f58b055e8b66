package perfbench

import scala.collection.mutable

import perfbench.Inputs._

/** Reference computations made apart from the engine: plain in-memory
  * Scala over the generated inputs, checked against hand-worked cases in
  * [[SelfCheck]] before any workload trusts them.
  */
object Models {

  /** Last-write-wins keyed table: a later write of a key replaces the
    * earlier one; a delete removes the key until it is written again.
    */
  final class Lww[K, V] {
    private val live = mutable.LinkedHashMap[K, V]()
    private val gone = mutable.LinkedHashSet[K]()
    def put(k: K, v: V): Unit = { live(k) = v; gone -= k }
    def delete(k: K): Unit = if (live.remove(k).isDefined) gone += k
    def get(k: K): Option[V] = live.get(k)
    def rows: collection.Map[K, V] = live
    def deletedKeys: collection.Set[K] = gone
    def size: Int = live.size
  }

  /** Group-by aggregates of the `keyed_table` views over the live rows:
    * event_type → (count, sum(value), sum(amount)).
    */
  def viewAggregates(rows: Iterable[Event]): Map[String, (Long, Long, java.math.BigDecimal)] =
    rows.groupBy(_.eventType).map { case (t, es) =>
      t -> (es.size.toLong, es.map(_.value).sum,
        es.map(_.amount).foldLeft(java.math.BigDecimal.ZERO.setScale(2))(_ add _))
    }

  /** An order-insensitive digest of a table's live rows — (count,
    * sum of event_id, sum of value, sum of ts_us) — so a time-travel read
    * is compared against the model's state at that version without
    * keeping every version's rows. A stale image changes the ts_us sum;
    * a missing or resurrected key changes the count.
    */
  def digest(rows: Iterable[Event]): (Long, Long, Long, Long) = {
    var n = 0L; var id = 0L; var v = 0L; var ts = 0L
    rows.foreach { e => n += 1; id += e.eventId; v += e.value; ts += e.tsUs }
    (n, id, v, ts)
  }

  /** Planted exact duplicates: each group is an original plus its
    * verbatim copies; exact dedup keeps the lowest doc_id of a group.
    */
  def exactGroups(plants: Seq[Plant]): Map[Long, Seq[Long]] =
    plants.zipWithIndex.collect { case (ExactOf(o), i) => o -> i.toLong }
      .groupBy(_._1).map { case (o, cs) => o -> (o +: cs.map(_._2)).sorted }

  /** Planted near-duplicate pairs (original, copy), original first. */
  def nearPairs(plants: Seq[Plant]): Seq[(Long, Long)] =
    plants.zipWithIndex.collect { case (NearOf(o), i) => (o, i.toLong) }

  /** Bigram-shingle Jaccard of two whitespace-tokenised texts — the
    * similarity the engine's minhash stage verifies against.
    */
  def bigramJaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(" +").filter(_.nonEmpty).sliding(2)
      .collect { case Array(x, y) => s"$x $y" }.toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0
    else (x intersect y).size.toDouble / (x union y).size.toDouble
  }
}
