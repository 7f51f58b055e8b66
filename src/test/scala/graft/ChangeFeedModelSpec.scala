package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

import graft.sink.KeyedUpsertSink

/** Model-based pin of the keyed table's change feed. Random operation
  * sequences (upsert waves with replays and null keys, DELETE WHERE,
  * compaction of all or some buckets, tombstone purge, rebucket) run
  * against a fresh table; after every committed step, for every range
  * `(from, head]` — which over a sequence covers every `(from, to)`
  * pair of the history:
  *
  *  - the weighted feed equals the ±1 difference of the resolved table
  *    at `from` and at `head`, row for row (a multiset: a duplicated
  *    feed row fails);
  *  - the plain feed equals that difference's +1 rows, or refuses
  *    exactly when a delete lies in the range;
  *  - the union of single-bucket slices over the head step's touched
  *    buckets equals the `(head - 1, head]` feed.
  *
  * The resolved table itself is checked against an in-memory LWW model
  * at every step (ties on the order column go to the later commit; a
  * tombstone ranks like an upsert).
  */
class ChangeFeedModelSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private def order: Seq[Column] = Seq(col("ts"))

  private type Key = Option[String]
  private type Img = (Key, Long, Long) // (k, v, ts)

  sealed trait Op
  private case class Wave(rows: List[Img]) extends Op
  private case class Replay(back: Int) extends Op
  private case class DeleteWhere(vBelow: Long) extends Op
  private case class Compact(buckets: Option[Set[Long]]) extends Op
  private case class Purge(tsBelow: Long) extends Op
  private case object Rebucket extends Op

  // distinct keys within a wave: two rows of one key tied on `ts` in a
  // single batch have no defined winner
  private val genWave: Gen[Wave] = for {
    n <- Gen.choose(1, 4)
    ks <- Gen.pick(n, Seq[Key](None, Some("a"), Some("b"), Some("c"),
      Some("d"), Some("e"), Some("f")))
    rows <- Gen.sequence[List[Img], Img](ks.toList.map(k => for {
      v <- Gen.choose(0L, 9L)
      ts <- Gen.choose(0L, 5L)
    } yield (k, v, ts)))
  } yield Wave(rows)

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> genWave,
    2 -> Gen.choose(1, 3).map(Replay(_)),
    2 -> Gen.choose(2L, 8L).map(DeleteWhere(_)),
    1 -> Gen.const(Compact(None)),
    1 -> Gen.containerOfN[Set, Long](2, Gen.choose(0L, 2L)).map(s => Compact(Some(s))),
    1 -> Gen.choose(1L, 6L).map(Purge(_)),
    1 -> Gen.const(Rebucket))

  private val genOps: Gen[List[Op]] = for {
    first <- genWave
    n <- Gen.choose(1, 3)
    rest <- Gen.listOfN(n, genOp)
  } yield first :: rest

  /** The LWW model: live rows and the winning tombstones' order values. */
  private final class Model {
    var live = Map.empty[Key, (Long, Long)]
    var tombs = Map.empty[Key, Long]
    def upsert(rows: Seq[Img]): Unit = rows.foreach { case (k, v, ts) =>
      val top = live.get(k).map(_._2).orElse(tombs.get(k))
      if (top.forall(ts >= _)) { live += k -> (v, ts); tombs -= k }
    }
    def image: Set[Img] = live.map { case (k, (v, ts)) => (k, v, ts) }.toSet
  }

  private def rows(df: DataFrame): Seq[Img] =
    if (df.columns.isEmpty) Seq.empty
    else df.select("k", "v", "ts").as[Img].collect().toSeq

  private def sorted[A](xs: Seq[A])(implicit o: Ordering[A]): Seq[A] = xs.sorted

  private def diff(from: Set[Img], to: Set[Img]): Seq[(Img, Long)] =
    sorted((to -- from).toSeq.map(_ -> 1L) ++ (from -- to).toSeq.map(_ -> -1L))

  /** Runs one sequence; returns normally or fails an assertion. */
  private def runSequence(ops: List[Op]): Unit = {
    val t = Files.createTempDirectory("graft-feed-model").resolve("t").toString
    var nb = 2
    val model = new Model
    var waves = Vector.empty[List[Img]]
    var images = Map(0L -> Set.empty[Img])
    var deletes = Set.empty[Long]
    def head: Long = KeyedUpsertSink.tableVersions(t).lastOption.getOrElse(0L)
    def upsert(rs: List[Img]): Unit = {
      KeyedUpsertSink.upsertBucketedDelta(spark, t, keys, order,
        numBuckets = nb, compactAfter = 0)(rs.toDF("k", "v", "ts"), 0L)
      model.upsert(rs)
    }

    ops.foreach { op =>
      val before = head
      op match {
        case Wave(rs) => waves :+= rs; upsert(rs)
        case Replay(back) =>
          if (waves.nonEmpty) upsert(waves(math.max(0, waves.size - back)))
        case DeleteWhere(below) =>
          KeyedUpsertSink.deleteWhere(spark, t, keys, order,
            col("v") < lit(below), numBuckets = nb, compactAfter = 0)
          model.live.filter(_._2._1 < below).foreach { case (k, (_, ts)) =>
            model.live -= k; model.tombs += k -> ts
          }
          if (head > before) deletes += head
        case Compact(bs) =>
          KeyedUpsertSink.compactBucketChains(spark, t, keys, order, buckets = bs)
        case Purge(below) =>
          KeyedUpsertSink.purgeTombstones(spark, t, keys, order,
            col("ts") < lit(below))
          model.tombs = model.tombs.filter(_._2 >= below)
        case Rebucket =>
          if (KeyedUpsertSink.readManifest(t).nonEmpty) {
            nb = 5 - nb // 2 <-> 3
            KeyedUpsertSink.rebucketTable(spark, t, keys, order, newBuckets = nb)
          }
      }
      val v = head
      if (v > before) {
        assert(v == before + 1, s"$op committed more than one version")
        val img = rows(KeyedUpsertSink.readBucketedDelta(spark, t, keys, order,
          atVersion = Some(v)))
        assert(sorted(img) == sorted(model.image.toSeq),
          s"resolved table at v$v after $op")
        images += v -> img.toSet
        checkFeeds(t, v, images, deletes)
      }
    }
  }

  /** Every feed ending at `v`, collected in one job and compared. */
  private def checkFeeds(t: String, v: Long, images: Map[Long, Set[Img]],
      deletes: Set[Long]): Unit = {
    def tagged(df: DataFrame, tag: String): Option[DataFrame] =
      if (df.columns.isEmpty) None
      else Some(df.select(lit(tag).as("tag"), col("k"), col("v"), col("ts"),
        (if (df.columns.contains("__weight")) col("__weight") else lit(1L))
          .as("w")))
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val refused = scala.collection.mutable.Set.empty[Long]
    (0L until v).foreach { from =>
      frames ++= tagged(KeyedUpsertSink.readChangesWeighted(spark, t, keys,
        order, fromVersion = from, toVersion = Some(v)), s"w$from")
      try frames ++= tagged(KeyedUpsertSink.readChangesBetween(spark, t, keys,
        order, fromVersion = from, toVersion = Some(v)), s"p$from")
      catch { case e: IllegalArgumentException
          if e.getMessage.contains("cannot represent a deletion") =>
        refused += from }
    }
    val touched = KeyedUpsertSink.touchedBucketsAt(t, v)
    touched.toSeq.flatten.foreach { b =>
      frames ++= tagged(KeyedUpsertSink.readChangesSlice(spark, t, keys, order,
        v, Set(b), weighted = true), "s")
    }
    val got: Map[String, Seq[(Img, Long)]] =
      if (frames.isEmpty) Map.empty
      else frames.reduce(_ union _).as[(String, Key, Long, Long, Long)]
        .collect().toSeq.groupBy(_._1).map { case (tag, rs) =>
          tag -> sorted(rs.map(r => ((r._2, r._3, r._4), r._5)))
        }
    (0L until v).foreach { from =>
      val want = diff(images(from), images(v))
      assert(got.getOrElse(s"w$from", Seq.empty) == want,
        s"weighted feed (v$from, v$v]")
      val deleteInRange = deletes.exists(d => d > from && d <= v)
      assert(refused(from) == deleteInRange,
        s"plain feed (v$from, v$v] refusal: refused=${refused(from)}, " +
          s"delete in range=$deleteInRange")
      if (!deleteInRange)
        assert(got.getOrElse(s"p$from", Seq.empty) == want.filter(_._2 == 1L),
          s"plain feed (v$from, v$v]")
    }
    touched.foreach { _ =>
      assert(got.getOrElse("s", Seq.empty) == diff(images(v - 1), images(v)),
        s"bucket slices of v$v")
    }
  }

  test("every change-feed range equals the diff of its endpoint images over random operation sequences") {
    val prop = Prop.forAllNoShrink(genOps) { ops =>
      runSequence(ops)
      true
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(4).withInitialSeed(20261019L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}
