package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.EtlPipeline
import perfbench.Inputs._
import perfbench.Main.median

/** `etl_ingest`: CSV drops land one at a time, by atomic rename, in the
  * landing directory of `EtlPipeline.runStreaming`; after each drop the
  * stream is drained (one AvailableNow query) and the drop's rows are
  * read back until every one shows its new values. One step = one drop.
  */
final class EtlIngest(spark: SparkSession, dir: String, seed: Long,
    rec: Recorder, tracer: Tracer) extends Workload {

  val shape = EtlShape(prepopRows = EtlIngest.PrepopRows,
    dropRows = EtlIngest.DropRows, updateShare = EtlIngest.UpdateShare)

  private val base = s"$dir/etl"
  private val landing = s"$base/landing"
  private val table = s"$base/table"
  private val ckpt = s"$base/checkpoint"
  private val model = new Models.Lww[Long, Address]
  private var nextDrop = 0
  private var rowsLanded = 0L

  def setup(): Unit = {
    Files.createDirectories(Paths.get(landing))
    land("prepop", prepopulation(seed, shape))
  }

  def warm(): Unit = (0 until EtlIngest.WarmDrops).foreach(_ => step())

  def round(): Int = { step(); 1 }

  private def step(): Unit = {
    val rows = drop(seed, shape, nextDrop)
    nextDrop += 1
    val tLand = land(s"drop-$nextDrop", rows)
    rec.attempt("etl.readback")(awaitVisible(rows))
    val visible = (System.nanoTime() - tLand) / 1e9
    rec.sample("etl.visible", visible)
    if (rec.measuring) rowsLanded += rows.size
  }

  /** Write `rows` as a CSV beside the landing directory, rename it in,
    * and drain the stream; returns the landing instant (ns).
    */
  private def land(name: String, rows: Seq[Address]): Long = {
    val staged = Paths.get(base, s"$name.csv")
    val body = (AddressHeaders.mkString(",") +: rows.map(_.csvLine)).mkString("", "\n", "\n")
    Files.write(staged, body.getBytes(StandardCharsets.UTF_8))
    val tLand = System.nanoTime()
    Files.move(staged, Paths.get(landing, s"$name.csv"), StandardCopyOption.ATOMIC_MOVE)
    rec.attempt("etl.drain") {
      val called = System.nanoTime()
      val q = EtlPipeline.runStreaming(spark, landing, AddressHeaders, table, ckpt)
      tracer.registerQuery(q.id, "etl", called)
      q.awaitTermination()
    }
    rows.foreach(a => model.put(a.id, a))
    tLand
  }

  /** Read the drop's IDs back until each row carries the drop's values. */
  private def awaitVisible(rows: Seq[Address]): Unit = {
    val want = rows.map(a => a.id.toString -> a).toMap
    val deadline = System.nanoTime() + 30e9.toLong
    var missing = want.size
    while (missing > 0) {
      val got = spark.read.parquet(table)
        .where(col("id").isin(want.keys.toSeq: _*))
        .select("id", "house_number", "street_address", "town", "zip").collect()
      missing = want.size - got.count { r =>
        want.get(r.getString(0)).exists(a => a.house == r.getString(1) &&
          a.street == r.getString(2) && a.town == r.getString(3) && a.zip == r.getString(4))
      }
      if (missing > 0) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"etl_ingest: $missing of ${want.size} rows of drop $nextDrop not visible after 30 s")
        Thread.sleep(20)
      }
    }
  }

  def finish(): Unit = {
    val got = spark.read.parquet(table)
      .select("id", "house_number", "street_address", "town", "zip").collect()
    val ids = got.map(_.getString(0))
    require(ids.distinct.length == ids.length,
      s"etl_ingest: the keyed table holds ${ids.length - ids.distinct.length} duplicate IDs")
    val want = model.rows
    require(got.length == want.size,
      s"etl_ingest: table has ${got.length} rows, the LWW model ${want.size}")
    val bad = got.filterNot { r =>
      want.get(r.getString(0).toLong).exists(a => a.house == r.getString(1) &&
        a.street == r.getString(2) && a.town == r.getString(3) && a.zip == r.getString(4))
    }
    require(bad.isEmpty, s"etl_ingest: ${bad.length} rows differ from the LWW model, " +
      s"e.g. ${bad.take(3).mkString("; ")}")
    println(s"check etl_ingest.final_table_equals_lww_model ok (${got.length} rows)")
  }

  def endToEnd(wallS: Double): Map[String, Double] = {
    val vis = rec.samplesOf("etl.visible")
    Map(
      "visible_p50_s" -> median(vis),
      "rows_per_s" -> rowsLanded / vis.sum,
      "bytes_per_row" -> Disk.bytes(table).toDouble / model.size)
  }

  /** The drain's written bytes per landed row are the sink's whole-table
    * rewrite (`upsertBatch`); the read-back is a point read by ID.
    */
  def layers(steps: Int): Map[String, Double] = {
    val drain = tracer.byOp.get("etl.drain")
    Map(
      "sink.commit_s" -> median(rec.samplesOf("etl.drain")),
      "sink.bytes_written_per_row" ->
        drain.map(_.outputBytes.toDouble / math.max(1L, rowsLanded)).getOrElse(0.0),
      "sink.lookup_s" -> median(rec.samplesOf("etl.readback")))
  }
}

object EtlIngest {
  val PrepopRows = 50000
  val DropRows = 2000
  val UpdateShare = 0.5
  val WarmDrops = 2
}
