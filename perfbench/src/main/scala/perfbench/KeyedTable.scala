package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sink.{KeyedUpsertSink, MaterializedAggView}
import graft.sink.MaterializedAggView.AggCol
import perfbench.Inputs._
import perfbench.Main.median

/** `keyed_table`: upsert waves and periodic `deleteWhere` commits on a
  * versioned keyed table (delta protocol, 8 buckets, default
  * compaction). The integral view is maintained by a resident
  * `maintainStream` (processing-time trigger), as a deployed view is.
  * After every commit: wait until the view's watermark reaches the
  * commit and read the view, one batch of point lookups, one full
  * resolved read and one time-travel read of the previous version. One
  * step = one commit; one round = `DeleteEvery` commits (one of them a
  * delete, the others upsert waves) followed by one `refresh` of the
  * decimal view.
  */
final class KeyedTable(spark: SparkSession, dir: String, seed: Long,
    rec: Recorder, tracer: Tracer) extends Workload {
  import KeyedTable._

  val shape = TableShape(prepopRows = PrepopRows, waveRows = WaveRows,
    updateShare = UpdateShare, users = Users, skew = Skew, deleteEvery = DeleteEvery)

  private val keys = Seq("event_id")
  private def order = Seq(col("ts_us"))
  private val dims = Seq("event_type")
  private val intAggs = Seq(AggCol("n", lit(1L)), AggCol("sum_value", col("value")))
  private val decAggs = Seq(AggCol("sum_amount", col("amount")))

  private val base = s"$dir/table"
  private val table = s"$base/table"
  private val viewInt = s"$base/view_int"
  private val viewDec = s"$base/view_dec"
  private val model = new Models.Lww[Long, Event]
  private var intStream: StreamingQuery = _
  private var waves = 0
  private var deletes = 0
  private var commits = 0
  private val digests = mutable.LinkedHashMap[Long, (Long, Long, Long, Long)]()
  private var rowsCommitted = 0L
  private var maxChainSeen = 0
  private var compactions = 0
  private var filesWritten = 0L
  private var knownFiles = Set.empty[java.nio.file.Path]
  private var decimalChecks = 0
  private val bytesPerRow = mutable.ArrayBuffer[Double]()

  def setup(): Unit = {
    upsert(tablePrepop(seed, shape))
    digests(head) = Models.digest(model.rows.values)
    MaterializedAggView.bootstrap(spark, table, viewInt, keys, order, dims, intAggs)
    MaterializedAggView.bootstrap(spark, table, viewDec, keys, order, dims, decAggs)
    val called = System.nanoTime()
    intStream = MaterializedAggView.maintainStream(spark, table, viewInt, keys,
      order, dims, intAggs, checkpointDir = s"$base/ckpt_view_int",
      trigger = Trigger.ProcessingTime(TriggerMs))
    tracer.registerQuery(intStream.id, "view_int", called)
  }

  /** One delete commit with its reads, and the decimal view's first
    * refresh: every operation kind runs once before the timed rounds.
    */
  def warm(): Unit = { step(); maintainDecimal() }

  def round(): Int = {
    (0 until shape.deleteEvery).foreach(_ => step())
    maintainDecimal()
    shape.deleteEvery
  }

  private def head: Long = KeyedUpsertSink.tableVersions(table).max

  private def maintainDecimal(): Unit = {
    val want = Models.viewAggregates(model.rows.values)
    for {
      _ <- rec.attempt("view.dec.maintain")(
        MaterializedAggView.refresh(spark, table, viewDec, keys, order, dims, decAggs))
      got <- rec.attempt("view.dec.read")(MaterializedAggView.read(spark, viewDec)
        .select("event_type", "sum_amount").collect()
        .map(r => r.getString(0) -> r.getDecimal(1).setScale(2)).toMap)
    } {
      val exp = want.map { case (t, (_, _, a)) => t -> a }
      require(got == exp, s"keyed_table: decimal view differs from the model: " +
        s"got $got, want $exp")
      decimalChecks += 1
    }
  }

  private def step(): Unit = {
    val isDelete = commits % shape.deleteEvery == 0
    val t0 = System.nanoTime()
    if (isDelete) {
      val user = deletedUser(seed, deletes,
        model.rows.values.map(_.userId).toSeq.distinct.sorted.toIndexedSeq)
      deletes += 1
      rec.attempt("sink.delete") {
        KeyedUpsertSink.deleteWhere(spark, table, keys, order, col("user_id") === user,
          numBuckets = Buckets)
      }
      model.rows.values.filter(_.userId == user).map(_.eventId).toList.foreach(model.delete)
    } else {
      val rows = wave(seed, shape, waves)
      waves += 1
      upsert(rows)
      if (rec.measuring) rowsCommitted += rows.size
    }
    commits += 1
    val t1 = System.nanoTime()
    rec.sample("table.commit", (t1 - t0) / 1e9)
    val v = head
    val previous = digests.keys.lastOption
    digests(v) = Models.digest(model.rows.values)
    if (rec.measuring) walkTable()

    val want = Models.viewAggregates(model.rows.values)
    rec.attempt("view.int.visible") {
      awaitWatermark(v)
      rec.sample("view.int.maintain", (System.nanoTime() - t1) / 1e9)
      val got = MaterializedAggView.read(spark, viewInt)
        .select("event_type", "n", "sum_value").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val exp = want.map { case (t, (n, s, _)) => t -> (n, s) }
      require(got == exp, s"keyed_table: integral view at v$v differs from the " +
        s"model: got $got, want $exp")
    }
    rec.sample("table.visible", (System.nanoTime() - t0) / 1e9)

    rec.attempt("sink.lookup")(lookup())
    rec.attempt("sink.scan")(
      KeyedUpsertSink.readBucketedDelta(spark, table, keys, order)
        .write.format("noop").mode("overwrite").save())
    rec.attempt("sink.timetravel") {
      previous.foreach { pv =>
        val r = KeyedUpsertSink.readBucketedDelta(spark, table, keys, order, Some(pv))
          .agg(count(lit(1)), sum("event_id"), sum("value"), sum("ts_us")).head()
        val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        require(got == digests(pv), s"keyed_table: time-travel read at v$pv gives " +
          s"$got, the model ${digests(pv)}")
      }
    }
  }

  /** Wait until the resident maintenance stream has folded version `v`. */
  private def awaitWatermark(v: Long): Unit = {
    val deadline = System.nanoTime() + 60e9.toLong
    while (!MaterializedAggView.watermark(viewInt).exists(_ >= v)) {
      intStream.exception.foreach(e => throw new IllegalStateException(
        "keyed_table: the integral view's maintenance stream failed", e))
      if (System.nanoTime() > deadline) throw new IllegalStateException(
        s"keyed_table: the integral view did not reach v$v within 60 s " +
          s"(watermark ${MaterializedAggView.watermark(viewInt)})")
      Thread.sleep(5)
    }
  }

  private def upsert(rows: Seq[Event]): Unit = {
    rec.attempt("sink.commit") {
      KeyedUpsertSink.upsertBucketedDelta(spark, table, keys, order,
        numBuckets = Buckets)(frame(rows), commits.toLong)
    }
    rows.foreach(e => model.put(e.eventId, e))
  }

  private def lookup(): Unit = {
    val live = model.rows.keys.toIndexedSeq
    val ks = lookupKeys(seed, LookupKeys, live, model.deletedKeys.toIndexedSeq,
      shape.idsBefore(waves) + commits)
    val keyDf = spark.createDataFrame(ks.map(k => Row(k)).asJava,
      StructType(Seq(StructField("event_id", LongType))))
    val got = KeyedUpsertSink.lookupBucketed(spark, table, keys, order, keyDf)
      .select("event_id", "user_id", "event_type", "value", "amount", "ts_us")
      .collect().map(r => r.getLong(0) -> Event(r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getDecimal(4).unscaledValue.longValueExact,
        r.getLong(5))).toMap
    val exp = ks.flatMap(k => model.get(k).map(k -> _)).toMap
    require(got == exp, s"keyed_table: lookup of ${ks.size} keys returned " +
      s"${got.size} rows, the model ${exp.size}; differing keys " +
      s"${(got.keySet ++ exp.keySet).filter(k => got.get(k) != exp.get(k)).take(5)}")
  }

  /** After each measured commit: data bytes per live row, files the
    * commit wrote, and chain lengths (a drop in the longest chain is a
    * compaction).
    */
  private def walkTable(): Unit = {
    val files = Disk.dataFiles(table).toSet
    filesWritten += (files -- knownFiles).size
    knownFiles = files
    bytesPerRow += files.toSeq.map(java.nio.file.Files.size).sum.toDouble / model.size
    val chain = KeyedUpsertSink.tableStats(table).map(_.chainLen).maxOption.getOrElse(0)
    if (chain < maxChainSeen) compactions += 1
    maxChainSeen = chain
  }

  private def frame(rows: Seq[Event]): DataFrame =
    spark.createDataFrame(rows.map(e => Row(e.eventId, e.userId, e.eventType,
      e.value, e.amount, e.tsUs)).asJava, EventSchema)

  def finish(): Unit = {
    intStream.stop()
    val got = KeyedUpsertSink.readBucketedDelta(spark, table, keys, order)
      .select("event_id", "user_id", "event_type", "value", "amount", "ts_us")
      .collect().map(r => Event(r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDecimal(4).unscaledValue.longValueExact, r.getLong(5)))
    val exp = model.rows
    require(got.length == exp.size && got.forall(e => exp.get(e.eventId).contains(e)),
      s"keyed_table: the resolved table (${got.length} rows) differs from the " +
        s"LWW model (${exp.size} rows)")
    val resurrected = got.count(e => model.deletedKeys.contains(e.eventId))
    require(resurrected == 0, s"keyed_table: $resurrected deleted keys are readable")
    println(s"check keyed_table.full_read_equals_lww_model ok (${got.length} rows, " +
      s"${model.deletedKeys.size} deleted keys absent)")
    println(s"check keyed_table.lookups_views_timetravel_equal_model ok " +
      s"($commits commits, decimal view checked $decimalChecks times)")
  }

  /** The visible latency is the integral view's; the throughput counts
    * upserted rows over the whole measured mix (commits, view, lookups,
    * full and time-travel reads, the decimal view's passes), so a change
    * that moves cost from writes to reads shows in it.
    */
  def endToEnd(wallS: Double): Map[String, Double] = Map(
    "visible_p50_s" -> median(rec.samplesOf("table.visible")),
    "rows_per_s" -> rowsCommitted / wallS,
    "bytes_per_row" -> median(bytesPerRow.toSeq))

  def layers(steps: Int): Map[String, Double] = {
    val commitOut = Seq("sink.commit", "sink.delete")
      .flatMap(tracer.byOp.get).map(_.outputBytes).sum
    Map(
      "sink.commit_s" -> median(rec.samplesOf("sink.commit")),
      "sink.delete_s" -> median(rec.samplesOf("sink.delete")),
      "sink.compactions" -> compactions.toDouble / steps,
      "sink.bytes_written_per_row" -> commitOut.toDouble / math.max(1L, rowsCommitted),
      "sink.files_written" -> filesWritten.toDouble / steps,
      "sink.max_chain" -> KeyedUpsertSink.tableStats(table).map(_.chainLen)
        .maxOption.getOrElse(0).toDouble,
      "sink.lookup_s" -> median(rec.samplesOf("sink.lookup")),
      "sink.scan_s" -> median(rec.samplesOf("sink.scan")),
      "sink.timetravel_s" -> median(rec.samplesOf("sink.timetravel")),
      "view.maintain_s" -> median(rec.samplesOf("view.int.maintain")),
      "view.feed_rows" -> tracer.streamRows.getOrElse("view_int", 0L).toDouble / steps,
      "view.bytes" -> Disk.bytes(viewInt).toDouble)
  }
}

object KeyedTable {
  /** The decimal view's first fold publishes it at another decimal
    * precision than its bootstrap did, and every later read of it fails
    * (the read behind the next fold, and a plain read). These operations
    * are counted, not fatal; a read that succeeds must still match the
    * model.
    */
  val MayFail: Set[String] = Set("view.dec.maintain", "view.dec.read")

  val PrepopRows = 10000
  val WaveRows = 1000
  val UpdateShare = 0.3
  val Users = 500
  val Skew = 1.2
  val DeleteEvery = 2
  val LookupKeys = 20
  val Buckets = 8
  /** The resident integral-view stream's trigger interval. */
  val TriggerMs = 100L

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("amount", DecimalType(18, 2), nullable = false),
    StructField("ts_us", LongType, nullable = false)))
}
