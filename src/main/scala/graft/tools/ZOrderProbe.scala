package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Layout

/** Dev-only: measured evidence for Z-ORDER clustering
  * ([[Layout.writeZOrdered]]) — bytes actually read under 2-D range
  * filters, across three physical layouts of the same 10× events table:
  * random (round-robin files), single-column sorted (user_id), and
  * Z-ordered (user_id, hour). The single-column layout prunes one
  * dimension and is blind to the other; the Z-curve splits its
  * locality budget so BOTH dimensions prune. Parquet footer min/max +
  * pushed filters do all the work — the layout is the only variable.
  */
object ZOrderProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Config.session()
    val tmp = "/tmp/graft-zorder"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.1")
    val base = ProbeCorpus.eventCopies(ev, 10)
      .select(col("user_id"),
        expr("ts_ms div 3600000").as("hour"), col("value"))

    def write(path: String)(w: DataFrame => Unit): DataFrame = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) w(base)
      spark.read.parquet(path)
    }
    val rand = write(s"$tmp/random")(
      _.repartition(64).write.parquet(s"$tmp/random"))
    val sorted = write(s"$tmp/sorted") { d =>
      d.repartitionByRange(64, col("user_id"))
        .sortWithinPartitions("user_id").write.parquet(s"$tmp/sorted")
    }
    val zed = write(s"$tmp/zorder") { d =>
      Layout.writeZOrdered(d, "user_id", "hour", s"$tmp/zorder", 64)
    }

    def measure(label: String, df: DataFrame): Unit = {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // drain the listener bus
      spark.sparkContext.removeSparkListener(listener)
      println(f"ZORDER $label ${bytes.get / 1048576.0}%.1f MiB $wall%.2f s rows=$n")
    }

    val (u1, u2) = (100L, 120L)
    val dr = base.agg(min("hour"), max("hour")).head()
    val (hourLo, hourHi) = (dr.getLong(0), dr.getLong(1))
    val d1 = hourLo + (hourHi - hourLo) / 4
    val d2 = d1 + math.max(1L, (hourHi - hourLo) / 50)
    val filters = Seq(
      "user_only" -> ((d: DataFrame) =>
        d.filter(col("user_id").between(u1, u2))),
      "hour_only" -> ((d: DataFrame) =>
        d.filter(col("hour").between(d1, d2))),
      "both_dims" -> ((d: DataFrame) =>
        d.filter(col("user_id").between(u1, u2) && col("hour").between(d1, d2))))
    for ((fname, f) <- filters; (lname, df) <- Seq(
        "random" -> rand, "sorted_user" -> sorted, "zorder" -> zed))
      measure(s"${fname}_$lname", f(df))
    spark.stop()
  }
}
