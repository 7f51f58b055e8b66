package graft.tools

import org.apache.spark.sql.functions._

import graft.sink.MaterializedAggView

/** Second-DRIVER half of the materialized-view maintainer race
  * (MaterializedViewRaceSpec forks this main in its own JVM): the
  * watermark CAS claims two *drivers* — no shared monitor, only
  * `link(2)` put-if-absent on the view table's manifest files — cannot
  * corrupt one view: every refresh either commits its exact (from, to]
  * range, loses LOUDLY (`ConcurrentModificationException`), or observes
  * idle.
  *
  * Loops refresh attempts against the shared view until the parent's
  * DONE file exists and the view is idle. One log line per outcome so
  * the spec can stitch both drivers' committed ranges into one chain.
  *
  * args: basePath viewPath doneFile
  */
object MviewRacer {
  def main(args: Array[String]): Unit = {
    val Array(basePath, viewPath, doneFile) = args
    val spark = graft.Config.session(2)
    try {
      val keys = Seq("k")
      val order = Seq(col("ts"))
      val dims = Seq("g")
      val aggs = Seq(MaterializedAggView.AggCol("sum_v", col("v")),
        MaterializedAggView.AggCol("n", lit(1L)))
      var idleAfterDone = false
      val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
      while (!idleAfterDone && System.nanoTime() < deadline) {
        val done = java.nio.file.Files.exists(java.nio.file.Paths.get(doneFile))
        try {
          MaterializedAggView.refresh(
            spark, basePath, viewPath, keys, order, dims, aggs) match {
            case Some((from, to)) =>
              println(s"MVRACER ok from=$from to=$to")
            case None =>
              println("MVRACER idle")
              if (done) idleAfterDone = true else Thread.sleep(50)
          }
        } catch {
          // a loser can also die INSIDE its refresh (a generation its
          // snapshot references reclaimed under it after two winner
          // advances) — any loss is legal for this racer, only silent
          // corruption isn't (the spec re-derives correctness from the
          // final view)
          case scala.util.control.NonFatal(e) =>
            println(s"MVRACER lost: ${e.getClass.getSimpleName} " +
              String.valueOf(e.getMessage).take(80))
        }
      }
      if (!idleAfterDone) sys.error("racer never drained to idle")
      println("MVRACER DONE")
    } finally spark.stop()
  }
}
