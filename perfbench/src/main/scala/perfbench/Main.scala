package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload: its state from `setup`, whole rounds of operations
  * per `round` (each timed from outside through the [[Recorder]]), and
  * the end-of-run checks against the [[Models]] in `finish`.
  */
trait Workload {
  /** Build the workload's state: inputs, tables, views. */
  def setup(): Unit
  /** Run the operations once untimed, so the timed rounds start warm. */
  def warm(): Unit
  /** One round; returns how many steps (drops, commits, passes) it made. */
  def round(): Int
  def finish(): Unit
  /** End-to-end metrics by name but `setup_s`, from the measured rounds
    * that took `wallS` seconds.
    */
  def endToEnd(wallS: Double): Map[String, Double]
  /** Per-layer metrics this workload knows, per step. */
  def layers(steps: Int): Map[String, Double]
}

/** The benchmark's JVM entry point. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <cores>`.
  * Writes `result.json` (and `trace.json` when tracing) into `runDir`;
  * stdout carries only `check ...` lines.
  */
object Main {

  val Workloads: Seq[String] = Seq("etl_ingest", "keyed_table", "corpus_curate")

  /** Every end-to-end metric, reported by every workload. */
  val EndToEnd: Seq[String] = Seq("setup_s", "visible_p50_s", "rows_per_s",
    "bytes_per_row")

  /** Every per-layer metric of the traced run; a layer a workload does not
    * exercise reads 0 there.
    */
  val Layers: Seq[String] = Seq("plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "sched.jobs", "sched.tasks", "sched.gap_s",
    "exec.task_cpu_s", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.input_bytes", "exec.output_bytes", "jvm.gc_s", "jvm.jit_s",
    "jvm.heap_peak_mb",
    "stream.start_s", "stream.addBatch_s", "stream.queryPlanning_s",
    "stream.walCommit_s", "stream.latestOffset_s", "stream.triggers",
    "sink.commit_s", "sink.delete_s", "sink.compactions",
    "sink.bytes_written_per_row", "sink.files_written", "sink.max_chain",
    "sink.lookup_s", "sink.scan_s",
    "sink.timetravel_s", "view.maintain_s", "view.feed_rows", "view.bytes",
    "curation.curate_s", "dedup.minhash_s", "sim.semdedup_s",
    "curation.rows", "dedup.rows", "sim.rows")

  /** A failure ends the JVM at once, with the resident streams' threads
    * still running; run.py reports it.
    */
  def main(args: Array[String]): Unit =
    try run(args) catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    require(args.length == 6, "usage: perfbench.Main <workload> <seed> " +
      "<seconds> <trace 0|1> <runDir> <cores>")
    val Array(workload, seedS, secondsS, traceS, runDir, coresS) = args
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val c0 = System.currentTimeMillis()
    SelfCheck.run(seed)
    val c1 = System.currentTimeMillis()

    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", coresS)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .getOrCreate()
    val tracer = new Tracer(spark)
    if (tracing) tracer.attach()
    Jvm.HeapAfterGc.install()

    val data = s"$runDir/data"
    val r = new Recorder(tracing,
      mayFail = if (workload == "keyed_table") KeyedTable.MayFail else Set.empty,
      tag = op => spark.sparkContext.setLocalProperty("perfbench.op", op))
    val wl: Workload = workload match {
      case "etl_ingest" => new EtlIngest(spark, data, seed, r, tracer)
      case "keyed_table" => new KeyedTable(spark, data, seed, r, tracer)
      case "corpus_curate" => new CorpusCurate(spark, runDir, seed, r)
    }

    // setup_s runs from JVM start to the first timed operation: session
    // start, inputs, tables, views and the warm-up
    val s0 = System.currentTimeMillis()
    wl.setup()
    val w0 = System.currentTimeMillis()
    wl.warm()
    val w1 = System.currentTimeMillis()
    val setupS = (w1 - jvmStartMs) / 1e3

    // the measured phase: whole rounds until `seconds` have passed
    System.gc()
    val gc0 = Jvm.gcSeconds; val jit0 = Jvm.jitSeconds
    r.measuring = true; tracer.active = true; Jvm.HeapAfterGc.on = true
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var steps = 0
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      steps += wl.round()
      rounds += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    r.measuring = false; Jvm.HeapAfterGc.on = false
    val gcS = Jvm.gcSeconds - gc0; val jitS = Jvm.jitSeconds - jit0
    if (tracing) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    tracer.active = false

    wl.finish()
    println("check outputs ok")

    val e2e = ordered(EndToEnd, wl.endToEnd(wallS) + ("setup_s" -> setupS))

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> tracing,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "first_failure" -> r.firstFailure.orNull,
      "rounds" -> rounds, "steps" -> steps, "wall_s" -> wallS,
      "jvm_s" -> (c0 - jvmStartMs) / 1e3, "selfcheck_s" -> (c1 - c0) / 1e3,
      "start_s" -> (s0 - jvmStartMs) / 1e3, "setup_data_s" -> (w0 - s0) / 1e3,
      "warm_s" -> (w1 - w0) / 1e3, "end_to_end" -> e2e)
    out("samples") = r.sampleCounts
    out("op_p50_s") = r.sampleMedians
    if (tracing) {
      val layers = ordered(Layers,
        commonLayers(tracer, steps, startMs, endMs, gcS, jitS).toMap ++ wl.layers(steps))
      val gap = tracer.gapSeconds(startMs, endMs)
      val driverSide = tracer.phases.values.sum +
        Seq("walCommit", "latestOffset").map(tracer.streamDurations.getOrElse(_, 0.0)).sum
      out("layers") = layers
      out("ops") = tracer.byOp.map { case (op, c) => op -> Map("jobs" -> c.jobs,
        "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9, "input_bytes" -> c.inputBytes,
        "output_bytes" -> c.outputBytes, "shuffle_write_bytes" -> c.shuffleWrite) }
      out("unattributed_share") = math.max(0.0, gap - driverSide) / wallS
      write(s"$runDir/trace.json", Json.render(out ++ Map(
        "spans" -> r.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "root" -> s.root, "name" -> s.name,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
      )))
    }
    write(s"$runDir/result.json", Json.render(out))
    spark.stop()
  }

  private def commonLayers(t: Tracer, steps: Int, startMs: Long, endMs: Long,
      gcS: Double, jitS: Double): Seq[(String, Double)] = {
    val all = t.byOp.values
    val n = steps.toDouble
    Seq(
      "plan.analysis_s" -> t.phases("analysis") / n,
      "plan.optimization_s" -> t.phases("optimization") / n,
      "plan.planning_s" -> t.phases("planning") / n,
      "sched.jobs" -> all.map(_.jobs).sum / n,
      "sched.tasks" -> all.map(_.tasks).sum / n,
      "sched.gap_s" -> t.gapSeconds(startMs, endMs) / n,
      "exec.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / n,
      "exec.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum / n,
      "exec.spill_bytes" -> all.map(_.spill).sum / n,
      "exec.input_bytes" -> all.map(_.inputBytes).sum / n,
      "exec.output_bytes" -> all.map(_.outputBytes).sum / n,
      "jvm.gc_s" -> gcS / n,
      "jvm.jit_s" -> jitS / n,
      "jvm.heap_peak_mb" -> Jvm.HeapAfterGc.peakMb,
      "stream.start_s" -> median(t.streamStartS.toSeq),
      "stream.addBatch_s" -> t.streamDurations.getOrElse("addBatch", 0.0) / n,
      "stream.queryPlanning_s" -> t.streamDurations.getOrElse("queryPlanning", 0.0) / n,
      "stream.walCommit_s" -> t.streamDurations.getOrElse("walCommit", 0.0) / n,
      "stream.latestOffset_s" -> t.streamDurations.getOrElse("latestOffset", 0.0) / n,
      "stream.triggers" -> t.streamTriggers.values.sum / n)
  }

  /** `got` in the order of `names`, 0 for a name it lacks; a name
    * outside `names` is a harness bug and ends the run.
    */
  private def ordered(names: Seq[String], got: Map[String, Double]) = {
    val unknown = got.keySet -- names
    require(unknown.isEmpty, s"metrics outside the declared list: $unknown")
    mutable.LinkedHashMap(names.map(n => n -> got.getOrElse(n, 0.0)): _*)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the run files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
