package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded by the benchmark around the
  * public entry point it calls. `parent` is the enclosing span (a round
  * of the workload); spans of one round share its id as `root`.
  */
final case class Span(id: Int, parent: Int, root: Int, name: String,
    startNs: Long, endNs: Long)

/** Timing and outcome bookkeeping for one run. Samples are kept per
  * operation name; spans only when tracing. `attempt` counts every
  * operation, and only an operation listed in `mayFail` may fail without
  * ending the run.
  */
final class Recorder(val tracing: Boolean, mayFail: Set[String],
    tag: String => Unit) {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[(Int, String)] = Nil
  var attempted = 0L
  var failed = 0L
  var firstFailure: Option[String] = None
  var measuring = false

  def sample(name: String, seconds: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += seconds

  def samplesOf(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq
  def sampleCounts: Map[String, Int] = samples.map { case (k, v) => k -> v.size }.toMap
  def sampleMedians: Map[String, Double] =
    samples.map { case (k, v) => k -> Main.median(v.toSeq) }.toMap

  /** Time `f` as a span named `name` (and a sample of it when measuring);
    * Spark jobs it launches are tagged with the name.
    */
  def span[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val root = if (stack.isEmpty) id else stack.last._1
    stack = (id, name) :: stack
    tag(name)
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      tag(stack.headOption.map(_._2).orNull)
      sample(name, (t1 - t0) / 1e9)
      if (tracing && measuring) spans += Span(id, parent, root, name, t0, t1)
    }
  }

  /** One counted operation: a span that may fail only if it is listed. */
  def attempt[T](name: String)(f: => T): Option[T] = {
    if (measuring) attempted += 1
    try Some(span(name)(f)) catch {
      case e: Throwable if mayFail(name) =>
        if (measuring) failed += 1
        if (firstFailure.isEmpty) firstFailure = Some(s"$name: ${rootCause(e)}")
        None
    }
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val msg = Option(c.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${c.getClass.getSimpleName}: $msg".take(600)
  }
}

/** The traced run's listeners: per-layer counters from the scheduler
  * (jobs, tasks, task metrics, idle gaps), the planner
  * (`QueryExecution.tracker` phases) and the streaming engine
  * (`StreamingQueryProgress`). Task metrics are attributed to the
  * benchmark operation that launched the job through the `perfbench.op`
  * local property.
  */
final class Tracer(spark: SparkSession) {
  final class OpCounters {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var inputBytes = 0L
    var outputBytes = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  val byOp = mutable.LinkedHashMap[String, OpCounters]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.HashMap[Int, Long]()
  val phases = mutable.LinkedHashMap[String, Double]("analysis" -> 0.0,
    "optimization" -> 0.0, "planning" -> 0.0)
  val streamDurations = mutable.LinkedHashMap[String, Double]()
  val streamRows = mutable.LinkedHashMap[String, Long]()
  val streamTriggers = mutable.LinkedHashMap[String, Long]()
  private val queryKind = mutable.HashMap[java.util.UUID, String]()
  private val queryCalled = mutable.HashMap[java.util.UUID, Long]()
  val streamStartS = mutable.ArrayBuffer[Double]()
  @volatile var active = false

  private def ops(name: String) = byOp.getOrElseUpdate(name, new OpCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (!active) return
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .getOrElse("other")
      ops(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += (s -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!active || e.taskMetrics == null) return
      val c = ops(stageOp.getOrElse(e.stageId, "other"))
      val m = e.taskMetrics
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = synchronized {
      if (!active) return
      qe.tracker.phases.foreach { case (p, s) =>
        if (phases.contains(p)) phases(p) += s.durationMs / 1e3
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (!active) return
        val p = e.progress
        val kind = queryKind.getOrElse(p.id, "other")
        queryCalled.remove(p.id).foreach(t0 => streamStartS += (System.nanoTime() - t0) / 1e9)
        streamTriggers(kind) = streamTriggers.getOrElse(kind, 0L) + 1
        streamRows(kind) = streamRows.getOrElse(kind, 0L) + p.numInputRows
        p.durationMs.asScala.foreach { case (k, v) =>
          streamDurations(k) = streamDurations.getOrElse(k, 0.0) + v.longValue / 1e3
        }
      }
  }

  /** Tag the stream a query started by `kind` at call time `calledNs`. */
  def registerQuery(id: java.util.UUID, kind: String, calledNs: Long): Unit = synchronized {
    queryKind(id) = kind
    if (active) queryCalled(id) = calledNs
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wall time inside [startMs, endMs] with no job running. */
  def gapSeconds(startMs: Long, endMs: Long): Double = synchronized {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (endMs - startMs - busy) / 1e3
  }
}

/** Runtime counters read from the JVM's management beans. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jitSeconds: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Peak heap in use right after a collection, over the measured phase:
    * read from every GC's own after-collection usage notification.
    */
  object HeapAfterGc {
    @volatile private var peak = 0L
    @volatile var on = false
    def peakMb: Double = peak / (1024.0 * 1024.0)
    def install(): Unit = gcBeans.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if isHeap(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ => ()
    }
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private def isHeap(pool: String) = heapPools(pool)
  }
}

/** Directory walks: data bytes and file counts of a table on disk. */
object Disk {
  def dataFiles(root: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        java.nio.file.Files.isRegularFile(f) && n.endsWith(".parquet")
      }.toList finally s.close()
    }
  }
  def bytes(root: String): Long = dataFiles(root).map(java.nio.file.Files.size).sum

  def delete(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
