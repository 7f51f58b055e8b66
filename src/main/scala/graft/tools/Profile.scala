package graft.tools

import graft.{Bench, Config, SparkEntry, Verify}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.FormattedMode

/** Profiles named queries through the measurement Bench records
  * ([[graft.Bench.measure]]). Each query runs once untimed, so first-plan
  * codegen and JIT stay out of the reps. Each rep prints its wall, its
  * layers, the driver gap (wall minus the union of job intervals:
  * manifest I/O, planning, checkpoint machinery) and one line per Spark
  * job: wall, tasks, task run time, shuffle read and write, input and
  * output MB, and the job's description and stage callsites. After the
  * reps it prints the 25 Catalyst rules that took the most time over
  * them (ineffective runs count: they cost wall too) and the last rep's
  * executed plan.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <reps> <name> [name...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1).toIntOption.exists(_ > 0),
      "usage: graft.tools.Profile <sfDir> <reps> <name> [name...]")
    val (dir, reps, names) = (Config.dataDir(args(0), "sfDir (arg 1)"),
      args(1).toInt, args.drop(2).toSeq)
    Verify.requireKnown(names)
    val spark = Config.session()
    def mb(b: Long): String = f"${b / 1e6}%.1f"
    try names.foreach { name =>
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      RuleExecutor.resetMetrics()
      val runs = (1 to reps).map { r =>
        val run = Bench.measure(spark, dir, name)
        val l = run.layers
        println(f"== $name rep$r wall=${run.wall}%.3f s jobs=${run.jobs.size} " +
          f"catalyst-rules=${l("plan.rules_s")}%.3f s" +
          (if (run.ok) "" else " FAILED"))
        println(f"   job-covered=${l("sched.covered_s")}%.3f s " +
          f"driver-gap=${l("sched.gap_s")}%.3f s")
        println("   " + l.map { case (k, v) =>
          if (k.endsWith("_s")) f"$k=$v%.3f" else f"$k=$v%.0f" }.mkString(" "))
        run.jobs.foreach { j =>
          val w = if (j.endMs > 0) (j.endMs - j.startMs) / 1e3 else -1.0
          println(f"   job ${j.id}%4d $w%7.3f s tasks=${j.tasks}%4d " +
            f"ttime=${j.runMs / 1e3}%6.2f shufR=${mb(j.shuffleRead)}%7s " +
            f"shufW=${mb(j.shuffleWrite)}%7s in=${mb(j.input)}%7s " +
            f"out=${mb(j.output)}%7s  ${j.desc.take(140)}")
        }
        run
      }
      // dumpTimeSpent rows render as
      //   <rule> <effectiveNanos> / <totalNanos> <effectiveRuns> / <runs>
      // — ranked by TOTAL nanos; a row that does not parse is dropped
      val rules = RuleExecutor.dumpTimeSpent().linesIterator.flatMap { line =>
        val parts = line.trim.split("\\s+")
        val i = parts.indexWhere(p => p.nonEmpty && p.forall(_.isDigit))
        if (i > 0 && parts.length >= i + 3 && parts(i + 1) == "/" &&
            parts(i + 2).forall(_.isDigit))
          Some((parts.take(i).mkString(" "), parts(i + 2).toLong))
        else None
      }.toSeq.sortBy(-_._2)
      println(f"== $name rules over $reps rep(s): ${rules.map(_._2).sum / 1e9}%.3f s")
      rules.take(25).foreach { case (rule, ns) =>
        println(f"   ${ns / 1e6}%9.1f ms  $rule")
      }
      runs.last.plan.foreach { qe =>
        println(s"== $name executed plan (rep$reps)")
        println(qe.explainString(FormattedMode))
      }
    } finally spark.stop()
  }
}
