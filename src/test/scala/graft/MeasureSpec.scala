package graft

/** The measurement core Bench and tools.Profile share: one run of a
  * query yields at least one job, at least one task per job, a
  * non-negative driver gap, and job-covered time plus the gap equal to
  * the wall.
  */
class MeasureSpec extends SparkSpec {

  Seq("etl_upsert_delta", "dedup_minhash").foreach { name =>
    test(s"$name: the layers of one run add up to its wall") {
      val run = Bench.measure(spark, Sf0001, name)
      val l = run.layers
      assert(run.ok)
      assert(l.keys.toSeq == Bench.layerNames)
      assert(l("sched.jobs") >= 1 && l("sched.jobs") == run.jobs.size)
      assert(l("sched.tasks") >= l("sched.jobs"), l)
      assert(run.jobs.forall(j => j.tasks >= 1 && j.endMs >= j.startMs), run.jobs)
      assert(l("sched.gap_s") >= 0, l)
      val sum = l("sched.covered_s") + l("sched.gap_s")
      assert(math.abs(sum - run.wall) <= math.max(0.05 * run.wall, 0.05),
        s"covered + gap = $sum s against a wall of ${run.wall} s")
      assert(l("plan.analysis_s") >= 0 && l("plan.planning_s") >= 0, l)
      assert(run.plan.isDefined)
    }
  }
}
