package graft.tools

import graft.SparkEntry

/** Dev-only: invoke named queries N times in ONE JVM and assert every
  * rep's result is value-identical to the first — the within-JVM
  * stability proof for memoized-fixture bench queries (the oracle and
  * the cross-JVM determinism audit both run each query once per JVM,
  * so they cannot see a rep-dependent fixture drift).
  *
  * Usage: runMain graft.tools.RepCheck <sfDir> <reps> <name> [name...]
  */
object RepCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Config.session()
    var bad = 0
    names.foreach { name =>
      def snapshot(): Seq[String] =
        SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
      val first = snapshot()
      (2 to reps).foreach { r =>
        val again = snapshot()
        if (again == first)
          println(s"REPCHECK $name rep$r OK (${first.size} rows)")
        else {
          bad += 1
          val missing = first.diff(again).take(3)
          val extra = again.diff(first).take(3)
          println(s"REPCHECK $name rep$r MISMATCH: rows ${first.size} -> " +
            s"${again.size}; missing=$missing extra=$extra")
        }
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
