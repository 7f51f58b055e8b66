package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Fail-fast configuration validation for the CLI mains (SURVEY.md §2.5,
  * O3 — the reference validates its env config up front and dies loudly
  * on a missing value rather than failing downstream). Every env var and
  * argument is checked at startup with a message NAMING the offending
  * variable; a bad value must never surface later as an opaque Spark
  * path error twenty queries into a run.
  */
object Config {

  /** `SPARK_GRAFT_CPUS` — local[] parallelism and shuffle partitions;
    * defaults to the processors this JVM may use.
    */
  def cpus(): String = {
    val v = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    require(v.toIntOption.exists(_ > 0),
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
    v
  }

  /** The one SparkSession shape every main builds: `local[cpus]` with as
    * many shuffle partitions, AQE, UTC session time, the UI off and
    * logging at WARN.
    */
  def session(cpus: Int = Config.cpus().toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE size cached/pinned plans' output partitions by bytes
      // (default false keeps the static shuffle.partitions count on every
      // persisted frame — the iterative operators' pinned intermediates
      // then drag `cpus` near-empty tasks into every consumer stage; at
      // cluster scale the same flag yields advisory-sized partitions)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** An existing directory of the driver-generated parquet tables. */
  def dataDir(value: String, label: String): String = {
    require(Files.isDirectory(Paths.get(value)),
      s"$label must be an existing directory (the driver's parquet tables, " +
        s"e.g. /root/testdata/sf0.01), got '$value'")
    value
  }

  /** `SPARK_GRAFT_SF_DIR` — the Bench scale-factor directory. */
  def benchSfDir(): String =
    dataDir(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      "SPARK_GRAFT_SF_DIR")

  /** Verify's positional args: `<sfDir> <outDir> [name...]`. */
  def verifyArgs(args: Array[String]): (String, String, Seq[String]) = {
    require(args.length >= 2,
      s"usage: graft.Verify <sfDir> <outDir> [name...] — got ${args.length} argument(s)")
    val names = args.drop(2).toSeq
    Verify.requireKnown(names)
    (dataDir(args(0), "sfDir (arg 1)"), args(1), names)
  }
}
