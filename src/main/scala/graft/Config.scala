package graft

import java.nio.file.{Files, Paths}

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

  /** Verify's positional args: `<sfDir> <outDir>`. */
  def verifyArgs(args: Array[String]): (String, String) = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> — got ${args.length} argument(s)")
    (dataDir(args(0), "sfDir (arg 1)"), args(1))
  }
}
