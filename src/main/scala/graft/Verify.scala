package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Given query
  * names after `<sfDir> <outDir>`, it dumps only those, and the two json
  * files cover only them, so `tools/check_oracle.py` checks just those.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = Config.verifyArgs(args) // fail fast, named message
    val spark = Config.session()
    try dump(spark, sfDir, outDir, names) finally spark.stop()
  }

  /** Refuses names that are not SparkEntry queries. */
  def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Writes `names`' results (every query when empty) under `outDir`,
    * with `oracle_sql.json` and `verify_meta.json` beside them.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String] = Seq.empty): Unit = {
    requireKnown(names)
    Tables.probeFixtures(spark, sfDir) // fail-loud fixture drift diagnosis
    new java.io.File(outDir).mkdirs()
    val chosen =
      if (names.isEmpty) SparkEntry.queries.toSeq
      else names.distinct.map(n => n -> SparkEntry.queries(n))
    chosen.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure before the overwrite executes leaves a PREVIOUS
        // run's parquet behind in a reused outDir — the compare would
        // then grade stale output green; a broken query must be absent,
        // not stale
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          val s = Files.walk(dir)
          try s.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          finally s.close()
        }
      }
    }
    def slice(n: String) = names.isEmpty || names.contains(n)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      VerifyJson.render(SparkEntry.oracleSql.filter { case (n, _) => slice(n) }))
    // machine-readable split of "no oracle BY CONSTRUCTION" from "no
    // oracle by omission": a consumer tallying correctness should count
    // these as rows_only, not as errors (they are sketch-internal
    // results with hash-green exact twins — see SparkEntry.rowsOnly)
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      "{\"rows_only\": " + SparkEntry.rowsOnly.filter(slice).toSeq.sorted
        .map(VerifyJson.quote).mkString("[", ",", "]") + "}")
  }
}

/** Minimal JSON object rendering for oracle_sql.json. Extracted (and
  * round-trip-tested against Jackson in VerifyJsonSpec): a malformed
  * escape here would make the driver's json.load fail and silently zero
  * the round's correctness signal.
  */
object VerifyJson {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20). */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(m: Map[String, String]): String =
    m.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
}
