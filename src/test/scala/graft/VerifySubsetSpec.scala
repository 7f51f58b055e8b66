package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `graft.Verify <sfDir> <outDir> name...` dumps only the named queries,
  * with `oracle_sql.json` and `verify_meta.json` sliced to them, and
  * refuses an unknown name before writing anything.
  */
class VerifySubsetSpec extends SparkSpec {

  private def entries(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def jsonKeys(file: String): Set[String] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(file))).fieldNames().asScala.toSet

  test("a named run writes exactly the named queries and slices both json files to them") {
    val out = Files.createTempDirectory("graft-verify-subset").toString
    val names = Seq("q1_agg", "q_approx_distinct")
    Verify.dump(spark, Sf0001, out, names)
    assert(entries(out) == names.toSet + "oracle_sql.json" + "verify_meta.json")
    assert(jsonKeys(s"$out/oracle_sql.json") ==
      names.filter(SparkEntry.oracleSql.contains).toSet)
    assert(jsonKeys(s"$out/oracle_sql.json").contains("q1_agg"))
    val rowsOnly = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$out/verify_meta.json")))
      .get("rows_only").elements().asScala.map(_.asText).toSet
    assert(rowsOnly == Set("q_approx_distinct"))
  }

  test("an unknown name is refused before anything is written") {
    val out = Files.createTempDirectory("graft-verify-unknown").toString
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, Sf0001, out, Seq("q1_agg", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(entries(out).isEmpty)
    intercept[IllegalArgumentException] {
      Config.verifyArgs(Array(Sf0001, out, "no_such_query"))
    }
  }
}
