package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver keeps only the last 2000 chars of stdout; the artifact line
  * (compact keys + 2-decimal walls) must fit alongside sbt's trailing
  * [success] line (~76 chars). Round 7's 79-query full-name line already
  * clipped its opening brace — these guards keep the 90-query line inside
  * the window and the compact-key scheme invertible.
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("every headline query exists in SparkEntry.queries") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without a query: $missing")
  }

  test("compact keys are collision-free over the headline set") {
    val keys = Bench.headline.map(Bench.compactKey)
    val dups = keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"compact-key collisions: $dups")
  }

  test("worst-case artifact line fits the driver's 2000-char tail") {
    // worst case: every wall two digits before the point ("99.99" = 5 chars),
    // total five digits ("99999.999"), three-digit n_passed, the WORST
    // bounded failed list (compact keys since round 15, capped at 2 names
    // + a "+K" overflow marker — budget the 2 LONGEST compact keys in the
    // headline set; the full artifact carries the complete list), longest
    // sf basename in testdata
    val qs = Bench.headline
      .map(n => "\"" + Bench.compactKey(n) + "\":99.99")
      .mkString("{", ",", "}")
    val worstFailed = (Bench.headline.map(Bench.compactKey)
      .sortBy(-_.length).take(2).map("\"" + _ + "\"") :+ "\"+99\"")
      .mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":99999.999,"unit":"sec","n_passed":999,"queries":$qs,"failed":$worstFailed,"sf":"sf0.001"}"""
    assert(line.length <= 1900,
      s"artifact line ${line.length} chars — exceeds the 1900-char safety budget " +
        "(2000-char driver tail minus sbt's [success] line); shorten keys")
  }

  test("the view-routes diagnostic line is compact-keyed, valid JSON shape, and realistically tail-sized") {
    // round 19: per-rep route counts print as their own stdout line
    // above the artifact (budget-guarded in main against the actual
    // compact length). Realistic worst case: the four routed queries,
    // three reps, two-digit counts — must leave ≥ 1900-char headroom
    // for the artifact line inside the 2000-char tail only in the
    // NORMAL regime, which the in-main guard enforces dynamically;
    // here we pin the line's shape and that it stays small.
    val reps = Seq.fill(3)((99L, 99L, 99L))
    val line = Bench.viewRoutesLine(Seq(
      "etl_view_refresh" -> reps, "etl_view_stream" -> reps,
      "etl_upsert_stream_sink" -> reps, "etl_view_stream_sliced" -> reps))
    assert(line.startsWith("""{"diag":"view_routes","routes":{"""))
    assert(line.contains("\"" + Bench.compactKey("etl_view_refresh") +
      "\":[[99,99,99],"))
    assert(line.length <= 330,
      s"routes line ${line.length} chars — it must stay a small fraction " +
        "of the 2000-char tail or the in-main guard will always drop it")
  }

  test("failed queries do not count toward the headline total") {
    val walls = Seq("a" -> 1.0, "b" -> 2.0, "c" -> 0.05)
    assert(Bench.passedTotal(walls, Set("c")) == 3.0)
    assert(Bench.passedTotal(walls, Set.empty) == 3.05)
    assert(Bench.passedTotal(Seq.empty, Set.empty) == 0.0)
  }
}
