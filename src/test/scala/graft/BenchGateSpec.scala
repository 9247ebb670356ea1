package graft

/** The bench regression gate's re-time adjudication (Bench.gateRegressions):
  * a first-pass flag is only CONFIRMED if the end-of-suite warm re-time also
  * exceeds the gate; cold-position noise (fast re-time) is recorded but
  * cleared. Pure-function spec with fabricated timings. */
class BenchGateSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val pins = Map("q_fast" -> 0.5, "q_slow" -> 0.5, "q_big" -> 3.0)

  test("cold-position noise clears on a fast re-time; real regressions confirm") {
    val results = Seq(
      "q_fast" -> 1.4, // 2.8x pin, >1s -> flagged; re-time fast -> cleared
      "q_slow" -> 1.6, // 3.2x pin, >1s -> flagged; re-time slow -> confirmed
      "q_big" -> 4.0)  // 1.3x pin -> never flagged
    val retimes = Map("q_fast" -> 0.4, "q_slow" -> 1.5)
    var retimed = List.empty[String]
    val (confirmed, report) = Bench.gateRegressions(results,
      pins.get, name => { retimed ::= name; retimes(name) })
    assert(confirmed == Seq("q_slow"))
    assert(retimed.toSet == Set("q_fast", "q_slow")) // only flagged queries re-run
    assert(report.size == 2)
    assert(report.exists(r => r.startsWith("q_fast:") && r.contains("retimed: 0.40s") && r.contains("cleared")))
    assert(report.exists(r => r.startsWith("q_slow:") && r.contains("retimed: 1.50s") && r.contains("confirmed")))
  }

  test("sub-second and unpinned queries never flag, never re-time") {
    val results = Seq(
      "q_fast" -> 0.9,   // 1.8x... under 2x AND under 1s -> no flag
      "q_unpinned" -> 99.0) // no pin -> no flag
    var retimed = 0
    val (confirmed, report) = Bench.gateRegressions(results,
      pins.get, _ => { retimed += 1; 0.0 })
    assert(confirmed.isEmpty && report.isEmpty && retimed == 0)
  }

  test("a re-time above 2x pin but under the 1s floor still clears") {
    val localPins = Map("q_tiny" -> 0.4)
    val (confirmed, report) = Bench.gateRegressions(
      Seq("q_tiny" -> 1.2), localPins.get, _ => 0.9)
    assert(confirmed.isEmpty)
    assert(report.head.contains("cleared"))
  }

  test("a throwing query is a failure, never a timing") {
    val out = Bench.runTimed(TestSession.spark, "unused",
      (_, _) => throw new IllegalStateException("boom\nstack detail"))
    assert(out == Left("IllegalStateException: boom"))
  }

  test("failures are excluded from the total, counted, named, and kept in the full record") {
    val results = Seq("q_a" -> Right(1.5), "q_bad" -> Left("RuntimeException: x"), "q_b" -> Right(2.0))
    val s = Bench.Summary(results, "/sf", 0.2, 0.21, 0, 8)
    val line = graft.config.Specs.parseJson(s.line)
    assert(line.get("value").asDouble == 3.5)
    assert(line.get("n").asInt == 3 && line.get("failed").asInt == 1)
    assert(line.get("failed_queries").get(0).asText == "q_bad")
    assert(line.get("slowest").fieldNames().next() == "q_b")
    val full = graft.config.Specs.parseJson(s.fullLine)
    assert(full.get("value").asDouble == 3.5)
    assert(full.get("queries").size == 2 && !full.get("queries").has("q_bad"))
    assert(full.get("failures").get("q_bad").asText == "RuntimeException: x")
  }

  test("the stdout summary of a full-size suite fits the 1.5 KB budget") {
    val results = (0 until 215).map { i =>
      f"q$i%03d_incremental_substring_dedup" ->
        (if (i % 50 == 7) Left(s"SparkException: task $i failed") else Right(100.0 / (i + 1)))
    }
    val s = Bench.Summary(results, "testdata/sf0.1", 0.123456789, 0.13456789, 2, 32)
    assert(s.line.length < 1500, s"${s.line.length} chars")
    val line = graft.config.Specs.parseJson(s.line)
    assert(line.get("n").asInt == 215 && line.get("failed").asInt == 5)
    assert(line.get("slowest").size == 10 && line.get("cpus").asInt == 32)
    assert(graft.config.Specs.parseJson(s.fullLine).get("queries").size == 210)
  }

  test("only a default-core run writes the pin source") {
    assert(Bench.pinsBaseline(32, default = 32))
    assert(Bench.pinsBaseline(4, default = 4))
    assert(!Bench.pinsBaseline(8, default = 32))
    assert(!Bench.pinsBaseline(32, default = 4))
  }
}
