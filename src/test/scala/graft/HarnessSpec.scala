package graft

import java.nio.file.{Files, Paths}

import graft.gates.Gate

/** The round-8 lesson, pinned: a deliberately broken query must surface as
  * a VISIBLE error in every harness artifact — never as a missing row
  * (Verify used to silently skip the dump) or a fast success (Bench's
  * catch-all recorded analysis-time deaths as 0.06s lines).
  */
class HarnessSpec extends SparkSpec {

  private val harnessGates = Seq(
    Gate("q_ok", (s, dir) => core.Tables.region(s, dir).select("r_regionkey", "r_name"),
      "SELECT r_regionkey, r_name FROM region"),
    Gate("q_broken", (s, _) => s.read.parquet("/nonexistent/graft_broken.parquet"),
      "SELECT 1"))
  private val queries = harnessGates.map(g => g.name -> g.query)

  test("Verify: broken query leaves _ERROR.txt marker + errors.json entry") {
    val out = Files.createTempDirectory("graft_harness").toString
    val errors = Verify.dump(spark, sf("sf0.001"), out, gates = harnessGates)

    assert(errors.keySet === Set("q_broken"))
    // the good query still dumps normally
    assert(new java.io.File(s"$out/q_ok").listFiles.exists(_.getName.endsWith(".parquet")))
    // the broken one leaves a marker dir that cannot be read as parquet —
    // the driver's compare records an `err` row instead of losing the entry
    val marker = Paths.get(s"$out/q_broken/_ERROR.txt")
    assert(Files.exists(marker))
    assert(Files.readString(marker).contains("graft_broken"))
    val sidecar = Files.readString(Paths.get(s"$out/errors.json"))
    assert(sidecar.contains("\"q_broken\""))
    assert(!sidecar.contains("q_ok"))
  }

  test("Verify: gated query with an array column is rejected at dump time") {
    // round 9's only red rows: an ArrayType gate output passes every local
    // stage and dies in the driver's pandas row-sort — so the dump itself
    // must refuse the shape, loudly and prescriptively
    import org.apache.spark.sql.functions._
    val arr = Gate("q_arr", (s, dir) =>
      core.Tables.region(s, dir).select(col("r_regionkey"),
        array(col("r_regionkey"), col("r_regionkey")).as("grid")),
      "SELECT r_regionkey, [r_regionkey, r_regionkey] AS grid FROM region")
    val out = Files.createTempDirectory("graft_harness_arr").toString
    val errors = Verify.dump(spark, sf("sf0.001"), out, gates = Seq(arr))

    assert(errors.keySet === Set("q_arr"))
    assert(errors("q_arr").contains("unsortable column(s) grid"))
    assert(errors("q_arr").contains("pivot"))
    assert(Files.exists(Paths.get(s"$out/q_arr/_ERROR.txt")))
  }

  test("Bench: broken query lands in the errors map, not the timings") {
    val (results, errors) = Bench.run(spark, sf("sf0.001"), queries.sortBy(_._1))

    assert(results.map(_._1) === Seq("q_ok"))
    assert(errors.keySet === Set("q_broken"))
    val json = Bench.renderJson(results, errors, sf("sf0.001"))
    // one parseable line carrying both the timing and the failure
    assert(json.contains("\"q_ok\":") && !json.contains("\"q_broken\":" + "0"))
    assert(json.contains("\"errors\":{\"q_broken\""))
  }

  test("Bench: min-of-passes takes the per-query floor, first-seen order") {
    // r11's contended one-shot capture manufactured 8 false >2x movers
    // (one 16x); every driver capture is now min-of-N so the floor rides
    // the round artifact itself instead of needing judge solo re-runs
    val mins = Bench.minOfPasses(Seq(
      Seq("q_a" -> 2.0, "q_b" -> 1.0),
      Seq("q_b" -> 3.0, "q_a" -> 0.5, "q_c" -> 4.0)))
    assert(mins === Seq("q_a" -> 0.5, "q_b" -> 1.0, "q_c" -> 4.0))
  }

  test("Bench: JSON line carries min queries plus raw per-pass maps") {
    val passes = Seq(Seq("q_a" -> 2.0), Seq("q_a" -> 0.5))
    val json = Bench.renderJson(
      Bench.minOfPasses(passes), Map.empty, "/tmp/sf0.1", raw = passes)
    assert(json.contains(""""queries":{"q_a":0.5}"""))
    assert(json.contains(""""raw":{"pass1":{"q_a":2.0},"pass2":{"q_a":0.5}}"""))
    // the headline total sums the MINS, not the passes
    assert(json.startsWith("""{"metric":"total","value":0.5,"""))
    // raw omitted entirely in single-pass form (fatalLines, bounded shape)
    assert(!Bench.renderJson(passes.last, Map.empty, "/tmp/sf0.1").contains("raw"))
  }

  test("Bench: compact summary trailer carries the headline without the maps") {
    // the r9 driver capture tail-truncated the full JSON line (the
    // per-query map outgrew the window) and lost the total — the trailer
    // is bounded-size, so any tail capture keeps it
    val line = Bench.renderSummary(
      Seq("q_a" -> 1.5, "q_b" -> 2.5), Map("q_c" -> "boom"), "/tmp/sf0.1",
      "false", "0.25", "1.05")
    assert(line ===
      """{"metric":"total_summary","value":4.0,"unit":"sec","n_queries":2,"n_errors":1,"contended":false,"calib_floor":0.25,"calib_spread":1.05,"sf":"/tmp/sf0.1"}""")
  }

  test("Bench: contention sentinel — spread over 1.3x flags the run") {
    // BENCH_r13 shipped a capture the judge's clean re-run measured at a
    // uniform ~2.5x inflation; the sentinel makes such a capture
    // self-reporting instead of needing a judge re-run
    val cleanCal = Bench.calibJson(Seq(1.0, 1.1, 1.05))
    val (cleanFrag, clean) = (cleanCal.frag, cleanCal.contended)
    assert(clean === "false")
    assert(cleanFrag.contains(""""samples":[1.0,1.1,1.05]"""))
    assert(cleanFrag.contains(""""floor":1.0"""))
    // floor + spread are exported for the summary trailer (slow-host
    // vs regression at a glance — VERDICT r16 #6)
    assert(cleanCal.floor === "1.0")
    assert(cleanCal.spread.toDouble > 1.0 && cleanCal.spread.toDouble < 1.1)
    val hot = Bench.calibJson(Seq(1.0, 2.5, 1.0)).contended
    assert(hot === "true")
    // sample 1 is EXCLUDED from the verdict when 3+ samples exist: the
    // JVM keeps warming through pass 1 (measured ~1.7x on an idle box),
    // so a high first sample alone must not flag a clean run...
    assert(Bench.calibJson(Seq(1.7, 1.0, 1.05)).contended === "false")
    // ...but with only 2 samples both count
    assert(Bench.calibJson(Seq(1.7, 1.0)).contended === "true")
    // boundary: exactly 1.3 is NOT contended (limit is strict >)
    assert(Bench.calibJson(Seq(1.0, 1.3)).contended === "false")
    // a mid-run death can leave one sample: unknown, not clean
    val shortCal = Bench.calibJson(Seq(1.0))
    val (shortFrag, unknown) = (shortCal.frag, shortCal.contended)
    assert(unknown === "null")
    assert(shortFrag.contains(""""spread":null"""))
    // the fragment rides the full JSON line before "errors"
    val json = Bench.renderJson(
      Seq("q_a" -> 1.0), Map.empty, "/tmp/sf0.1", extra = cleanFrag)
    assert(json.contains(""","calib":{"samples":[1.0,1.1,1.05],"floor":1.0,"spread":"""))
  }

  test("Bench: rc contract — a fatal setup death still emits parseable lines") {
    // the chosen contract (ADVICE r10 #4): Bench NEVER exits nonzero;
    // failures — per-query OR fatal/pre-measurement — ride only the JSON.
    // main() wraps its body and prints these two lines on any throwable.
    val lines = Bench.fatalLines(
      new IllegalStateException("""table "events" unreadable"""), "/tmp/sf0.1")
    assert(lines.size === 2)
    assert(lines.head.startsWith("""{"metric":"total","value":0.0,"""))
    assert(lines.head.contains(""""errors":{"_fatal":"java.lang.IllegalStateException: table \"events\" unreadable"}"""))
    assert(lines(1) ===
      """{"metric":"total_summary","value":0.0,"unit":"sec","n_queries":0,"n_errors":1,"contended":null,"calib_floor":null,"calib_spread":null,"sf":"/tmp/sf0.1"}""")
  }

  test("Bench: the JSON line survives quotes/backslashes in names and sfDir") {
    // every string field routes through Verify.jq — a pathological
    // SPARK_GRAFT_SF_DIR must not yield an unparseable driver line
    val json = Bench.renderJson(
      Seq("q_\"weird\"" -> 1.5), Map("e\\q" -> "msg \"quoted\"\nline2"),
      """/tmp/sf "0.1"\x""")
    // minimal structural check without a JSON parser on the classpath:
    // balanced quoting means an even count of unescaped quote chars and
    // the exact escaped fragments present
    assert(json.contains("""{"q_\"weird\"":1.5}"""))
    assert(json.contains(""""sf":"/tmp/sf \"0.1\"\\x""""))
    assert(json.contains("""\nline2"""))
    val unescaped = json.replace("\\\\", "").replace("\\\"", "")
    assert(unescaped.count(_ == '"') % 2 === 0)
  }
}
