package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's failure arithmetic — the exact surface a -1.0 sentinel once
  * corrupted (a failed run used to flow into medians and SHRINK the
  * headline total) — plus the round-10 min/median twin stats. */
class BenchSpec extends AnyFunSuite {

  test("min, median and trimmed mean ignore failed runs") {
    assert(Bench.statsOverSuccesses(Seq(Some(1.0), None, Some(3.0))) === (Some(1.0), Some(3.0), Some(1.0), 1))
    assert(Bench.statsOverSuccesses(Seq(Some(2.0), Some(1.0), Some(3.0))) === (Some(1.0), Some(2.0), Some(1.5), 0))
    assert(Bench.statsOverSuccesses(Seq(None, None, None)) === (None, None, None, 3))
    assert(Bench.statsOverSuccesses(Nil) === (None, None, None, 0))
    // one successful run: the trimmed mean IS that run (nothing to trim)
    assert(Bench.statsOverSuccesses(Seq(Some(4.0), None, None)) === (Some(4.0), Some(4.0), Some(4.0), 2))
  }

  test("min is the headline; a mode-swung run inflates the median but not the min") {
    // the round-9 scenario: identical code, one run lands in the slow JVM
    // mode — min stays at the noise floor, median records the swing
    val (mn, med, trim, f) = Bench.statsOverSuccesses(Seq(Some(2.1), Some(7.9), Some(2.2)))
    assert(mn === Some(2.1) && med === Some(2.2) && f === 0)
    // the trimmed mean ALSO sheds the swung run (drop-max), but averages
    // the two calm draws instead of picking the luckier one — the
    // round-17 headline-noise stat (BENCH_HISTORY §headline noise)
    assert(math.abs(trim.get - 2.15) < 1e-12)
  }

  test("trimmed mean averages calm-band jitter the min samples") {
    // three calm runs: min picks the luckiest draw, trimmed averages the
    // two fastest — same-code sessions differ less in the trimmed stat
    val (_, _, t1, _) = Bench.statsOverSuccesses(Seq(Some(1.00), Some(1.10), Some(1.06)))
    val (_, _, t2, _) = Bench.statsOverSuccesses(Seq(Some(1.04), Some(1.12), Some(1.02)))
    assert(math.abs(t1.get - 1.03) < 1e-12)
    assert(math.abs(t2.get - 1.03) < 1e-12)
  }

  test("all-failed queries are excluded from both totals and counted, partial failures listed") {
    val json = Bench.renderJson(Seq(
      ("q_ok", Some(1.5), Some(1.6), Some(1.55), 0, 3),
      ("q_flaky", Some(2.0), Some(2.5), Some(2.25), 1, 3),
      ("q_dead", None, None, None, 3, 3)), runsPerQuery = 3, sfDir = "/sf")
    // total = 1.5 + 2.0 only; q_dead contributes nothing (never -1.0)
    assert(json.contains("\"value\":3.5"), json)
    assert(json.contains("\"stat\":\"min\""), json)
    assert(json.contains("\"queries\":{\"q_ok\":1.5,\"q_flaky\":2.0}"), json)
    assert(json.contains("\"total_median\":4.1"), json)
    assert(json.contains("\"queries_median\":{\"q_ok\":1.6,\"q_flaky\":2.5}"), json)
    assert(json.contains("\"total_trimmed\":3.8"), json)
    assert(json.contains("\"queries_trimmed\":{\"q_ok\":1.55,\"q_flaky\":2.25}"), json)
    assert(json.contains("\"failed_runs\":{\"q_flaky\":1,\"q_dead\":3}"), json)
    assert(json.contains("\"n_failed_queries\":1"), json)
    assert(!json.contains("-1"), json)
  }

  test("clean run renders empty failure and bump fields") {
    val json = Bench.renderJson(Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3)), 3, "/sf")
    assert(json.contains("\"failed_runs\":{}") && json.contains("\"n_failed_queries\":0"))
    assert(json.contains("\"runs_bumped\":{}"), json)
  }

  test("calibration sentinel rides the JSON when measured, absent otherwise") {
    val withCal = Bench.renderJson(Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3)), 3, "/sf",
      calibration = Some(0.42))
    assert(withCal.contains("\"calibration_s\":0.42"), withCal)
    val without = Bench.renderJson(Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3)), 3, "/sf")
    assert(!without.contains("calibration_s"), without)
  }

  test("mid and post-loop sentinel samples ride both renders (storm self-diagnosis)") {
    // the round-14 driver artifact: calm 0.077 pre-loop, storm-inflated
    // tail — undiagnosable without the committed bank. With three samples
    // the artifact carries the signature itself (calm pre, inflated
    // mid/after ⇒ storm arrived mid-run).
    val full = Bench.renderJson(Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3)), 3, "/sf",
      calibration = Some(0.077), calibrationMid = Some(0.31),
      calibrationAfter = Some(0.29))
    assert(full.contains("\"calibration_s\":0.077"), full)
    assert(full.contains("\"calibration_mid_s\":0.31"), full)
    assert(full.contains("\"calibration_after_s\":0.29"), full)
    val compact = Bench.renderCompactJson(Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3)), "/sf",
      calibration = Some(0.077), calibrationMid = Some(0.312345),
      calibrationAfter = Some(0.29))
    assert(compact.contains("\"calibration_mid_s\":0.312"), compact)
    assert(compact.contains("\"calibration_after_s\":0.29"), compact)
    // the compact line must still be valid JSON field order: value first
    assert(compact.startsWith("{\"metric\":\"total\""), compact)
  }

  test("I/O sentinel triple rides both renders when measured, absent otherwise") {
    // round 16: the CPU sentinel cannot see disk contention (the q60 seam
    // A/B's calm-CPU/stormy-I/O leg), so the fsync'd-write sentinel's
    // pre/mid/post samples ride the artifact as one array field
    val rows = Seq(("q1", Some(0.5), Some(0.5), Some(0.5), 0, 3))
    val full = Bench.renderJson(rows, 3, "/sf",
      calibration = Some(0.077), ioCalibration = Seq(0.51, 0.48, 1.93))
    assert(full.contains("\"calibration_io_s\":[0.51,0.48,1.93]"), full)
    val compact = Bench.renderCompactJson(rows, "/sf",
      calibration = Some(0.077), ioCalibration = Seq(0.512345, 0.48, 1.93))
    assert(compact.contains("\"calibration_io_s\":[0.512,0.48,1.93]"), compact)
    assert(compact.startsWith("{\"metric\":\"total\""), compact)
    assert(!Bench.renderJson(rows, 3, "/sf").contains("calibration_io_s"))
    assert(!Bench.renderCompactJson(rows, "/sf").contains("calibration_io_s"))
  }

  test("I/O probe returns a positive wall time and leaves no probe file behind") {
    def probeFiles = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles((_, n) => n.startsWith("graft_ioprobe_"))).map(_.length).getOrElse(0)
    val before = probeFiles
    val t = Bench.ioProbeOnce()
    assert(t > 0.0 && t < 600.0, s"implausible probe time $t s")
    assert(probeFiles === before, "the probe must delete its temp file")
  }

  test("compact stdout line: qNN stems, 3-decimal rounding, fits the driver's 2000-char tail") {
    // realistic shape: 88 queries with full-length names, as in SparkEntry
    val results = (1 to 88).map { i =>
      (f"q$i%02d_some_longish_operator_name", Some(1.23456789 * i % 7),
        Some(1.3 * i % 7), Some(1.25 * i % 7), 0, 3)
    }
    val json = Bench.renderCompactJson(results, "/root/testdata/sf0.1",
      calibration = Some(0.069432519), calibrationMid = Some(0.071234),
      calibrationAfter = Some(0.0699999), detailFile = "bench_metric.json")
    assert(json.length < 1900, s"compact line must fit the tail cap: ${json.length}")
    assert(json.contains("\"q01\":") && json.contains("\"q88\":"), json)
    assert(!json.contains("longish"), json)
    assert(json.contains("\"calibration_s\":0.069"), json)
    assert(json.contains("\"detail\":\"bench_metric.json\""), json)
    assert(json.contains("\"sf\":\"/root/testdata/sf0.1\""), json)
    // value is the rounded min-total and failures are counted, never -1.0
    assert(json.contains("\"n_failed_queries\":0"), json)
  }

  test("compact line falls back to full names when stems collide, and drops dead queries") {
    val json = Bench.renderCompactJson(Seq(
      ("q01_variant_a", Some(1.0), Some(1.0), Some(1.0), 0, 3),
      ("q01_variant_b", Some(2.0), Some(2.0), Some(2.0), 0, 3),
      ("q02_dead", None, None, None, 3, 3)), "/sf")
    assert(json.contains("\"q01_variant_a\":1.0") && json.contains("\"q01_variant_b\":2.0"), json)
    assert(!json.contains("q02_dead"), json)
    assert(json.contains("\"n_failed_queries\":1"), json)
    assert(json.contains("\"value\":3.0"), json)
  }

  test("a spread-bumped query surfaces its deepened run count") {
    val json = Bench.renderJson(Seq(
      ("q_stable", Some(0.5), Some(0.5), Some(0.5), 0, 3),
      ("q_bimodal", Some(2.0), Some(6.8), Some(2.4), 0, 5)), 3, "/sf")
    assert(json.contains("\"runs_bumped\":{\"q_bimodal\":5}"), json)
  }

  test("the timed action defeats count-elision: q90's count drops its joins, materialize keeps them") {
    val spark = SparkSpec.session
    val df = graft.queries.Queries.all("q90_exact_substr_rm")(
      spark, "/root/testdata/sf0.001")
    // count() legitimately optimizes the whole operator away (its output
    // is corpus ⟕ unique-keyed aggregate — the eliminable shape); this is
    // WHY Bench times a full-output noop write instead
    val cntPlan = df.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!cntPlan.toLowerCase.contains("join"),
      s"expected count() to eliminate q90's joins (the hazard this test pins):\n$cntPlan")
    val fullPlan = df.queryExecution.optimizedPlan.toString
    assert(fullPlan.toLowerCase.contains("join"),
      "the full-output plan must retain the operator's joins")
    Bench.materialize(df) // and the timed action itself runs green
    GraftSession.releaseCaches(spark)
  }
}
