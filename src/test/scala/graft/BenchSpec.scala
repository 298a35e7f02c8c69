package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the bench harness's own safety logic (no SparkSession
  * needed — the timing plumbing is driven by the driver's real Bench run).
  */
class BenchSpec extends AnyFunSuite {

  test("slow-query ceiling names any reading over budget in the emitted JSON fragment") {
    // the r15 failure profile: a brand-new query with no drift baseline
    // that runs for minutes — must be named even though it completes
    val timings = Seq(
      "q01_amp_phase" -> 0.4,
      "q158_hilbert_key" -> 619.6,
      "shared_pair_table" -> 1.3,
      "q999_synthetic_slow" -> 31.0)
    assert(Bench.slowJson(timings) == """["q158_hilbert_key","q999_synthetic_slow"]""")
  }

  test("slow-query ceiling stays quiet when every reading is under budget") {
    val timings = Seq("q01_amp_phase" -> 0.4, "q147_trained_langid" -> 7.6,
      "q999_at_ceiling" -> Bench.slowCeilingSec) // AT the budget is not over it
    assert(Bench.slowJson(timings) == "[]")
  }

  test("ceiling is an explicit constant with sf0.1 headroom (every healthy query <= ~8s)") {
    assert(Bench.slowCeilingSec == 30.0)
  }

  test("load canary: the synthetic-load A/B — loaded legs flagged, idle legs clear") {
    // A: idle capture — every canary sample near the calibrated base
    val base = 0.030
    val idle = Seq("q120_gopher_full" -> 0.031, "q72_dedup_clusters_stars" -> 0.028,
      "q57_dedup_clusters" -> 0.055) // < 2x base: noisy but not loaded
    assert(Bench.canaryFlags(idle, base) == Nil)
    // B: the r17 driver profile — background load inflates the canary
    // next to exactly the legs whose timings came back 5-26x; those legs
    // must name themselves so the drift flags read as load, not plans
    val loaded = Seq("q120_gopher_full" -> 0.41, "q72_dedup_clusters_stars" -> 0.19,
      "q57_dedup_clusters" -> 0.02, "q169_nmi" -> 0.061)
    assert(Bench.canaryFlags(loaded, base) ==
      Seq("q120_gopher_full", "q169_nmi", "q72_dedup_clusters_stars"))
    // threshold is a strict multiple: AT 2x is not flagged
    assert(Bench.canaryFlags(Seq("x" -> 0.060), base) == Nil)
    assert(Bench.canaryFlags(Seq("x" -> 0.0601), base) == Seq("x"))
  }

  test("passes record: run-order [wall, canary] pairs, valid JSON shape (r20)") {
    // the driver and judge parse this field to adjudicate load-vs-plan;
    // its shape is contract — pairs stay in RUN ORDER (the correlation
    // between wall plateaus and canary inflation is the signal)
    assert(Bench.passesJson(Nil) == "[]")
    assert(Bench.passesJson(Seq((2.23, 0.301), (1.49, 0.266))) ==
      "[[2.23,0.301],[1.49,0.266]]")
  }

  test("--only parsing: named legs, reps default to 3, no flags means the full suite") {
    assert(Bench.parseOnly(Nil).isEmpty)
    assert(Bench.parseOnly(Seq("--only", "q01_project_math,q02_filter_flagmask")) ==
      Some((Seq("q01_project_math", "q02_filter_flagmask"), 3)))
    assert(Bench.parseOnly(Seq("--only", "q01_project_math", "--reps", "5")) ==
      Some((Seq("q01_project_math"), 5)))
  }

  test("--only parsing rejects unknown legs, stray flags and --reps alone") {
    val e = intercept[IllegalArgumentException](
      Bench.parseOnly(Seq("--only", "q01_project_math,q999_nope")))
    assert(e.getMessage.contains("q999_nope"))
    intercept[IllegalArgumentException](Bench.parseOnly(Seq("--only")))
    intercept[IllegalArgumentException](Bench.parseOnly(Seq("--interleave", "1")))
    intercept[IllegalArgumentException](Bench.parseOnly(Seq("--reps", "2")))
    intercept[IllegalArgumentException](
      Bench.parseOnly(Seq("--only", "q01_project_math", "--reps", "0")))
  }
}
