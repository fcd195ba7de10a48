package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the in-harness bench canary (VERDICT r12 "Next round" #3):
  * the window-factor arithmetic and the stamp-quarantine decision are
  * pure functions, pinned here so a refactor cannot silently bring
  * back the hand-run drift forensics of rounds 10-12.
  */
class BenchCanarySpec extends AnyFunSuite {

  test("canaryRatio is the median of per-query measured/record ratios") {
    // records: o4 0.171, u3 0.323, t_shard 0.290, q1 0.410
    val medians = Map(
      "o4_pagination" -> 0.171 * 1.0, // ratio 1.0
      "u3_except" -> 0.323 * 1.4, // ratio 1.4
      "t_shard_manifest" -> 0.290 * 1.5, // ratio 1.5
      "q1_pricing_summary" -> 0.410 * 2.0) // ratio 2.0
    // sorted ratios (1.0, 1.4, 1.5, 2.0) → median at index 2 = 1.5
    assert(math.abs(Bench.canaryRatio(medians) - 1.5) < 1e-9)
  }

  test("canaryRatio tolerates missing queries and an empty map") {
    val one = Map("u3_except" -> 0.323 * 1.3)
    assert(math.abs(Bench.canaryRatio(one) - 1.3) < 1e-9)
    assert(Bench.canaryRatio(Map.empty) == 0.0)
  }

  test("a single inflated query cannot flag the window (median, " +
      "not max — one slow sample is noise, a window inflates all)") {
    val medians = Map(
      "o4_pagination" -> 0.171 * 1.0,
      "u3_except" -> 0.323 * 1.0,
      "t_shard_manifest" -> 0.290 * 1.05,
      "q1_pricing_summary" -> 0.410 * 9.0)
    assert(Bench.canaryRatio(medians) <= 1.05 + 1e-9)
  }

  test("stampTarget quarantines a slow-window re-stamp, keeps a " +
      "clean or forced or first stamp") {
    val f = "BENCH_FULL_r13.json"
    // clean window → stamp normally
    assert(Bench.stampTarget(f, 1.10, 1.10, forced = false,
      cleanStampExists = true) == f)
    // slow window over an existing stamp → quarantine
    assert(Bench.stampTarget(f, 1.42, 1.42, forced = false,
      cleanStampExists = true) == "BENCH_FULL_r13.contaminated.json")
    // slow window but no stamp yet this round → self-describing stamp
    assert(Bench.stampTarget(f, 1.42, 1.42, forced = false,
      cleanStampExists = false) == f)
    // forced → stamp
    assert(Bench.stampTarget(f, 1.42, 1.42, forced = true,
      cleanStampExists = true) == f)
    // unmeasured (canary off / wrong SF) → no evidence to refuse on
    assert(Bench.stampTarget(f, 0.0, 0.0, forced = false,
      cleanStampExists = true) == f)
    // boundary: the threshold itself is not a breach
    val at = Bench.canaryThreshold
    assert(Bench.stampTarget(f, at, at, forced = false,
      cleanStampExists = true) == f)
  }

  test("stampTarget quarantines a FAST-window re-stamp too (r14: " +
      "the gate is symmetric — a deflated record flatters the round " +
      "that writes it and sandbags the next)") {
    val f = "BENCH_FULL_r14.json"
    // fast window over an existing stamp → quarantine
    assert(Bench.stampTarget(f, 0.66, 0.66, forced = false,
      cleanStampExists = true) == "BENCH_FULL_r14.contaminated.json")
    // fast window, first stamp of the round → self-describing stamp
    assert(Bench.stampTarget(f, 0.66, 0.66, forced = false,
      cleanStampExists = false) == f)
    // forced → stamp
    assert(Bench.stampTarget(f, 0.66, 0.66, forced = true,
      cleanStampExists = true) == f)
    // boundary: the lower threshold itself is not a breach
    val at = Bench.canaryLowThreshold
    assert(Bench.stampTarget(f, at, at, forced = false,
      cleanStampExists = true) == f)
  }

  test("stampTarget quarantines when EITHER leg leaves the window " +
      "(pre 0.77 / post 0.91 is a fast window, not a clean one)") {
    val f = "BENCH_FULL_r15.json"
    val quarantined = "BENCH_FULL_r15.contaminated.json"
    assert(Bench.stampTarget(f, 0.77, 0.91, forced = false,
      cleanStampExists = true) == quarantined)
    assert(Bench.stampTarget(f, 0.91, 1.30, forced = false,
      cleanStampExists = true) == quarantined)
    assert(Bench.stampTarget(f, 0.91, 1.10, forced = false,
      cleanStampExists = true) == f)
    // the message names the leg and the bound it crossed
    assert(Bench.canaryBreach(0.77, 0.91).contains("pre 0.77 < 0.8"))
    assert(Bench.canaryBreach(1.00, 1.30).contains("post 1.30 > 1.25"))
    assert(Bench.canaryBreach(0.91, 1.10).isEmpty)
    assert(Bench.canaryBreach(0.0, 0.0).isEmpty)
  }

  test("BENCH_SUMMARY.json is written only for a 32-core stamp that " +
      "went to the round's own name") {
    val f = "BENCH_FULL_r15.json"
    val clean = Bench.stampTarget(f, 0.95, 1.05, forced = false,
      cleanStampExists = true)
    assert(Bench.writesSummary("32", f, clean))
    val fast = Bench.stampTarget(f, 0.77, 0.91, forced = false,
      cleanStampExists = true)
    assert(!Bench.writesSummary("32", f, fast))
    // a first stamp of the round lands on fullName even out of window
    val first = Bench.stampTarget(f, 0.77, 0.91, forced = false,
      cleanStampExists = false)
    assert(Bench.writesSummary("32", f, first))
    // a scaling run at another core count never replaces the summary
    val c8 = "BENCH_FULL_r15_c8.json"
    assert(!Bench.writesSummary("8", c8, c8))
  }

  test("canary queries resolve in the registry and stay trivial " +
      "(sub-second records — a heavyweight canary would cost more " +
      "than the forensics it replaces)") {
    Bench.canaryRecords.foreach { case (name, rec) =>
      assert(Registry.byName.contains(name), s"$name not registered")
      assert(rec > 0.0 && rec < 1.0, s"$name record $rec not trivial")
    }
  }
}
