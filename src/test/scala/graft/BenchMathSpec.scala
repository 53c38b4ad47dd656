package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contention detector is load-bearing evidence (the round
  * artifact's `overloaded` flag) — pin its arithmetic. */
class BenchMathSpec extends AnyFunSuite {

  test("median3 takes the middle rep and poisons on any error") {
    assert(BenchMath.median3(3.0, 1.0, 2.0) === 2.0)
    assert(BenchMath.median3(-1.0, 1.0, 2.0) === -1.0)
    assert(BenchMath.median3(1.0, -1.0, 2.0) === -1.0)
  }

  test("spread3 reads the warm reps only — a cold rep 1 never trips it") {
    // classic cold start: rep 1 pays codegen, warm reps agree
    assert(BenchMath.spread3(5.0, 1.0, 1.02) === 1.02 / 1.0)
    // contention arriving mid-run shows up between the warm reps
    assert(BenchMath.spread3(1.0, 1.0, 3.0) === 3.0)
    assert(BenchMath.spread3(1.0, -1.0, 1.0) === -1.0)
  }

  test("contended flags only big-enough queries past the limit") {
    val rs = Seq(
      ("tiny_jitter", 0.1, 4.0),    // sub-0.3 s: jitter, not signal
      ("steady", 2.0, 1.1),
      ("squeezed", 1.0, 2.0))
    assert(BenchMath.contended(rs, 1.5) === Seq("squeezed"))
  }

  test("tripped = q01 envelope OR any contended query") {
    val quiet = Seq(("q01_pricing_summary", 0.8, 1.05), ("x", 2.0, 1.1))
    assert(!BenchMath.tripped(quiet, 1.2, 1.5))
    // start-loaded: q01 itself over the envelope
    assert(BenchMath.tripped(
      Seq(("q01_pricing_summary", 1.5, 1.0)), 1.2, 1.5))
    // mid-run loaded: q01 clean but a later query's warm reps diverge
    assert(BenchMath.tripped(
      quiet :+ ("late", 2.0, 3.0), 1.2, 1.5))
  }

  test("cleaner keeps the untripped run, then the faster one") {
    val dirty = Seq(("q01_pricing_summary", 0.5, 1.0), ("a", 2.0, 9.0))
    val clean = Seq(("q01_pricing_summary", 0.6, 1.0), ("a", 2.2, 1.0))
    assert(BenchMath.cleaner(dirty, clean, 1.2, 1.5) === clean)
    assert(BenchMath.cleaner(clean, dirty, 1.2, 1.5) === clean)
    val cleanFast = Seq(("q01_pricing_summary", 0.5, 1.0), ("a", 1.8, 1.0))
    assert(BenchMath.cleaner(clean, cleanFast, 1.2, 1.5) === cleanFast)
    assert(BenchMath.cleaner(cleanFast, clean, 1.2, 1.5) === cleanFast)
  }

  test("reps makes exactly n calls, one time per call") {
    var calls = 0
    val ts = BenchMath.reps(4, "[spec]") { calls += 1 }
    assert(calls === 4)
    assert(ts.size === 4 && ts.forall(_ >= 0.0))
  }

  test("a throwing rep reports -1 and poisons the median") {
    var calls = 0
    val (med, spread) = BenchMath.rep3("[spec]") {
      calls += 1
      if (calls == 2) throw new IllegalStateException("rep 2 fails")
    }
    assert(calls === 3, "a failed rep must not stop the later ones")
    assert(med === -1.0)
    assert(spread === -1.0)
    assert(BenchMath.timed("[spec]")(throw new RuntimeException("x")) === -1.0)
  }

  test("loadavg falls back to -1 when the load file cannot be read") {
    assert(BenchMath.loadavg("/nonexistent/loadavg") === -1.0)
  }
}
