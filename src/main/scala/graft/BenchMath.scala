package graft

/** The harnesses' shared timing loop (Bench, ScaleBench, Scratch) and
  * the bench's measurement arithmetic, extracted so the contention
  * detector is unit-testable — round 12's artifact of record silently
  * recorded a phantom 25% regression because this logic (then a
  * q01-envelope check only) could not see mid-run contention; the
  * detector is now load-bearing evidence and gets a spec.
  *
  * Row shape throughout: (query name, median seconds, warm-rep spread).
  */
private[graft] object BenchMath {

  /** Seconds `body` takes; −1 when it throws (printed to stderr as
    * `<label>: <error>`), so a broken query costs its own number, not
    * the run's. */
  def timed(label: => String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable => System.err.println(s"$label: $e"); -1.0 }
  }

  /** `n` timed reps of `body`, in order. */
  def reps(n: Int, label: => String)(body: => Unit): Seq[Double] =
    Seq.fill(n)(timed(label)(body))

  /** Three timed reps as (median, warm-rep spread): rep 1 pays the
    * one-time codegen + AQE statistics, reps 2-3 are steady state, and
    * the median discards both the cold outlier and a single hiccup. */
  def rep3(label: => String)(body: => Unit): (Double, Double) = {
    val ts = reps(3, label)(body)
    (median3(ts(0), ts(1), ts(2)), spread3(ts(0), ts(1), ts(2)))
  }

  /** The 1-minute load average; −1 when it cannot be read. */
  def loadavg(path: String = "/proc/loadavg"): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Median of the 3 reps; any errored rep (−1) poisons the query. */
  def median3(a: Double, b: Double, c: Double): Double =
    if (a < 0 || b < 0 || c < 0) -1.0
    else Seq(a, b, c).sorted.apply(1)

  /** max/min of the WARM reps (2-3): on a quiet machine the two
    * steady-state reps agree within a few percent, so a wide spread
    * means external contention arrived MID-RUN — the failure mode a
    * q01-only envelope cannot see (the r12 artifact recorded a
    * phantom 25% regression exactly this way: q01 ran before the
    * contention started). Rep 1 is excluded: it pays the one-time
    * codegen + AQE-statistics cost, so an all-3 spread trips on
    * every healthy cold start. */
  def spread3(a: Double, b: Double, c: Double): Double =
    if (a < 0 || b < 0 || c < 0) -1.0
    else math.max(b, c) / math.max(math.min(b, c), 1e-9)

  /** Queries showing mid-run contention: median big enough to be
    * signal (>= 0.3 s — sub-0.3 s queries jitter past 1.5× on a
    * healthy machine) with warm reps disagreeing past the limit. */
  def contended(rs: Seq[(String, Double, Double)],
      spreadLimit: Double): Seq[String] =
    rs.collect { case (n, med, sp) if med >= 0.3 && sp > spreadLimit => n }

  /** The in-run normalizer's median, when it ran clean. */
  def q01Of(rs: Seq[(String, Double, Double)]): Option[Double] =
    rs.collectFirst { case ("q01_pricing_summary", v, _) if v > 0 => v }

  /** Either load detector: q01 over its quiet-machine envelope
    * (run-start load) OR any contended query (mid-run load). */
  def tripped(rs: Seq[(String, Double, Double)], envelope: Double,
      spreadLimit: Double): Boolean =
    q01Of(rs).exists(_ > envelope) || contended(rs, spreadLimit).nonEmpty

  /** Of two runs, keep the cleaner one: untripped beats tripped,
    * lower total breaks ties. */
  def cleaner(first: Seq[(String, Double, Double)],
      second: Seq[(String, Double, Double)], envelope: Double,
      spreadLimit: Double): Seq[(String, Double, Double)] = {
    def score(rs: Seq[(String, Double, Double)]) =
      (if (tripped(rs, envelope, spreadLimit)) 1 else 0,
        rs.map(_._2).filter(_ >= 0).sum)
    val (f, s) = (score(first), score(second))
    if (s._1 < f._1 || (s._1 == f._1 && s._2 < f._2)) second else first
  }
}
