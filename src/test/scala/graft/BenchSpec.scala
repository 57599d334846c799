package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[BenchCore]] — the bench's noise adjudication, replayed against a
  * synthetic degraded window (no SparkSession needed). The scenario is
  * round 9's real artifact: a contiguous block of queries inflated 2-4×
  * by host contention that the pre/post floor probes both missed. The
  * core must FLAG exactly the inflated-in-window queries and must NOT
  * flag a genuine regression that happened on a healthy floor.
  *
  * The gate reference is the MID-RUN MEDIAN probe, not the whole-run
  * best: round 10's floors series showed healthy mid-run probes sitting
  * ~3× the cold pre/post brackets (they interleave with hot query work),
  * so a best-probe gate was almost always open and the adjudication
  * degenerated to a bare ">2× prior". The fixtures here reproduce that
  * shape: cold brackets ~0.05 s, healthy mid-run ~0.15-0.2 s, one
  * genuinely contended window >1 s.
  */
class BenchSpec extends AnyFunSuite {

  import BenchCore._

  // 6 segments: cold pre-bracket, healthy-but-elevated mid-run probes,
  // a DEGRADED window (segments 2-3, probes >1 s), recovery, cold post.
  // floors(i) brackets segment i on the left; floors(i+1) on the right.
  private val floors =
    IndexedSeq(0.05, 0.16, 0.18, 1.3, 1.4, 0.17, 0.05)

  private val priors = Map(
    "a1" -> 1.0, "a2" -> 2.0, // segment 0 (healthy, cold left bracket)
    "b1" -> 1.0, "b2" -> 0.5, // segment 1 (healthy elevated mid-run)
    "c1" -> 1.0, "c2" -> 3.0, // segment 2 (degraded right bracket)
    "d1" -> 1.0, // segment 3 (fully degraded window)
    "e1" -> 1.0 // segment 4 (degraded left bracket)
  )

  test("localFloor is the worse of the two bracketing probes") {
    assert(localFloor(Timing("a1", 1.0, 0), floors) == 0.16)
    assert(localFloor(Timing("b1", 1.0, 1), floors) == 0.18)
    assert(localFloor(Timing("c1", 1.0, 2), floors) == 1.3)
    assert(localFloor(Timing("d1", 1.0, 3), floors) == 1.4)
    assert(localFloor(Timing("e1", 1.0, 4), floors) == 1.4)
    // last segment clamps to the final (post) probe, no out-of-bounds
    assert(localFloor(Timing("z", 1.0, 4), IndexedSeq(0.1, 0.2, 0.3, 0.4, 0.5)) == 0.5)
  }

  test("refFloor is the mid-run lower median, brackets excluded") {
    // mid-run probes (0.16, 0.18, 1.3, 1.4, 0.17): sorted lower median
    // is 0.18 — the two degraded probes do NOT drag the reference up,
    // and the cold 0.05 brackets do NOT drag it down
    assert(refFloor(floors) == 0.18)
    // a 2-entry dev-run series falls back to the whole series
    assert(refFloor(IndexedSeq(0.06, 0.1)) == 0.06)
  }

  test("degraded needs BOTH 3x-the-reference and the absolute grace") {
    assert(!degraded(0.18, 0.18), "the typical mid-run floor is not degraded")
    // the round-10 failure mode: an elevated-but-healthy mid-run probe
    // vs a cold 0.05 bracket — 3.2× the best probe, NOT degraded vs the
    // mid-run median reference
    assert(!degraded(0.16, 0.18))
    assert(degraded(1.3, 0.18), "7x the reference is degraded")
    // 3x a tiny reference is still under the 0.15 s grace: not degraded
    assert(!degraded(0.10, 0.03))
    // a big local floor is degraded even against a mediocre reference
    assert(degraded(0.50, 0.12))
  }

  test("degraded-window replay: inflated-in-window queries are flagged, nothing else") {
    val timings = Seq(
      Timing("a1", 1.05, 0), // healthy window, near prior
      Timing("a2", 7.0, 0), // healthy window, 3.5x prior — GENUINE regression
      Timing("b1", 2.5, 1), // healthy ELEVATED mid-run window, 2.5x prior —
      // genuine regression, must NOT be flagged (the calibration case:
      // its local floor 0.18 is 3.6x the cold bracket, so the old
      // best-probe gate would have called this window degraded)
      Timing("c1", 3.4, 2), // degraded right bracket, 3.4x prior — suspect
      Timing("c2", 2.8, 2), // degraded bracket but under 2x prior (3.0) — honest
      Timing("d1", 2.5, 3), // degraded window, 2.5x prior — suspect
      Timing("e1", 16.8, 4), // degraded left bracket, 16.8x — suspect (d39)
      Timing("nEw", 9.9, 3), // no prior — never second-guessed
      Timing("d2", -1.0, 3) // failed sentinel — never re-run
    )
    assert(suspects(timings, floors, priors) == Seq("c1", "d1", "e1"))
  }

  test("an all-healthy floor series flags nothing, even far over prior") {
    // healthy run with the REAL shape: cold brackets, elevated mid-run
    val healthy = IndexedSeq(0.05, 0.16, 0.17, 0.18, 0.16, 0.05)
    val timings = Seq(Timing("a1", 9.0, 1), Timing("c2", 30.0, 2))
    assert(suspects(timings, healthy, priors).isEmpty,
      "slow on a healthy floor is a real regression, not noise")
  }

  test("parsePriors reads the committed bench_queries.json line shape") {
    val line = """{"metric":"total","value":123.456,"n_failed":0,""" +
      """"failed":[],"queries":{"q01":0.523,"d39":4.961,"e35":-1.0},""" +
      """"pipeline":[6.1,19.2,63.6],"floor":[0.074,0.085],""" +
      """"compiles":{"q01":0,"d39":12,"e35":3},"sf":"/x/sf0.1"}"""
    val p = parsePriors(line)
    assert(p == Map("q01" -> 0.523, "d39" -> 4.961, "e35" -> -1.0))
    // the values outside the queries object must NOT leak in (the
    // per-query compile counts share its keys)
    assert(!p.contains("pipeline") && !p.contains("floor"))
    // garbled / absent input degrades to no priors, never throws
    assert(parsePriors("").isEmpty)
    assert(parsePriors("{\"metric\":\"total\"}").isEmpty)
    assert(parsePriors("{\"queries\":oops}").isEmpty)
  }

  test("parsePriors brace-depth scan survives a nested object") {
    // if the single-line format ever gains a nested object inside
    // "queries", keys AFTER it must not be silently truncated (the old
    // first-'}' parse would have dropped "b")
    val line = """{"queries":{"a":1.0,"n":{"x":2.0},"b":3.5},""" +
      """"floor":[0.1,0.2]}"""
    val p = parsePriors(line)
    assert(p.get("a").contains(1.0) && p.get("b").contains(3.5))
    assert(!p.contains("floor"))
    // an unterminated queries object degrades to no priors
    assert(parsePriors("""{"queries":{"a":1.0,"n":{"x":2.0}""").isEmpty)
  }
}
