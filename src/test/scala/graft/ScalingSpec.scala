package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[ScalingCore]] — the scaling-exponent audit's fit / flag /
  * staleness logic, Spark-free (BenchSpec's arrangement), the
  * registry-consistency check on [[Scaling.allowlist]], and
  * [[Scaling.fit]] over two Bench record lines.
  */
class ScalingSpec extends AnyFunSuite {

  import ScalingCore._
  import Scaling.scaleOf

  test("two-point log-log slope: linear reads 1, quadratic reads 2") {
    assert(math.abs(exponent(0.2, 2.0, 10.0) - 1.0) < 1e-9)
    assert(math.abs(exponent(0.1, 10.0, 10.0) - 2.0) < 1e-9)
    // partition-pruned probe: flat across SFs
    assert(math.abs(exponent(0.3, 0.3, 10.0)) < 1e-9)
  }

  test("overhead-dominated low timings clamp instead of manufacturing exponents") {
    // 0.01 s is pure scheduling floor; raw ratio would read exp 1.3,
    // the clamp reads log(0.2/0.05)/log(10) ≈ 0.6
    val e = exponent(0.01, 0.2, 10.0)
    assert(math.abs(e - math.log(0.2 / FloorSecs) / math.log(10.0)) < 1e-9)
    assert(e < Threshold)
    // a genuine quadratic from a tiny base still clears the threshold:
    // hi-side work ~100× the low side dwarfs the clamp
    assert(exponent(0.02, 1.5, 10.0) > Threshold)
  }

  test("failure sentinels and degenerate ratios never fit") {
    assert(exponent(-1.0, 2.0, 10.0).isNaN)
    assert(exponent(0.5, -1.0, 10.0).isNaN)
    assert(exponent(0.5, 2.0, 1.0).isNaN)
  }

  test("flagged = over threshold and not allowlisted; NaN never flags") {
    val exps = Map("lin" -> 1.0, "quad" -> 1.9, "known_quad" -> 2.1,
      "dead" -> Double.NaN)
    val allow = Map("known_quad" -> "documented eval posture")
    assert(flagged(exps, allow) == Seq("quad"))
    assert(flagged(exps, allow ++ Map("quad" -> "reason")).isEmpty)
  }

  test("allowlist staleness catches both directions") {
    val exps = Map("a" -> 2.0, "b" -> 0.9)
    val allow = Map(
      "a" -> "still quadratic", // measured over threshold: not stale
      "b" -> "was quadratic, got fixed", // below threshold: stale
      "gone" -> "query was removed") // not in the registry: stale
    assert(staleAllow(exps, allow) == Seq("b", "gone"))
  }

  test("every allowlist entry names a registered query and a reason") {
    val names = SparkEntry.queries.keySet
    val unknown = Scaling.allowlist.keySet -- names
    assert(unknown.isEmpty, s"allowlist names unknown queries: $unknown")
    assert(Scaling.allowlist.values.forall(_.trim.length > 20),
      "every allowlist entry must carry a substantive reason")
  }

  test("fit reads two bench records: the sf basenames give the ratio") {
    val lo = """{"metric":"total","value":1.3,"n_failed":1,"failed":["c01_gamma"],""" +
      """"queries":{"a01":0.2,"b01":0.5,"c01":-1.0,"d01":0.3,"z99":0.1},""" +
      """"floor":[0.05,0.06],"compiles":{"a01":7},"sf":"/data/sf0.01"}"""
    val hi = """{"metric":"total","value":8.1,"n_failed":0,"failed":[],""" +
      """"queries":{"a01":2.0,"b01":0.5,"c01":1.6,"e01":4.0,"z99":0.1},""" +
      """"floor":[0.05,0.06],"compiles":{"a01":0},"sf":"/other/sf1"}"""
    val registry = Seq("a01_alpha", "b01_beta", "c01_gamma", "d01_delta", "e01_eps")
    val (rows, unfitted) = Scaling.fit(lo, hi, registry)
    // sf0.01 → sf1 is a ratio of 100: 10× the time reads 0.5, not 1.0
    assert(math.abs(rows("a01_alpha").exp - 0.5) < 1e-9)
    assert(rows("a01_alpha").lo == 0.2 && rows("a01_alpha").hi == 2.0)
    assert(math.abs(rows("b01_beta").exp) < 1e-9)
    // the failure sentinel is reported as NaN, not fitted
    assert(rows("c01_gamma").exp.isNaN)
    assert(rows.keySet == Set("a01_alpha", "b01_beta", "c01_gamma"))
    // timed in one record only, or not a registry query: reported
    assert(unfitted == Seq("d01_delta", "e01_eps", "z99"))
  }

  test("a record whose sf names no scale, or records in the wrong order, abort") {
    assert(scaleOf("/root/testdata/sf0.01") == 0.01 && scaleOf("sf10") == 10.0)
    intercept[IllegalArgumentException](scaleOf("/data/tpch"))
    val rec = (sf: String) => s"""{"queries":{"a01":1.0},"sf":"$sf"}"""
    intercept[IllegalArgumentException](
      Scaling.fit(rec("/d/sf0.1"), rec("/d/sf0.01"), Seq("a01_alpha")))
    intercept[IllegalArgumentException](
      Scaling.fit("""{"queries":{"a01":1.0}}""", rec("/d/sf0.1"), Seq("a01_alpha")))
  }
}
