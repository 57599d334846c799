package graft

/** Pure core of the scaling-exponent audit, separated (BenchCore's
  * arrangement) so the fit / flag / staleness logic is unit-testable
  * without a SparkSession.
  *
  * The audit turns "survives 100×" from a plan-shape argument into a
  * measured curve: run every registry query at two scale factors, fit
  * log(t) against log(sf) — the two-point slope IS the empirical
  * scaling exponent — and flag everything growing faster than
  * [[Threshold]] that is not on the documented-superlinear allowlist.
  * Ideal linear scans sit near 1, partition-pruned probes near 0;
  * an accidental quadratic reads ≈ 2 and can no longer hide behind a
  * small-SF total.
  *
  * Low-side clamp: at sf0.01 many queries are OVERHEAD-dominated
  * (job scheduling + planning ≈ [[FloorSecs]]), and a raw ratio over a
  * tiny denominator manufactures exponents from noise. The low timing
  * is clamped to [[FloorSecs]] before the fit — conservative against
  * false flags, while a genuine quadratic still clears the threshold
  * (its high-SF time is ~100× the low-side work, so the clamped ratio
  * stays ≫ 10^1.3 ≈ 20).
  */
object ScalingCore {

  /** Exponent threshold: 10× data growing >10^1.3 ≈ 20× in time. */
  val Threshold = 1.3

  /** Clamp for overhead-dominated low-SF timings (see scaladoc). */
  val FloorSecs = 0.05

  /** Two-point log-log slope; NaN when either timing is a failure
    * sentinel (< 0) — failed queries are reported, never fitted.
    */
  def exponent(tLo: Double, tHi: Double, sfRatio: Double): Double =
    if (tLo < 0 || tHi < 0 || sfRatio <= 1.0) Double.NaN
    else math.log(math.max(tHi, FloorSecs) / math.max(tLo, FloorSecs)) /
      math.log(sfRatio)

  /** Names over the threshold and NOT allowlisted — the audit's alarm
    * list (sorted; NaN exponents never flag).
    */
  def flagged(exps: Map[String, Double],
              allow: Map[String, String]): Seq[String] =
    exps.collect {
      case (n, e) if e > Threshold && !allow.contains(n) => n
    }.toSeq.sorted

  /** Allowlist staleness, both directions (the BenchSpec discipline —
    * an allowlist that outlives its reason is how audits rot):
    * entries naming a query that no longer exists, and entries whose
    * measured exponent no longer exceeds the threshold (the documented
    * quadratic got fixed — drop the entry so a regression re-flags).
    */
  def staleAllow(exps: Map[String, Double],
                 allow: Map[String, String]): Seq[String] =
    allow.keys.filter(n =>
      !exps.contains(n) || !(exps(n) > Threshold)).toSeq.sorted
}

/** Scaling-audit main: fits every query's exponent from two [[Bench]]
  * records of the same queries at two scale factors, writes the full
  * per-query record to `SCALING.json` and prints a one-line summary. It
  * runs no query and opens no SparkSession: the timings are Bench's
  * (warm-up pass, min-of-3, noise adjudication).
  *
  * Usage: `sbt "runMain graft.Scaling <lo bench_queries.json>
  * <hi bench_queries.json>"`; `SCALING.json` goes to `GRAFT_BENCH_DIR`
  * (default the working directory). Each record's scale comes from its
  * `sf` basename (`…/sf0.01` → 0.01).
  */
object Scaling {

  /** Documented-superlinear queries: each entry names WHY the growth is
    * the operator's point, not an accident. Staleness-checked against
    * the measurements every run (and by ScalingSpec against this map's
    * shape), so an entry cannot outlive its reason silently.
    */
  val allowlist: Map[String, String] = Map.empty
  // Round-11 measurement emptied the list: across all 227 registry
  // queries the largest exponent was 0.92 (e35, whose exact all-pairs
  // kernel is genuinely O(n²) but still sits under per-job overhead +
  // constant factors at sf0.1 — 5.1 s vs 0.6 s is 8×, not 20×). The
  // staleness check caught every speculative entry, which is the
  // discipline working: a name joins this map ONLY when a measurement
  // puts it over the threshold WITH a documented reason, so the first
  // query whose superlinear term outgrows its constants flags loudly
  // instead of hiding behind a pre-excused label.

  /** One query's low and high timing and their fitted exponent. */
  final case class Row(lo: Double, hi: Double, exp: Double)

  /** A Bench record's `sf` field: the data directory it ran on. */
  def sfDir(record: String): String =
    """"sf":"([^"]*)"""".r.findFirstMatchIn(record).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("bench record has no sf field"))

  /** The scale a data directory's basename states: `…/sf0.01` → 0.01. */
  def scaleOf(dir: String): Double = {
    val base = new java.io.File(dir).getName
    require(base.matches("sf[0-9]*\\.?[0-9]+"), s"'$dir' does not name a scale (sf<number>)")
    base.drop(2).toDouble
  }

  /** Exponents fitted from two Bench record lines, keyed by the full
    * names in `registry`, and the queries that cannot be fitted, sorted:
    * a query timed in only one record, or a record key that names no
    * registry query. A failed timing (sentinel -1) fits to NaN.
    */
  def fit(loRecord: String, hiRecord: String,
          registry: Iterable[String]): (Map[String, Row], Seq[String]) = {
    val ratio = scaleOf(sfDir(hiRecord)) / scaleOf(sfDir(loRecord))
    require(ratio > 1.0, s"the high record's scale must exceed the low one's (ratio $ratio)")
    val full = registry.map(n => SparkEntry.prefix(n) -> n).toMap
    def timings(record: String) = BenchCore.parsePriors(record)
      .map { case (k, v) => full.getOrElse(k, k) -> v }
    val (lo, hi) = (timings(loRecord), timings(hiRecord))
    val fitted = lo.keySet & hi.keySet & full.values.toSet
    val rows = fitted.map(n =>
      n -> Row(lo(n), hi(n), ScalingCore.exponent(lo(n), hi(n), ratio))).toMap
    (rows, ((lo.keySet ++ hi.keySet) -- fitted).toSeq.sorted)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: graft.Scaling <lo bench_queries.json> <hi bench_queries.json>")
    val Seq(loRecord, hiRecord) = args.toSeq.map(p =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    val (rows, unfitted) = fit(loRecord, hiRecord, SparkEntry.queries.keys)
    val exps = rows.map { case (n, r) => n -> r.exp }
    val flagged = ScalingCore.flagged(exps, allowlist)
    val stale = ScalingCore.staleAllow(exps, allowlist)

    def jq(s: String) = "\"" + s + "\""
    def jd(d: Double) = if (d.isNaN) "null" else f"$d%.3f"
    val rowsJson = rows.toSeq.sortBy(_._1).map { case (n, r) =>
      s"${jq(n)}:{" +
        s""""lo":${f"${r.lo}%.3f"},"hi":${f"${r.hi}%.3f"},""" +
        s""""exp":${jd(r.exp)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"sf_lo":${jq(sfDir(loRecord))},"sf_hi":${jq(sfDir(hiRecord))},""" +
      s""""threshold":${ScalingCore.Threshold},""" +
      s""""floor_clamp":${ScalingCore.FloorSecs},""" +
      s""""flagged":${flagged.map(jq).mkString("[", ",", "]")},""" +
      s""""allowlisted":${allowlist.keys.toSeq.sorted.map(jq).mkString("[", ",", "]")},""" +
      s""""stale_allow":${stale.map(jq).mkString("[", ",", "]")},""" +
      s""""queries":$rowsJson}"""
    val outPath = java.nio.file.Paths
      .get(sys.env.getOrElse("GRAFT_BENCH_DIR", "."))
      .resolve("SCALING.json")
    java.nio.file.Files.write(outPath, (json + "\n").getBytes("UTF-8"))

    // human summary: every exponent, sorted descending, with the verdict
    rows.toSeq.sortBy(-_._2.exp).foreach { case (n, Row(lo, hi, e)) =>
      val tag =
        if (e.isNaN) "FAILED"
        else if (e > ScalingCore.Threshold && allowlist.contains(n)) "allow"
        else if (e > ScalingCore.Threshold) "FLAG"
        else "ok"
      println(f"# $n%-40s lo=$lo%7.3f hi=$hi%7.3f exp=$e%5.2f  $tag")
    }
    unfitted.foreach(n => println(f"# $n%-40s in one record only, or not in the registry: not fitted"))
    println(s"""{"metric":"scaling_flagged","value":${flagged.size},"stale_allow":${stale.size},"n_queries":${rows.size},"n_unfitted":${unfitted.size}}""")
  }
}
