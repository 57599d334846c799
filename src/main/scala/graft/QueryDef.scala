package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names/aliases MUST match between the two sides; all
  * floating-point outputs are rounded identically on both sides so the
  * driver's value-hash compare is stable across engines.
  *
  * Queries with no SQL-expressible oracle (e.g. MinHash signatures that
  * depend on Spark's xxhash64) leave `oracle` as None → the driver records a
  * weaker rows-only check.
  *
  * == Cross-engine float determinism policy ==
  * Two engines summing the same doubles in different orders differ in the
  * last ulps, and naive `round(x, k)` flips at true decimal .…5 boundaries
  * (Spark rounds the shortest decimal repr via BigDecimal HALF_UP; DuckDB
  * rounds the scaled binary). Every query therefore follows these rules:
  *  1. `round(sum(data), k)` where k is the data's true decimal scale —
  *     an EXACT restore of the decimal sum, never a tie.
  *  2. Averages = that exact sum / exact count, with NO outer rounding:
  *     identical input bits + identical op order → identical output bits.
  *  3. Integer-valued sums (counts, int columns) are exact in doubles —
  *     divide directly, never round.
  *  4. Row-level arithmetic on raw columns (a-b, a*(1-b)) is bit-identical
  *     everywhere — emit unrounded.
  *  5. Sliding/rolling means are spelled as explicit lag/lead expressions,
  *     not frame aggregates (frame add/remove error is engine-specific).
  *  6. Only irrational-valued outputs (stddev, sqrt, percentile
  *     interpolation, z-scores) carry display rounding — their true values
  *     are never exactly on a rounding boundary.
  *  7. Sorts carry full deterministic tie-breaker keys; timestamps are
  *     emitted as epoch-µs longs or DATEs.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Rewrites every top-level CTE of `sql` to `AS MATERIALIZED` — the
    * DuckDB execution-fence hint. Semantics are unchanged (a CTE cannot
    * be correlated and none of the oracles use non-deterministic
    * functions); only the engine's inline-vs-materialize choice moves.
    *
    * Why it exists (round 15, measured): DuckDB 1.0 INLINES every CTE
    * reference, so an oracle that composes multi-reference CTE chains —
    * the beam-walk hop blocks reference their predecessor twice, the
    * graph-lifecycle oracle stacks three such chains — re-plans and
    * re-executes the shared subtree multiplicatively. e64's oracle
    * measured 593 s at sf0.01 (687 s at sf0.001 — planner explosion,
    * not data volume) and 0.2 s materialized, byte-identical result;
    * the round-14 driver correctness run, which runs every oracle at
    * both small SFs, timed out on exactly this and recorded `{}`.
    * Applied OPT-IN at the QueryDef site, not blanket: fencing also
    * blocks filter pushdown, and the d05 shingle-pair family measured
    * ~1.5 s SLOWER per query materialized (the pair join dominates and
    * the fence costs more than the shared shingle build saves).
    *
    * The transform is a character scan, not a regex: only identifiers
    * in the statement's top-level WITH list (paren depth 0, comma-
    * chained) are touched, so `WINDOW w AS (…)` clauses and any `AS (`
    * inside CTE bodies or the final SELECT stay as written. String
    * literals (`'…'`), quoted identifiers (`"…"`) and `--` line comments
    * are copied verbatim, so a paren or `AS (` inside them never moves
    * the depth count or gets rewritten. Statements
    * that do not start with `WITH` return unchanged. `WITH RECURSIVE`
    * lists are transformed too — DuckDB 1.0 accepts the hint on every
    * member (the recursive member's iteration is unaffected), and the
    * d13/d50/d56 cluster/BPE oracles measured 9-17 s faster with their
    * non-recursive members fenced, results byte-identical.
    */
  def materializeCtes(sql: String): String = {
    val s = sql
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    val firstTok = s.dropWhile(_.isWhitespace)
    if (!firstTok.regionMatches(true, 0, "WITH", 0, 4)) return s

    val out = new StringBuilder
    var i = s.indexOf(firstTok.take(4)) + 4 // position just past WITH
    out ++= s.substring(0, i)
    var depth = 0
    var quote = '\u0000' // the open quote ('\'' or '"'), or NUL outside one
    var inCteList = true
    // expectComma: at depth 0 right after a CTE body closed — a comma
    // continues the list, anything else begins the main query.
    var expectComma = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != '\u0000') {
        out += c
        if (c == quote) quote = '\u0000'
        i += 1
      } else c match {
        case '\'' | '"' => quote = c; out += c; i += 1
        case '-' if s.startsWith("--", i) =>
          val eol = s.indexOf('\n', i)
          val end = if (eol < 0) s.length else eol
          out ++= s.substring(i, end); i = end
        case '(' => depth += 1; out += c; i += 1
        case ')' =>
          depth -= 1; out += c; i += 1
          if (depth == 0 && inCteList) expectComma = true
        case _ if depth == 0 && inCteList =>
          if (expectComma) {
            if (c == ',') { expectComma = false; out += c; i += 1 }
            else if (c.isWhitespace) { out += c; i += 1 }
            else if ((c == 'A' || c == 'a') &&
                s.regionMatches(true, i, "AS", 0, 2) &&
                !isIdent(s.lift(i + 2).getOrElse(' '))) {
              // `name(cols) AS (` — the column list closed at depth 0;
              // this AS still belongs to the CTE list
              expectComma = false
              var j = i + 2
              while (j < s.length && s.charAt(j).isWhitespace) j += 1
              if (j < s.length && s.charAt(j) == '(') {
                out ++= "AS MATERIALIZED "
                i = j
              } else { inCteList = false; out += c; i += 1 }
            } else { inCteList = false; out += c; i += 1 }
          } else if ((c == 'A' || c == 'a') &&
              s.regionMatches(true, i, "AS", 0, 2) &&
              !isIdent(s.lift(i + 2).getOrElse(' ')) &&
              i > 0 && !isIdent(s.charAt(i - 1))) {
            // `AS` keyword at top level of the CTE list: the next
            // non-whitespace char must be '(' for a CTE body
            var j = i + 2
            while (j < s.length && s.charAt(j).isWhitespace) j += 1
            if (j < s.length && s.charAt(j) == '(') {
              out ++= "AS MATERIALIZED "
              out ++= s.substring(i + 2, j).dropWhile(_.isWhitespace)
              i = j
            } else { out += c; i += 1 }
          } else { out += c; i += 1 }
        case _ => out += c; i += 1
      }
    }
    out.toString
  }
}
