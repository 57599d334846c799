package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val names = Seq("id", "s", "x", "arr", "d", "ts")
  private val rows = Seq(
    Row(1L, "a", 1.5, null, java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:11.172425Z"))),
    Row(2L, "bb", -0.0, Seq(1.0f, 2.5f), null, null))

  test("digest does not depend on row order") {
    assert(Digest.of(names, rows) == Digest.of(names, rows.reverse))
  }

  test("digest sees a duplicated or a missing row") {
    val d = Digest.of(names, rows)
    assert(Digest.of(names, rows :+ rows.head) != d)
    assert(Digest.of(names, rows.tail) != d)
  }

  test("digest does not depend on column order") {
    val perm = Seq(5, 4, 3, 2, 1, 0)
    val swapped = rows.map(r => Row.fromSeq(perm.map(r.get)))
    assert(Digest.of(perm.map(names), swapped) == Digest.of(names, rows))
  }

  test("rendering matches the DuckDB side (oracle_digests.py)") {
    // the same rows digested by oracle_digests.digest in Python
    assert(Digest.renderRow(names, rows.head) ==
      "3:arr=\\N|1:d=2024-01-02|2:id=1|1:s=1:a|2:ts=1704067211172425|1:x=3ff8000000000000")
    assert(Digest.of(names, rows) == "caa4768c8cdc6ae9:2")
  }
}
