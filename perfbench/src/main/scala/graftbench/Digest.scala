package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent digest of a query result.
  *
  * Each row is rendered canonically (columns sorted by name, every value
  * in a type-stable text form), hashed with SHA-256, and the first 8 bytes
  * of each row hash are summed modulo 2^64. The sum is a multiset hash:
  * row order does not change it, a duplicated or missing row does. The
  * digest is `<sum as 16 hex digits>:<row count>`.
  *
  * `oracle_digests.py` implements the same rendering over DuckDB results,
  * so a digest recorded from the DuckDB oracle compares equal to the
  * engine's. The rendering:
  *  - null → `\N`;
  *  - integral numbers → decimal text;
  *  - floating point and decimals → the 16 hex digits of the IEEE-754
  *    double bits (floats widen exactly; -0.0 becomes 0.0);
  *  - booleans → `true`/`false`;
  *  - strings → length-prefixed text (`<len>:<text>`);
  *  - dates → ISO `yyyy-mm-dd`; timestamps → epoch microseconds;
  *  - arrays → `[` elements joined by `,` `]`; structs → `{` fields `}`;
  *    maps → entries sorted by rendered key.
  */
object Digest {

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: BigInt => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dbl(x.doubleValue)
    case x: BigDecimal => dbl(x.toDouble)
    case s: String => s"${s.length}:$s"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (render(k), render(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k=>$x" }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def dbl(d: Double): String =
    f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Canonical text of one row given its column names. */
  def renderRow(names: Seq[String], r: Row): String =
    names.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => s"${n.length}:$n=${render(r.get(i))}" }
      .mkString("|")

  def rowHash(line: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(line.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(names: Seq[String], rows: Iterable[Row]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(renderRow(names, r)); n += 1 }
    f"$sum%016x:$n"
  }
}

/** Minimal JSON text builders for the result files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
