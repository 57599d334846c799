package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Runs each query of the `analytics` workload once over `--data` and
  * writes `{name: {"digest": …, "oracle": <DuckDB SQL or null>}}` to
  * `--out`. `oracle_digests.py` turns it into `expected_digests.json`.
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val a = Main.parse(args)
    val spark = graft.GraftSession.local("graftbench-digests", Main.Cpus)
    val ctx = Ctx(spark, Paths.get(a("data")), Paths.get(a("data")), 0L, Tracer.off)
    val wl = new QueryWorkload(Nil)
    val oracle = graft.SparkEntry.oracleSql
    val rows = (QueryWorkload.OlapShort ++ QueryWorkload.LlmTail).map { n =>
      val op = wl.run(ctx, n)
      require(op.ok, s"$n failed: ${op.error}")
      n -> Json.obj(Seq("digest" -> Json.str(op.digest),
        "oracle" -> oracle.get(n).map(Json.str).getOrElse("null")))
    }
    Files.write(Paths.get(a("out")), (Json.obj(rows) + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
