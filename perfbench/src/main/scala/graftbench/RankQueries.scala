package graftbench

import java.nio.file.Paths

/** Ranks every `q*`/`t*` registry query by its warm phase split, the
  * measurement the `analytics` workload's `q`/`t` list is picked from (see README.md).
  * One cold pass, then one traced pass; prints one tab-separated line per
  * query: latency, construct, plan and exec seconds, construction and
  * execution jobs. `rank_queries.py` generates the inputs and runs it:
  * {{{
  * graftbench.RankQueries --data <dir>
  * }}}
  */
object RankQueries {
  def main(args: Array[String]): Unit = {
    val a = Main.parse(args)
    val spark = graft.GraftSession.local("graftbench-rank", Main.Cpus)
    val names = QueryWorkload.registryNames.filter(n => n.startsWith("q") || n.startsWith("t"))
    val wl = new QueryWorkload(Nil)
    val cold = Ctx(spark, Paths.get(a("data")), Paths.get(a("data")), 0L, Tracer.off)
    names.foreach(n => require(wl.run(cold, n).ok, s"$n failed"))
    val tracer = new Tracer(true)
    tracer.install(spark)
    names.foreach(n => wl.run(cold.copy(tracer = tracer), n))
    tracer.finish()
    val kids = tracer.spans.groupBy(_.parent)
    def jobs(s: Span) = kids.getOrElse(s.id, Nil).count(_.kind == "job")
    println("query\tlatency_s\tconstruct_s\tplan_s\texec_s\tconstruct_jobs\texec_jobs")
    tracer.spans.filter(_.kind == "op").foreach { op =>
      val ph = kids(op.id).map(p => p.name -> p).toMap
      val (c, x) = (ph("construct"), ph("action"))
      val plan = x.attrs.getOrElse("plan_s", 0.0)
      println(f"${op.name}\t${op.end - op.start}%.4f\t${c.end - c.start}%.4f\t$plan%.4f\t" +
        f"${x.end - x.start - plan}%.4f\t${jobs(c)}\t${jobs(x)}")
    }
    spark.stop()
  }
}
