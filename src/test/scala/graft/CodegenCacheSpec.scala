package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** [[GraftSession]] sizes Spark's generated-code cache to graft's working
  * set. With Spark's default of 100 entries, a query mix whose classes
  * outnumber the cache cycled the LRU and every warm pass compiled its
  * code again in Janino. The mix here is the benchmark's `analytics`
  * queries, which generate about 280 classes per pass.
  */
class CodegenCacheSpec extends SparkSpec {

  private val mix = Seq("t14", "q16", "q42", "t12", "d13", "e35", "m03")

  test("the session keeps every generated class of a warm query mix") {
    val queries = mix.map { p =>
      SparkEntry.allQueries.find(_.name.takeWhile(_ != '_') == p)
        .getOrElse(fail(s"no registry query $p"))
    }
    // Janino compiles during one pass over the mix
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      queries.foreach { q =>
        q.fn(spark, sf0001).collect()
        spark.sharedState.cacheManager.clearCache()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    info(s"Janino compiles: first pass $first, warm pass $second")
    assert(second <= 5,
      s"the warm pass compiled $second classes (first pass: $first)")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
  }
}
