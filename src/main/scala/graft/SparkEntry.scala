package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Relational, Temporal}
import graft.ext.{Multimodal, RetrievalIndex, TextIndex, TextOps, VectorIndex, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY.md §2 is registered here twice: a Spark
  * implementation in `queries` and (when SQL-expressible) a DuckDB oracle in
  * `oracleSql` with IDENTICAL column aliases and rounding, so the driver's
  * hash compare is engine-stable.
  */
object SparkEntry {

  def allQueries: Seq[QueryDef] =
    Relational.defs ++ Temporal.defs ++ TextOps.defs ++ TextIndex.defs ++
      RetrievalIndex.defs ++ VectorOps.defs ++ VectorIndex.defs ++
      Multimodal.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** A query's registry prefix (`q01_pricing_summary` → `q01`), the key
    * every bench record uses. Prefixes are unique by construction.
    */
  def prefix(name: String): String = name.takeWhile(_ != '_')

  /** The registry queries a comma-separated list selects, sorted by name;
    * `None` selects the whole registry. Each entry is a full name or its
    * prefix, and an entry that names no query aborts the run.
    */
  def select(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val byKey = all.keys.flatMap(n => Seq(n -> n, prefix(n) -> n)).toMap
    val keys = only.fold(all.keys.toSeq)(_.split(',').toSeq)
    val unknown = keys.filterNot(byKey.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    keys.map(byKey).distinct.sorted.map(n => n -> all(n))
  }
}
