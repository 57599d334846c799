package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Structured scale-posture report over a frame's PHYSICAL plan — the
  * review `.explain("formatted")` makes a human do, as data.
  *
  * [[audit]] walks the executed plan (through AQE wrappers, query stages,
  * cached subtrees and subquery plans) and emits one [[PlanAudit.Finding]]
  * per scale-relevant operator:
  *
  *  - `scan` — per parquet scan: the table, the columns that survive
  *    pruning, and whether filters were PUSHED to the reader (caution
  *    when a filter exists in the plan but nothing reached the scan);
  *  - `join` — the chosen strategy; broadcast forms are the no-shuffle
  *    good case, `SortMergeJoin`/`ShuffledHashJoin` record that a
  *    shuffle of both sides was paid, `CartesianProduct` is always a
  *    caution;
  *  - `shuffle` — every exchange with its output partitioning (the
  *    number a 100 TB review counts first);
  *  - `window` — partitioned (parallel) vs partition-less (the funnel —
  *    caution, same shape [[GlobalWindowGuard]] rejects);
  *  - `agg` — aggregate nodes with their mode, so a missing map-side
  *    partial is visible;
  *  - `codegen` — each whole-stage span and how many operators it fused
  *    (wider spans = fewer virtual-call boundaries).
  *
  * The result is plain data: assert on it in tests (GuardSpec does),
  * diff it across releases to catch plan regressions, or render it with
  * [[auditDf]] beside job metrics. The audit never executes the frame —
  * it reads the plan Spark already produced, so it also takes a plan
  * captured from a finished execution (a `QueryExecutionListener`'s). AQE caveat: codegen spans
  * (and AQE's final join/shuffle choices) exist only in MATERIALIZED
  * query stages, so audit an executed frame to see what actually ran;
  * an un-executed frame reports the initial static plan.
  */
object PlanAudit {

  /** One scale-relevant plan observation. `caution` marks the shapes
    * that deserve review at data scale — it is a flag, not a verdict:
    * a partition-less window over a provably bounded frame is fine, and
    * only the caller knows the bound (GlobalWindowGuard's contract).
    */
  final case class Finding(
      kind: String, operator: String, detail: String, caution: Boolean)

  def audit(df: Dataset[_]): Seq[Finding] =
    audit(df.queryExecution.executedPlan)

  def audit(plan: SparkPlan): Seq[Finding] = walk(plan, Nil)

  /** The findings as a DataFrame, for display/joins with metrics. */
  def auditDf(df: Dataset[_]): Dataset[Finding] = {
    val spark = df.sparkSession
    import spark.implicits._
    spark.createDataset(audit(df))
  }

  /** `filtersAbove` carries the attribute references of every FilterExec
    * condition on the path from the root — scoped per branch: descending
    * into a child, only filters whose references overlap THAT child's
    * output survive, so an unpushable filter on the probe side of a join
    * can never flag a scan on the build side (whose columns the
    * predicate never mentions). Wrapper nodes (AQE shells, query stages,
    * cached subtrees) pass the set through unscoped — their inner plans
    * may re-alias attributes, and dropping the filter there would
    * silently disarm the pushdown caution for every AQE plan. A subquery
    * plan (scalar, IN, dynamic pruning) starts with no filters above:
    * it reads its own tables, under none of the outer plan's filters.
    */
  private def walk(p: SparkPlan,
      filtersAbove: Seq[org.apache.spark.sql.catalyst.expressions.AttributeSet])
      : Seq[Finding] = {
    val filterAbove = filtersAbove.nonEmpty
    val (kids, isWrapper): (Seq[SparkPlan], Boolean) = p match {
      case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), true)
      case q: QueryStageExec => (Seq(q.plan), true)
      // audit what a cached subtree WOULD read/shuffle when built — the
      // cost is real even if this run serves it from storage
      case c: InMemoryTableScanExec => (Seq(c.relation.cachedPlan), true)
      case o => (o.children, false)
    }
    val self: Seq[Finding] = p match {
      case s: FileSourceScanExec =>
        val tbl = s.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        val pushed = s.metadata.getOrElse("PushedFilters", "[]")
        val cols = s.requiredSchema.fieldNames
        val totCols = s.relation.dataSchema.fieldNames.length
        // the advertised pushdown-failure flag: a Filter sits above this
        // scan yet NOTHING reached the reader — neither a data filter
        // (PushedFilters empty) nor a partition-pruning predicate. A
        // filter on derived columns can trip this legitimately (flag,
        // not verdict — the Finding contract), but a filter on source
        // columns that stayed post-scan is exactly the regression a
        // 100 TB review must not miss.
        val nothingPushed = (pushed == "[]" || pushed.isEmpty) &&
          s.partitionFilters.isEmpty
        Seq(Finding("scan", s"parquet $tbl",
          s"reads ${cols.length}/$totCols cols [${cols.mkString(", ")}], PushedFilters: $pushed" +
            (if (filterAbove && nothingPushed)
               " — filter in plan but NOTHING pushed to the reader" else ""),
          caution = filterAbove && nothingPushed))
      case j: BroadcastHashJoinExec =>
        Seq(Finding("join", "BroadcastHashJoin",
          s"${j.joinType} ON ${j.leftKeys.map(_.sql).mkString(", ")} — no shuffle of the big side",
          caution = false))
      case j: BroadcastNestedLoopJoinExec =>
        // the library's own crossJoin(broadcast(1-row stats)) idiom plans
        // here; caution only when the STREAMED side is itself join output
        // is unknowable statically, so BNLJ stays informational
        Seq(Finding("join", "BroadcastNestedLoopJoin",
          s"${j.joinType} — bounded side broadcast, streamed side scanned once",
          caution = false))
      case j: SortMergeJoinExec =>
        Seq(Finding("join", "SortMergeJoin",
          s"${j.joinType} ON ${j.leftKeys.map(_.sql).mkString(", ")} — both sides shuffle+sort on the key",
          caution = false))
      case j: ShuffledHashJoinExec =>
        Seq(Finding("join", "ShuffledHashJoin",
          s"${j.joinType} ON ${j.leftKeys.map(_.sql).mkString(", ")} — both sides shuffle on the key",
          caution = false))
      case _: CartesianProductExec =>
        Seq(Finding("join", "CartesianProduct",
          "all-pairs blowup: |L|x|R| rows — add a join condition or broadcast the bounded side",
          caution = true))
      case e: ShuffleExchangeExec =>
        Seq(Finding("shuffle", "ShuffleExchange",
          e.outputPartitioning.toString, caution = false))
      case _: BroadcastExchangeExec =>
        Seq(Finding("shuffle", "BroadcastExchange",
          "small side shipped to every executor", caution = false))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(Finding("window", "WindowExec (partition-less)",
          s"[${w.windowExpression.map(_.name).mkString(", ")}] — every row through ONE task unless the input is bounded",
          caution = true))
      case w: WindowExec =>
        Seq(Finding("window", "WindowExec",
          s"partitioned by ${w.partitionSpec.map(_.sql).mkString(", ")} — parallel across groups",
          caution = false))
      case a: HashAggregateExec =>
        Seq(Finding("agg", "HashAggregate",
          s"modes ${a.aggregateExpressions.map(_.mode).distinct.mkString("/")}",
          caution = false))
      case a: ObjectHashAggregateExec =>
        Seq(Finding("agg", "ObjectHashAggregate",
          s"modes ${a.aggregateExpressions.map(_.mode).distinct.mkString("/")}",
          caution = false))
      case a: SortAggregateExec =>
        // sort-based agg buffers per-group sorted runs — usually a sign a
        // hash agg fell back (unbounded agg buffer or unsortable types)
        Seq(Finding("agg", "SortAggregate",
          s"modes ${a.aggregateExpressions.map(_.mode).distinct.mkString("/")} — sort-based fallback",
          caution = false))
      case c: WholeStageCodegenExec =>
        var n = 0
        c.foreach(_ => n += 1)
        Seq(Finding("codegen", "WholeStageCodegen",
          s"fuses $n operators", caution = false))
      case _ => Nil
    }
    val withSelf = p match {
      case f: FilterExec => filtersAbove :+ f.condition.references
      case _ => filtersAbove
    }
    self ++ kids.flatMap { c =>
      val scoped =
        if (isWrapper) withSelf
        else withSelf.filter(refs => refs.intersect(c.outputSet).nonEmpty)
      walk(c, scoped)
    } ++ p.subqueries.flatMap(walk(_, Nil))
  }
}
