package graft

import org.apache.spark.SparkException
import graft.plans.GlobalWindowGuard

/** GlobalWindowGuard: the runtime funnel guardrail (library assert +
  * conf-gated analysis check rule). Uses an isolated `newSession()` so the
  * conf flip can never leak into suites sharing the JVM-wide session.
  */
class GuardSpec extends SparkSpec {

  private def s2 = spark.newSession()

  test("assertNone rejects a partition-less window and names it") {
    val df = spark.range(10)
      .selectExpr("id", "row_number() OVER (ORDER BY id) AS rn")
    val e = intercept[SparkException] { GlobalWindowGuard.assertNone(df) }
    assert(e.getMessage.contains("Partition-less window"))
    assert(e.getMessage.contains("rn"))
  }

  test("assertNone accepts partitioned windows") {
    val df = spark.range(10)
      .selectExpr("id", "id % 3 AS g")
      .selectExpr("id", "row_number() OVER (PARTITION BY g ORDER BY id) AS rn")
    GlobalWindowGuard.assertNone(df) // must not throw
  }

  test("finds windows hidden inside subqueries") {
    val s = s2
    s.range(10).createOrReplaceTempView("gw_t")
    val df = s.sql(
      """SELECT * FROM gw_t WHERE id IN
        |  (SELECT id FROM (SELECT id, row_number() OVER (ORDER BY id) AS r
        |                   FROM gw_t) WHERE r <= 3)""".stripMargin)
    assert(GlobalWindowGuard.globalWindows(df.queryExecution.analyzed).nonEmpty)
  }

  test("physical sweep flags cartesian products but not broadcast loops") {
    // a small range would auto-broadcast into a nested-loop join, so pin
    // the threshold off in an isolated session to get the real planner
    // behavior a fact-fact crossJoin exhibits at scale
    val s = s2
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val a = s.range(100).selectExpr("id AS x")
    val b = s.range(100).selectExpr("id AS y")
    val cart = a.crossJoin(b)
    val e = intercept[SparkException] { GlobalWindowGuard.assertScaleSafe(cart) }
    assert(e.getMessage.contains("CartesianProductExec"))
    // the library's own stats idiom: an EXPLICIT 1-row broadcast side
    // plans as a BroadcastNestedLoopJoin even with auto-broadcast off —
    // must pass; this precision is why the sweep is physical, not logical
    val stats = s.range(100).agg(org.apache.spark.sql.functions.sum("id").as("s"))
    GlobalWindowGuard.assertScaleSafe(
      a.crossJoin(org.apache.spark.sql.functions.broadcast(stats)))
  }

  test("physical sweep flags the funnel window, partitioned windows pass") {
    val funnel = spark.range(100)
      .selectExpr("id", "row_number() OVER (ORDER BY id) AS rn")
    val e = intercept[SparkException] { GlobalWindowGuard.assertScaleSafe(funnel) }
    assert(e.getMessage.contains("partition-less WindowExec"))
    GlobalWindowGuard.assertScaleSafe(spark.range(100)
      .selectExpr("id", "id % 3 AS g")
      .selectExpr("id", "row_number() OVER (PARTITION BY g ORDER BY id) AS rn"))
  }

  test("check rule fires only when the conf opts in") {
    val s = s2
    val bad = s.range(10)
      .selectExpr("id", "row_number() OVER (ORDER BY id) AS rn")
    val rule = new GlobalWindowGuard.CheckRule(s)
    rule(bad.queryExecution.analyzed) // conf unset: no-op
    s.conf.set(GlobalWindowGuard.confKey, "true")
    intercept[SparkException] { rule(bad.queryExecution.analyzed) }
    val ok = s.range(10)
      .selectExpr("id", "id % 3 AS g")
      .selectExpr("id", "sum(id) OVER (PARTITION BY g) AS t")
    rule(ok.queryExecution.analyzed) // partitioned: passes even when on
  }

  test("PlanAudit reports scans with pruning/pushdown, join strategy, shuffles") {
    import graft.plans.PlanAudit
    val lf = graft.Tables.lineitem(spark, sf0001)
    val smallDim = graft.Tables.nation(spark, sf0001)
    val df = lf.filter(org.apache.spark.sql.functions.col("l_quantity") > 10)
      .groupBy("l_suppkey")
      .agg(org.apache.spark.sql.functions.sum("l_extendedprice").as("rev"))
    // under AQE the codegen spans exist only in MATERIALIZED query
    // stages — execute first, then audit the plan Spark actually ran
    df.collect()
    val f = PlanAudit.audit(df)
    val scans = f.filter(_.kind == "scan")
    assert(scans.nonEmpty, f.toString)
    // column pruning reached the reader: far fewer cols than the table has
    assert(scans.exists(_.detail.startsWith("reads 3/")), scans.toString)
    // the quantity filter was pushed to the scan
    assert(scans.exists(_.detail.contains("GreaterThan(l_quantity")), scans.toString)
    // partial+final agg pair visible
    assert(f.count(_.kind == "agg") >= 2, f.toString)
    assert(f.exists(x => x.kind == "shuffle" && x.operator == "ShuffleExchange"))
    assert(f.exists(_.kind == "codegen"))
    assert(f.forall(!_.caution), "a plain pruned agg has no cautions")
    // broadcast join recognized as the no-shuffle-of-big-side case
    val bj = PlanAudit.audit(lf.join(
      org.apache.spark.sql.functions.broadcast(smallDim),
      org.apache.spark.sql.functions.col("l_suppkey") ===
        org.apache.spark.sql.functions.col("n_nationkey")))
    assert(bj.exists(x => x.kind == "join" && x.operator == "BroadcastHashJoin" && !x.caution))
  }

  test("PlanAudit reports the scan a scalar subquery reads from a second table") {
    import graft.plans.PlanAudit
    import org.apache.spark.sql.functions.{col, max}
    val nt = graft.Tables.nation(spark, sf0001)
    val df = graft.Tables.lineitem(spark, sf0001)
      .filter(col("l_suppkey") > nt.select(max("n_nationkey")).scalar())
    df.collect()
    val scans = PlanAudit.audit(df).filter(_.kind == "scan")
    assert(scans.exists(_.operator == "parquet lineitem.parquet"), scans.toString)
    // the subquery's plan hangs off an expression, not the operator tree
    assert(scans.exists(f => f.operator == "parquet nation.parquet" &&
      f.detail.startsWith("reads 1/") && f.detail.contains("[n_nationkey]")), scans.toString)
  }

  test("PlanAudit cautions a scan when a filter exists but nothing was pushed") {
    import graft.plans.PlanAudit
    val lf = graft.Tables.lineitem(spark, sf0001)
    // xxhash64 is not a pushable predicate — the Filter stays post-scan,
    // PushedFilters is empty, no partition pruning: the advertised
    // pushdown-failure caution must fire
    val blocked = lf.filter(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("l_returnflag")),
        org.apache.spark.sql.functions.lit(7)) === 0)
    blocked.collect()
    val fb = PlanAudit.audit(blocked)
    assert(fb.exists(x => x.kind == "scan" && x.caution &&
      x.detail.contains("NOTHING pushed")), fb.toString)
    // same table, pushable filter: scan stays caution-free (regression
    // guard for the filterAbove threading)
    val pushed = lf.filter(
      org.apache.spark.sql.functions.col("l_quantity") > 10)
    pushed.collect()
    val fp = PlanAudit.audit(pushed)
    assert(fp.filter(_.kind == "scan").forall(!_.caution), fp.toString)
  }

  test("PlanAudit scopes the filter caution to branches the predicate references") {
    import graft.plans.PlanAudit
    import org.apache.spark.sql.functions._
    // a HAVING-shaped filter on an aggregate RESULT cannot push below the
    // aggregation, so a FilterExec sits high in the plan — but its
    // references are the agg output, not any scan column, and neither
    // scan below the join may be flagged for it (the old unscoped
    // propagation cautioned every descendant scan in such plans)
    val lf = graft.Tables.lineitem(spark, sf0001)
    val nt = graft.Tables.nation(spark, sf0001)
    val having = lf.join(broadcast(nt), col("l_suppkey") === col("n_nationkey"))
      .groupBy("n_name").agg(sum("l_quantity").as("s"))
      .filter(pmod(xxhash64(col("s")), lit(2)) === 0)
    having.collect()
    val fh = PlanAudit.audit(having)
    assert(fh.exists(_.kind == "scan"), fh.toString)
    assert(fh.filter(_.kind == "scan").forall(!_.caution), fh.toString)
  }

  test("PlanAudit flags the funnel window and the cartesian, auditDf round-trips") {
    import graft.plans.PlanAudit
    val funnel = spark.range(50)
      .selectExpr("id", "row_number() OVER (ORDER BY id) AS rn")
    val fw = PlanAudit.audit(funnel)
    assert(fw.exists(x => x.kind == "window" &&
      x.operator.contains("partition-less") && x.caution), fw.toString)
    // true cartesian (no condition, neither side broadcastable under a
    // pinned no-auto-broadcast session) — reuse the s2 session posture
    val s = s2
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cart = s.range(100).crossJoin(s.range(100).selectExpr("id AS id2"))
    val fc = PlanAudit.audit(cart)
    assert(fc.exists(x => x.operator == "CartesianProduct" && x.caution), fc.toString)
    s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the DataFrame form carries identical rows
    val viaDf = PlanAudit.auditDf(funnel).collect().toSeq
    assert(viaDf == fw)
  }
}
