package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Standard-SQL surface operators a reference user would expect beyond the
  * core relational set: pivot/unpivot reshaping, deterministic sampling,
  * lateral joins, and correlated subqueries (Catalyst rewrites the latter
  * to joins — `RewritePredicateSubquery`/`RewriteCorrelatedScalarSubquery`
  * — so they scale like the §2.C joins they become).
  */
object SqlOps {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT: per-user event-type counts as wide columns. The value list is
    * explicit (deterministic output schema — never let pivot infer). */
  def aggPivot(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +: eventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("user_id").asc)
  }

  /** UNPIVOT/melt: per-nation metrics to (nation, metric, value) rows. */
  def aggUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        count(lit(1)).cast("double").as("c_cnt"),
        round(sum("c_acctbal"), 2).as("bal_sum"),
        round(avg("c_acctbal"), 6).as("bal_avg"))
      .unpivot(Array(col("n_name")), Array(col("c_cnt"), col("bal_sum"), col("bal_avg")),
        "metric", "value")
      .orderBy(col("n_name").asc, col("metric").asc)

  /** Deterministic systematic sample: key-modulo selection. (TABLESAMPLE
    * is seeded-random and engine-specific — a cross-engine-verifiable
    * sample must be a pure function of the keys; at scale this is also
    * what makes samples reproducible across reruns.) */
  def sampleSystematic(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("l_returnflag").asc)

  /** Query id → SQL text. Spark runs each text through `Tables.sql`, and
    * the same text is its DuckDB oracle. */
  private val sql: Map[String, String] = Map(
    // LATERAL join: top-2 orders per customer via a correlated lateral
    // subquery (the SQL-standard form of the win_topk pattern).
    "join_lateral" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        |ORDER BY c_custkey ASC, t.o_totalprice DESC, t.o_orderkey ASC""".stripMargin,
    // Correlated scalar subquery: orders 1.5× above their customer's
    // average order value.
    "subquery_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
        |                            WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey ASC""".stripMargin,
    // IN subquery (rewritten by Catalyst to a left-semi join).
    "subquery_in" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus ASC""".stripMargin,
    // NOT IN over a NULLABLE subquery — the classic three-valued-logic
    // trap, planned by Catalyst as a null-aware anti join (a plain anti
    // join would be WRONG: one NULL in the subquery makes
    // `x NOT IN (...)` never-true for every row). The CASE makes the
    // subquery column nullable at PLAN time, forcing the NAAJ; its
    // poison branch is runtime-empty by construction (no 'X' status
    // exists), so the declared result stays the non-trivial "customers
    // without a big order" census — NullSemanticsSpec asserts that
    // flipping the guard to a live status empties the result, the
    // three-valued behavior itself. Both engines implement the same
    // SQL-standard semantics, so this is exactly oracle-able.
    "subquery_not_in" ->
      """SELECT c_nationkey, count(*) AS n
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT CASE WHEN o_orderstatus = 'X' THEN NULL ELSE o_custkey END
        |  FROM orders WHERE o_totalprice > 300000)
        |GROUP BY c_nationkey ORDER BY c_nationkey ASC""".stripMargin,
    // Correlated EXISTS + NOT EXISTS in one predicate: market segments of
    // customers who placed a >200k order but never had an 'F'-status one.
    // Catalyst rewrites EXISTS to a left-semi and NOT EXISTS to a left-anti
    // join (`RewritePredicateSubquery`), so both scale as hash joins keyed
    // on the correlation key — no per-row subquery execution ever happens.
    "subquery_exists" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin,
    // Recursive CTE (Spark 4's `UnionLoop`): a 12-row month spine built by
    // recursion, left-joined to per-month order revenue. The recursion here
    // is deliberately driver-scale (each step materializes one tiny
    // increment; depth 12 ≪ `spark.sql.cteRecursionLevelLimit`); the
    // corpus-sized work stays in the one hash aggregate over orders. For
    // bulk spines prefer `sequence()` + explode (ts_gapfill) — this query
    // exists to cover the SQL-standard recursive surface, which both
    // engines execute with identical fixpoint semantics.
    "sql_recursive_cte" ->
      """WITH RECURSIVE m(mon) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT mon + 1 FROM m WHERE mon < 12
        |)
        |SELECT mon, count(o_orderkey) AS n,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS rev
        |FROM m LEFT JOIN orders ON month(o_orderdate) = mon
        |GROUP BY mon ORDER BY mon ASC""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_pivot"         -> (aggPivot _),
    "agg_unpivot"       -> (aggUnpivot _),
    "sample_systematic" -> (sampleSystematic _)) ++ sql.view.mapValues(Tables.sql)

  val oracleSql: Map[String, String] = sql ++ Map(
    "agg_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id ASC""".stripMargin,
    "agg_unpivot" ->
      """WITH m AS (
        |  SELECT n_name, CAST(count(*) AS DOUBLE) AS c_cnt,
        |         round(sum(c_acctbal), 2) AS bal_sum, round(avg(c_acctbal), 6) AS bal_avg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name)
        |SELECT n_name, 'c_cnt' AS metric, c_cnt AS value FROM m
        |UNION ALL SELECT n_name, 'bal_sum', bal_sum FROM m
        |UNION ALL SELECT n_name, 'bal_avg', bal_avg FROM m
        |ORDER BY n_name ASC, metric ASC""".stripMargin,
    "sample_systematic" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem WHERE l_orderkey % 10 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin)
}
