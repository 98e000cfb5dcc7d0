package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Sixteen recognizable TPC-H query shapes, adapted to the fixture's
  * column subset (no shipmode/commitdate family, so q12-class queries are
  * out of reach) — multi-join plans that exercise Catalyst's join
  * ordering, dimension broadcasting, and scan pushdown together, the way
  * a warehouse actually queries.
  *
  * All are SQL-form: the text is identical on both engines, so the
  * oracle is the query itself. Plan expectations (PLANS.md): every
  * selective predicate lands in PushedFilters; region/nation/customer
  * broadcast; the pre-aggregation join tree carries partial aggregates
  * into the final group-by shuffle; top-k is TakeOrderedAndProject, never
  * a global sort. Aggregate-then-round: revenue sums are rounded at 2dp
  * (SURVEY §2.Z.2) so cross-engine double addition order is absorbed.
  */
object Workload {

  /** Query id → SQL text. Spark runs each text through `Tables.sql`, and
    * the same text is its DuckDB oracle. */
  private val sql: Map[String, String] = Map(
    // q3 shape — shipping priority: open orders of one segment, revenue
    // per order still unshipped at the cutoff, top 10.
    "tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    // q4 shape — order priority checking, adapted: the original's
    // commitdate/receiptdate columns don't exist here, so "late" is a
    // lineitem shipping more than 60 days after the order date — same
    // EXISTS-correlated-on-the-fact-table plan (Catalyst plans a LEFT
    // SEMI join with the date predicate evaluated inside), same
    // per-priority census output.
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""".stripMargin,
    // q5 shape — local supplier volume: revenue in ASIA from suppliers in
    // the customer's own nation, per nation, one order-year.
    "tpch_q5" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,
    // q6 shape — forecasting revenue change: one-table scan-heavy filter
    // aggregate, THE predicate-pushdown showcase (every predicate lands in
    // PushedFilters; the scan reads 4 columns). Discount bounds sit at
    // grid midpoints (the fixture's discounts step by 0.01): a bound
    // placed ON a grid value would compare double-vs-decimal differently
    // across engines (§2.Z trap — DuckDB bare 0.07 is DECIMAL and
    // double(0.07) > 0.07 exactly), so 0.045/0.075 make representation
    // irrelevant.
    "tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 45e-3 AND l_discount <= 75e-3
        |  AND l_quantity < 24e0""".stripMargin,
    // q7 shape — volume shipping: bilateral trade between two nations
    // (supplier side vs customer side), per direction and ship year. The
    // canonical "both orientations of an asymmetric pair predicate" plan:
    // the disjunction stays in the join condition, nations broadcast, and
    // the year extraction groups the lineitem stream without a second
    // pass.
    "tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin,
    // q8 shape — national market share: NATION_3's share of one region's
    // PROMO-part revenue per order year. Two aggregates over one join
    // tree (conditional-sum numerator / total denominator), 8-way join
    // with every dimension broadcast.
    "tpch_q8" ->
      """SELECT o_year,
        |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
        |    / sum(volume), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') all_nations
        |GROUP BY o_year ORDER BY o_year ASC""".stripMargin,
    // q9 shape — product-type profit, adapted: no partsupp table means no
    // supplycost term, so profit is gross revenue on a p_name CONTAINS
    // filter ('%red%' — the original's '%green%' against this fixture's
    // color vocabulary), per supplier nation and order year. The 5-way
    // join with a LIKE-filtered dimension: part prunes first (the
    // selective side), everything dimension-sized broadcasts.
    "tpch_q9" ->
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS amount
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation ASC, o_year DESC""".stripMargin,
    // q10 shape — returned-item reporting: customers who returned goods in
    // one quarter, ranked by lost revenue, top 20.
    "tpch_q10" ->
      """SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS acctbal,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    // q13 shape — customer order-count distribution: the LEFT join with a
    // join-side filter (non-URGENT orders; zero-order customers must
    // survive with c_count=0) under a double aggregation. The classic
    // "distribution of activity" report whose outer join Catalyst must NOT
    // convert to inner despite the filter.
    "tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q14 shape — promotion effect: share of revenue from PROMO-type
    // parts in one month. The classic conditional-aggregate ratio over a
    // single fact↔dimension join; part broadcasts, both sums ride one
    // partial-aggregated pass.
    "tpch_q14" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |    / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'""".stripMargin,
    // q15 shape — top supplier: quarter revenue per supplier compared to
    // the maximum via an uncorrelated scalar subquery over the same CTE.
    // Revenue rounds at 2dp BEFORE the max-equality compare, so the
    // winner cannot flip on a cross-engine summation-order ulp.
    "tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey ASC""".stripMargin,
    // q17 shape — small-quantity-order revenue: a CORRELATED scalar
    // aggregate subquery (per-part 20%-of-average threshold) that Catalyst
    // rewrites into an aggregate + self-join. The threshold multiplies
    // 2e-1 by an average of integer-valued quantities (exact sums), so
    // both engines compare against bit-identical doubles.
    "tpch_q17" ->
      """SELECT round(coalesce(sum(l_extendedprice), 0e0) / 7e0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (
        |    SELECT 2e-1 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // q18 shape — large-volume customers: HAVING over the order-grain
    // quantity rollup feeding a 3-way join, top 20 by order value. The
    // aggregate-as-join-input plan: the HAVING prunes before the join, so
    // the join carries only qualifying orders (threshold 250 sits in the
    // fixture's p99 tail at every SF). Quantity sums are exact integer
    // sums in double.
    "tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS totalprice, sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 250e0) big
        |  ON o_orderkey = l_orderkey
        |ORDER BY totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    // q19 shape — discounted revenue over a 3-branch disjunction of
    // (brand, size-range, quantity-band) triples, adapted to this part
    // schema (no container column — p_size carries the second axis). The
    // plan point is DISJUNCTIVE pushdown: the whole OR lands in the join
    // filter, each branch's part predicates prune the build side.
    // Integer size bounds are exact; quantity bounds written as float
    // literals (§2.Z).
    "tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1e0 AND l_quantity <= 11e0)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity >= 10e0 AND l_quantity <= 20e0)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity >= 20e0 AND l_quantity <= 30e0)""".stripMargin,
    // q21 shape — suppliers who kept orders waiting, adapted (lateness =
    // shipping > 90 days after the order date, on finished orders): the
    // double-correlated EXISTS / NOT EXISTS plan — the supplier was late
    // on a multi-supplier order AND every co-supplier was on time.
    // Catalyst rewrites both subqueries to semi/anti joins on the order
    // key with the supplier-inequality as a join filter; the lineitem
    // stream is scanned once per correlation, all on the same key. The
    // original's per-late-lineitem counting grain is kept.
    "tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin,
    // q22 shape — global sales opportunity, adapted: high-balance
    // customers with no RECENT orders (the fixture has no phone column
    // and every customer has SOME order, so the anti condition gets a
    // date floor), reported per market segment. Threshold is the
    // DISC-MEDIAN positive balance — an actual data value, rank-exact in
    // both engines — where the original's avg() would compare against a
    // summation-order-dependent scalar (§2.Z: never gate a row set on an
    // ulp-noisy threshold). NOT EXISTS plans as a left ANTI join.
    "tpch_q22" ->
      """WITH med AS (
        |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS m
        |  FROM customer WHERE c_acctbal > 0e0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT m FROM med)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    sql.view.mapValues(Tables.sql).toMap

  val oracleSql: Map[String, String] = sql
}
