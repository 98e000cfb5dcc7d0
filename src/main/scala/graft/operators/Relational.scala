package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.B (projection/filter/predicates) + §2.F (sort/limit/top-k).
  *
  * Scale notes (SURVEY §4.2/§4.4): every filter here is a deterministic
  * Column expression, so Catalyst pushes it into the parquet scan
  * (`PushedFilters`) and prunes columns via the vectorized reader — the
  * pattern that reads only the needed row groups at 100 TB. `topk_limit`
  * compiles to `TakeOrderedAndProjectExec` (per-partition heap + merge on
  * the driver), NOT a global sort — O(k) memory regardless of input size.
  * Determinism: §2.Z — total ORDER BY with key tie-breaks, explicit
  * NULLS FIRST/LAST, rounded computed doubles.
  */
object Relational {

  import org.apache.spark.sql.Column

  /** Per-ROW money rounding must go through an exact decimal: the fixture
    * doubles are exact ≤2dp decimals, so products are exact at ≤6dp; casting
    * to DECIMAL(18,6) recovers that exact value on BOTH engines, and
    * HALF_UP rounding of an exact decimal agrees (validated, SURVEY §2.H
    * math_funcs). Rounding the raw double instead diverges on .xx5
    * boundaries (Spark rounds the shortest decimal repr, DuckDB the binary
    * value) — measured 118/60k mismatches at sf0.01. */
  private[graft] def money(c: Column): Column =
    round(c.cast("decimal(18,6)"), 2).cast("double")

  /** Billing-normalize projection: rename/derive the revenue and charge
    * measures every billing pipeline computes (reference's
    * scan→project/cast core, SURVEY §3.1). */
  def projDerive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        col("l_quantity").as("qty"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"))
      .orderBy(col("orderkey").asc, col("linenumber").asc)

  /** BETWEEN + IN + LIKE + RLIKE + AND/OR/NOT precedence in one predicate;
    * all of it reaches the scan as pushed filters. */
  def filterComplex(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(
        col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
                                   lit("1998-12-31").cast("timestamp")) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM") &&
        (col("o_orderpriority").like("%URGENT") || col("o_orderpriority").rlike("^[23]-")) &&
        !(col("o_orderstatus") === "P"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .orderBy(col("o_orderkey").asc)

  /** Null-safe predicates over manufactured NULLs (fixtures have zero
    * natural NULLs — FIXTURES.md): `nullif` → `<=>` (null-safe equal),
    * IS NULL handling, coalesce. */
  def filterNullsafe(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
      .filter(!(col("seg") <=> "AUTOMOBILE")) // IS DISTINCT FROM: keeps NULL rows
      .groupBy("seg")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("seg").isNull, lit(1))).as("null_rows"),
        round(sum(coalesce(col("c_acctbal"), lit(0.0))), 2).as("bal"))
      .orderBy(col("seg").asc_nulls_first)

  /** Multi-key sort with explicit NULL placement on a manufactured
    * nullable key (SURVEY §2.Z.5: Spark/DuckDB default NULL order differs —
    * always explicit). */
  def sortMultikey(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("prio", nullif(col("o_orderpriority"), lit("5-LOW")))
      .select("o_orderkey", "prio", "o_totalprice")
      .orderBy(col("prio").desc_nulls_first, col("o_totalprice").desc, col("o_orderkey").asc)

  /** Global top-100 revenue line items — TakeOrderedAndProject, not a full
    * sort: the 100 TB-safe top-k. */
  def topkLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        money(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  /** Query id → SQL text. Spark runs each text through `Tables.sql`, and
    * the same text is its DuckDB oracle. */
  private val sql: Map[String, String] = Map(
    // Pagination page 3 (LIMIT 50 OFFSET 100) over a total order.
    "limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey ASC
        |LIMIT 50 OFFSET 100""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "proj_derive"     -> (projDerive _),
    "filter_complex"  -> (filterComplex _),
    "filter_nullsafe" -> (filterNullsafe _),
    "sort_multikey"   -> (sortMultikey _),
    "topk_limit"      -> (topkLimit _)) ++ sql.view.mapValues(Tables.sql)

  val oracleSql: Map[String, String] = sql ++ Map(
    "proj_derive" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_quantity AS qty,
        | CAST(round(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)),2) AS DOUBLE) AS revenue,
        | CAST(round(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6)),2) AS DOUBLE) AS charge
        |FROM lineitem ORDER BY orderkey ASC, linenumber ASC""".stripMargin,
    "filter_complex" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
        |  AND o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
        |  AND (o_orderpriority LIKE '%URGENT' OR regexp_matches(o_orderpriority, '^[23]-'))
        |  AND NOT (o_orderstatus = 'P')
        |ORDER BY o_orderkey ASC""".stripMargin,
    "filter_nullsafe" ->
      """SELECT nullif(c_mktsegment,'BUILDING') AS seg, count(*) AS n,
        | count(*) FILTER (WHERE nullif(c_mktsegment,'BUILDING') IS NULL) AS null_rows,
        | round(sum(coalesce(c_acctbal, 0.0)),2) AS bal
        |FROM customer
        |WHERE nullif(c_mktsegment,'BUILDING') IS DISTINCT FROM 'AUTOMOBILE'
        |GROUP BY seg ORDER BY seg ASC NULLS FIRST""".stripMargin,
    "sort_multikey" ->
      """SELECT o_orderkey, nullif(o_orderpriority,'5-LOW') AS prio, o_totalprice
        |FROM orders
        |ORDER BY prio DESC NULLS FIRST, o_totalprice DESC, o_orderkey ASC""".stripMargin,
    "topk_limit" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)),2) AS DOUBLE) AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""".stripMargin)
}
