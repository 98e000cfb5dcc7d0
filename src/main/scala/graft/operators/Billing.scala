package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Billing-domain operators — the reference system is a billing data
  * loader. These are the calculations a billing pipeline ships beyond
  * generic OLAP (tiered rating, receivables aging, period proration,
  * revenue movement and recognition, DSO, a unit-value price index) plus
  * the loader's own dataflow as one query (`bill_pipeline_e2e`). The
  * rating calculations are map-side arithmetic + one hash agg, the shape
  * that rates a 100 TB usage stream in a single pass.
  *
  * Determinism: tier boundaries and rates are exact literals; proration
  * ratios divide exact small integers (identical doubles both engines);
  * aging buckets compare integer day differences. Sums round at 2dp
  * (money) per §2.Z.2.
  */
object Billing {

  /** Tiered usage rating: per unit-band rates (≤10 @ 3.0, 10–25 @ 2.0,
    * above @ 1.0 — the marginal-tier convention: each band bills only
    * its own units). Reports per return flag: billed revenue, the
    * blended effective rate, and how many lines reach each tier. */
  def billTiered(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity")
    val t1 = least(q, lit(10.0))
    val t2 = least(greatest(q - 10.0, lit(0.0)), lit(15.0))
    val t3 = greatest(q - 25.0, lit(0.0))
    val billed = t1 * 3.0 + t2 * 2.0 + t3 * 1.0
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), q.as("units"), billed.as("billed"),
        (t2 > 0).cast("long").as("hit_t2"), (t3 > 0).cast("long").as("hit_t3"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("lines"),
        round(sum("units"), 2).as("units"),
        round(sum("billed"), 2).as("billed"),
        round(sum("billed") / sum("units"), 6).as("eff_rate"),
        sum("hit_t2").as("lines_t2"),
        sum("hit_t3").as("lines_t3"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Accounts-receivable aging: OPEN orders bucketed by days outstanding
    * against the ledger date (corpus max order date — the batch stand-in
    * for "today", a 1-row broadcast scalar): current (≤30), 31–60,
    * 61–90, 90+. The collections report: count, exposure, oldest item
    * per bucket. */
  def billAging(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val ref = broadcast(o.agg(max(col("o_orderdate")).as("ref")))
    o.filter(col("o_orderstatus") === "O")
      .crossJoin(ref)
      .withColumn("age", datediff(col("ref"), col("o_orderdate")))
      .withColumn("bucket",
        when(col("age") <= 30, "1_current")
          .when(col("age") <= 60, "2_31_60")
          .when(col("age") <= 90, "3_61_90")
          .otherwise("4_over_90"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("invoices"),
        round(sum("o_totalprice"), 2).as("exposure"),
        max("age").as("oldest_days"))
      .orderBy(col("bucket").asc)
  }

  /** First-period proration: a subscription starting mid-month bills
    * (days remaining, start day inclusive) / (days in month) of the full
    * charge — the sign-up-day revenue adjustment. Per order month:
    * orders, the full charge, the prorated charge, and the average
    * billed fraction. Ratios are exact small-integer divisions (both
    * engines produce identical doubles); money rounds at 2dp after the
    * sum. */
  def billProration(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("dim", dayofmonth(last_day(col("o_orderdate"))))
      .withColumn("frac",
        (col("dim") - dayofmonth(col("o_orderdate")) + 1).cast("double") / col("dim"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("orders"),
        round(sum("o_totalprice"), 2).as("full_charge"),
        round(sum(col("o_totalprice") * col("frac")), 2).as("prorated"),
        round(avg("frac"), 6).as("avg_frac"))
      .orderBy(col("month").asc)

  /** MRR bridge — the month-over-month revenue movement decomposition
    * every recurring-billing business reports: per month, revenue from
    * NEW customers (no prior-month revenue), EXPANSION (grew vs prior
    * month), CONTRACTION (shrank, negative), and CHURN (prior-month
    * customers with nothing this month, negative), netting to the MRR
    * delta. One full-outer self-join of the (customer, month) rollup
    * against itself shifted one month — both sides hash-partition on
    * (customer, month), customer-grain at any scale. Revenues are
    * 2dp-pre-rounded so the movement classification compares identical
    * doubles; month arithmetic goes through DATE (no tz edge). */
  def billMrrBridge(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("cust"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val prev = cm.select(col("cust"), add_months(col("month"), 1).as("month"),
      col("rev").as("prev_rev"))
    cm.join(prev, Seq("cust", "month"), "full_outer")
      .groupBy("month")
      .agg(
        round(sum(when(col("prev_rev").isNull, col("rev")).otherwise(0.0)), 2)
          .as("new_rev"),
        round(sum(when(col("rev") > col("prev_rev"),
          col("rev") - col("prev_rev")).otherwise(0.0)), 2).as("expansion"),
        round(sum(when(col("rev") < col("prev_rev"),
          col("rev") - col("prev_rev")).otherwise(0.0)), 2).as("contraction"),
        round(sum(when(col("rev").isNull, -col("prev_rev")).otherwise(0.0)), 2)
          .as("churned"),
        round(sum(coalesce(col("rev"), lit(0.0))
          - coalesce(col("prev_rev"), lit(0.0))), 2).as("net_change"))
      .orderBy(col("month").asc)
  }

  /** Straight-line revenue recognition — each order's charge is
    * deferred and recognized in three equal monthly tranches starting at
    * its order month: the accrual-accounting schedule (ASC 606-style
    * ratable recognition) that turns billed bookings into a recognized-
    * revenue ledger. Per calendar month: active contracts and recognized
    * revenue.
    *
    * Shape: a 3-element literal spine explodes MAP-SIDE (each order emits
    * its 3 tranche rows before the shuffle), then one month-grain hash
    * agg — corpus-linear at any scale, no window, no join. Months travel
    * as DATE through add_months (no tz edge); tranche = price / 3e0 is
    * one double division of identical inputs both engines, summed then
    * 2dp-rounded (§2.Z.2). */
  def billRevrec(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_totalprice"),
        to_date(date_trunc("month", col("o_orderdate"))).as("m0"),
        explode(sequence(lit(0), lit(2))).as("m"))
      .select(add_months(col("m0"), col("m")).as("month"),
        (col("o_totalprice") / 3.0).as("rec"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_active"), round(sum("rec"), 2).as("recognized"))
      .orderBy(col("month").asc)

  /** Days Sales Outstanding — per order month: billed
    * revenue, still-open A/R, and DSO = open_ar / (billed / days-in-
    * month): the collections-velocity KPI next to bill_aging's bucket
    * snapshot (aging says WHERE the exposure sits, DSO says how fast
    * the month collects). One month-grain hash agg; days-in-month from
    * the month's own dates (exact integer); DSO divides two 2dp-rounded
    * sums — identical doubles both engines, 4dp display round. */
  def billDso(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("invoices"),
        round(sum("o_totalprice"), 2).as("billed"),
        round(sum(when(col("o_orderstatus") === "O", col("o_totalprice"))
          .otherwise(0.0)), 2).as("open_ar"),
        dayofmonth(last_day(min(to_date(col("o_orderdate"))))).cast("long").as("dim"))
      .select(col("month"), col("invoices"), col("billed"), col("open_ar"),
        round(col("open_ar") / (col("billed") / col("dim")), 4).as("dso_days"))
      .orderBy(col("month").asc)

  /** Unit-value price index — per ship year: the
    * unit value (revenue per unit shipped) and its index vs the base
    * (first) year, with the year-over-year change: the price-level
    * trend a billing analyst reads before attributing revenue motion
    * to volume vs price (the econ "unit value index" — the exact-sum
    * form of Laspeyres/Paasche that needs no per-product base-period
    * join).
    *
    * Exactness discipline: all four inputs are EXACT int64 sums
    * (revenue cents; quantities are integral at every SF, summed as
    * longs), so the index (c_t/c_0)·(q_0/q_t) multiplies two
    * exact-integer-ratio doubles — bit-identical both engines, no
    * order-dependent accumulation anywhere. The YoY change lags the
    * unrounded index inside the same year-grain frame.
    *
    * Scale: one corpus hash agg to the year-grain frame; the base-year
    * row rides back as a 1-row broadcast scalar (allowlisted cross);
    * the lag window runs on the ~7-row frame. */
  def billPriceIndex(spark: SparkSession, dir: String): DataFrame = {
    val y = Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("lines"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("c"),
        sum(col("l_quantity").cast("long")).as("q"))
    val base = y.orderBy(col("yr").asc).limit(1)
      .select(col("c").as("c0"), col("q").as("q0"))
    val idx = (col("c").cast("double") / col("c0")) *
      (col("q0").cast("double") / col("q"))
    val w = Window.orderBy(col("yr").asc)
    y.crossJoin(broadcast(base))
      .withColumn("idx", idx)
      .withColumn("prev_idx", lag("idx", 1).over(w))
      .select(col("yr"), col("lines"),
        round(col("c").cast("double") / col("q") / 100.0, 4).as("unit_value"),
        round(col("idx") * 100, 4).as("index_base100"),
        round((col("idx") / col("prev_idx") - 1) * 100, 4).as("yoy_pct"))
      .orderBy(col("yr").asc)
  }

  /** The reference's own dataflow as one composed declared query, the
    * billing-loader loop `fetch CSV → normalize → dedupe → partitioned
    * idempotent insert → verify` (SURVEY §3.1). Each stage also has its
    * own query (`ingest_csv`, `proj_derive`, `llm_dedup_exact`,
    * `sink_idempotent`); this one gives an oracle row to a bug that shows
    * only across the seams: schema drift between normalize and the sink,
    * a dedup key that does not survive the text round-trip, a partition
    * column derived differently from the re-delivery filter.
    *
    *  1. INGEST — the text-safe lineitem record (`exportProjection`) is
    *     staged as CSV with every `okey % 10 == 0` row delivered twice
    *     (at-least-once delivery) and read back with its own schema;
    *  2. NORMALIZE + DEDUPE — exact dedup on the full delivered record
    *     (a re-delivered line is byte-identical, and (okey, line) is not
    *     a unique business key, so the record itself is the idempotency
    *     key), then the `month` partition key from the ship text and the
    *     2dp `gross` amount;
    *  3. LAND — month-partitioned parquet, then month `1996-03`
    *     re-delivered under dynamic partition overwrite
    *     (`SourcesSinks.loadIdempotent` owns both writes and the
    *     read-back);
    *  4. VERIFY — the month-grain census over the sink read-back.
    *
    * The DuckDB oracle computes the same census directly over the source
    * parquet, so equality means no seam lost, duplicated or mangled a
    * row. BillPipelineE2eSpec pins run-twice idempotency and the three
    * writes. */
  def billPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val out = SourcesSinks.scratchFor(dir, "e2e")
    val records = SourcesSinks.exportProjection(spark, dir)
    val delivered = SourcesSinks.stageText(
      records.unionAll(records.filter(col("okey") % 10 === 0)), "csv", s"$out/csv")
    val month = substring(col("ship"), 1, 7)
    SourcesSinks.loadIdempotent(delivered, s"$out/sink", "month", month, "1996-03") {
      _.dropDuplicates("okey", "line", "flag", "qty", "price", "ship")
        .withColumn("month", month)
        .withColumn("gross", round(col("qty") * col("price"), 2))
    }.groupBy("month")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("okey")).as("orders"),
        round(sum("qty"), 2).as("sum_qty"),
        round(sum("gross"), 2).as("gross"))
      .orderBy(col("month").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bill_pipeline_e2e" -> (billPipelineE2e _),
    "bill_price_index" -> (billPriceIndex _),
    "bill_dso"       -> (billDso _),
    "bill_tiered"    -> (billTiered _),
    "bill_aging"     -> (billAging _),
    "bill_proration" -> (billProration _),
    "bill_revrec"    -> (billRevrec _),
    "bill_mrr_bridge" -> (billMrrBridge _))

  val oracleSql: Map[String, String] = Map(
    // the composed-pipeline contract: the sink read-back census equals
    // the same census computed directly over the source parquet — the
    // re-delivered duplicates vanished, the re-loaded month didn't
    // double, and no seam dropped or mangled a row
    "bill_pipeline_e2e" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n,
        |  count(DISTINCT l_orderkey) AS orders,
        |  round(sum(round(l_quantity, 2)), 2) AS sum_qty,
        |  round(sum(round(round(l_quantity, 2) * round(l_extendedprice, 2), 2)), 2) AS gross
        |FROM lineitem GROUP BY month ORDER BY month ASC""".stripMargin,
    "bill_price_index" ->
      """WITH y AS (
        |  SELECT year(l_shipdate) AS yr, count(*) AS lines,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS c,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY yr),
        |base AS (SELECT c AS c0, q AS q0 FROM y ORDER BY yr ASC LIMIT 1),
        |f AS (
        |  SELECT yr, lines, c, q,
        |    (CAST(c AS DOUBLE) / c0) * (CAST(q0 AS DOUBLE) / q) AS idx
        |  FROM y CROSS JOIN base),
        |g AS (
        |  SELECT *, lag(idx) OVER (ORDER BY yr ASC) AS prev_idx FROM f)
        |SELECT yr, lines,
        |  round(CAST(c AS DOUBLE) / q / 100.0, 4) AS unit_value,
        |  round(idx * 100, 4) AS index_base100,
        |  round((idx / prev_idx - 1) * 100, 4) AS yoy_pct
        |FROM g ORDER BY yr ASC""".stripMargin,
    "bill_dso" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    count(*) AS invoices,
        |    round(sum(o_totalprice), 2) AS billed,
        |    round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice
        |      ELSE 0e0 END), 2) AS open_ar,
        |    CAST(day(last_day(min(CAST(o_orderdate AS DATE)))) AS BIGINT) AS dim
        |  FROM orders GROUP BY month)
        |SELECT month, invoices, billed, open_ar,
        |  round(open_ar / (billed / dim), 4) AS dso_days
        |FROM m ORDER BY month ASC""".stripMargin,
    "bill_revrec" ->
      """WITH sched AS (
        |  SELECT CAST(date_trunc('month', o_orderdate)
        |      + m * INTERVAL 1 MONTH AS DATE) AS month,
        |    o_totalprice / 3e0 AS rec
        |  FROM orders, (SELECT unnest([0, 1, 2]) AS m))
        |SELECT month, count(*) AS n_active, round(sum(rec), 2) AS recognized
        |FROM sched GROUP BY month ORDER BY month ASC""".stripMargin,
    "bill_mrr_bridge" ->
      """WITH cm AS (
        |  SELECT o_custkey AS cust,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY cust, month),
        |prev AS (
        |  SELECT cust, CAST(month + INTERVAL 1 MONTH AS DATE) AS month,
        |    rev AS prev_rev
        |  FROM cm),
        |j AS (
        |  SELECT COALESCE(cm.cust, prev.cust) AS cust,
        |    COALESCE(cm.month, prev.month) AS month,
        |    cm.rev AS rev, prev.prev_rev AS prev_rev
        |  FROM cm FULL OUTER JOIN prev
        |    ON cm.cust = prev.cust AND cm.month = prev.month)
        |SELECT month,
        |  round(sum(CASE WHEN prev_rev IS NULL THEN rev ELSE 0e0 END), 2)
        |    AS new_rev,
        |  round(sum(CASE WHEN rev > prev_rev THEN rev - prev_rev
        |    ELSE 0e0 END), 2) AS expansion,
        |  round(sum(CASE WHEN rev < prev_rev THEN rev - prev_rev
        |    ELSE 0e0 END), 2) AS contraction,
        |  round(sum(CASE WHEN rev IS NULL THEN -prev_rev ELSE 0e0 END), 2)
        |    AS churned,
        |  round(sum(COALESCE(rev, 0e0) - COALESCE(prev_rev, 0e0)), 2)
        |    AS net_change
        |FROM j GROUP BY month ORDER BY month ASC""".stripMargin,
    "bill_tiered" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_quantity AS units,
        |    least(l_quantity, 10e0) * 3e0
        |      + least(greatest(l_quantity - 10e0, 0e0), 15e0) * 2e0
        |      + greatest(l_quantity - 25e0, 0e0) * 1e0 AS billed,
        |    CASE WHEN least(greatest(l_quantity - 10e0, 0e0), 15e0) > 0
        |      THEN 1 ELSE 0 END AS hit_t2,
        |    CASE WHEN greatest(l_quantity - 25e0, 0e0) > 0
        |      THEN 1 ELSE 0 END AS hit_t3
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS lines,
        |  round(sum(units), 2) AS units,
        |  round(sum(billed), 2) AS billed,
        |  round(sum(billed) / sum(units), 6) AS eff_rate,
        |  CAST(sum(hit_t2) AS BIGINT) AS lines_t2,
        |  CAST(sum(hit_t3) AS BIGINT) AS lines_t3
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "bill_aging" ->
      """WITH ref AS (SELECT max(o_orderdate) AS ref FROM orders)
        |SELECT bucket, count(*) AS invoices,
        |  round(sum(o_totalprice), 2) AS exposure,
        |  CAST(max(age) AS INT) AS oldest_days
        |FROM (
        |  SELECT o_totalprice,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST((SELECT ref FROM ref) AS DATE)) AS age,
        |    CASE
        |      WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST((SELECT ref FROM ref) AS DATE)) <= 30 THEN '1_current'
        |      WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST((SELECT ref FROM ref) AS DATE)) <= 60 THEN '2_31_60'
        |      WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |        CAST((SELECT ref FROM ref) AS DATE)) <= 90 THEN '3_61_90'
        |      ELSE '4_over_90' END AS bucket
        |  FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY bucket ORDER BY bucket ASC""".stripMargin,
    "bill_proration" ->
      """WITH t AS (
        |  SELECT date_trunc('month', o_orderdate) AS month, o_totalprice,
        |    CAST(day(last_day(CAST(o_orderdate AS DATE)))
        |      - day(CAST(o_orderdate AS DATE)) + 1 AS DOUBLE)
        |      / day(last_day(CAST(o_orderdate AS DATE))) AS frac
        |  FROM orders)
        |SELECT month, count(*) AS orders,
        |  round(sum(o_totalprice), 2) AS full_charge,
        |  round(sum(o_totalprice * frac), 2) AS prorated,
        |  round(avg(frac), 6) AS avg_frac
        |FROM t GROUP BY month ORDER BY month ASC""".stripMargin)
}
