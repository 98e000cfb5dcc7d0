package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 waves 5–12 — second analytics family: the cohort matrix, the
  * skyline operator, market-basket association rules, the moving-average
  * crossover signal, multi-touch revenue attribution, leave-one-out
  * target encoding, interval max-concurrency, the segment-migration
  * matrix, fulfillment service levels, Kaplan–Meier conversion survival,
  * and the deterministic Poisson bootstrap. Each is a distinct operator
  * CLASS (not a variation on an existing query) — the non-dominated set,
  * the frequent-itemset statistic, the survival estimator, the
  * resampling CI — re-expressed in the engine's Spark-first,
  * exact-arithmetic house style.
  *
  * Determinism discipline (SURVEY §2.Z): every money measure travels as
  * exact integer cents until one final division; every ratio divides
  * exact integers (bit-identical doubles in both engines); the skyline
  * compares raw fixture doubles only for equality/order (no arithmetic).
  */
object Analytics2 {

  /** Cohort retention triangle over orders — customers grouped by
    * first-order month; for each (cohort month, age-in-months) the count
    * of cohort customers with ≥1 order that month, plus the retention
    * share. The month-grain matrix every growth dashboard renders, and
    * funnel_retention's general form (that query flags one fixed window
    * over the 30-day event stream; this one runs unbounded ages over the
    * 80-month order history).
    *
    * Age is exact integer month arithmetic ((Δyear)·12 + Δmonth) — NOT
    * months_between, whose fractional day semantics differ between
    * engines.
    *
    * Scale: the (customer, month) distinct is the only corpus-scale
    * shuffle; the cohort min reuses the same customer key; the matrix is
    * month²-sized (bounded by calendar span, not rows) and the age-0
    * cohort census is a window over that tiny matrix. */
  def cohortTriangle(spark: SparkSession, dir: String): DataFrame = {
    val om = Tables.orders(spark, dir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
      .distinct()
    val coh = om.groupBy("o_custkey").agg(min("m").as("m0"))
    val act = om.join(coh, "o_custkey")
      .select(col("o_custkey"), col("m0"),
        ((year(col("m")) - year(col("m0"))) * 12 +
          (month(col("m")) - month(col("m0")))).as("age"))
      .groupBy("m0", "age").agg(count(lit(1)).as("active"))
    // age-0 cohort size as a window over the month²-sized matrix — a
    // filter+join-back branch would re-run the corpus-scale distinct
    // lineage twice (round-9 bench fix: 9 scheduled jobs → this single
    // pipeline); every cohort has an age-0 row by construction
    val wm = Window.partitionBy("m0")
    act.withColumn("cohort_users",
        max(when(col("age") === 0, col("active"))).over(wm))
      .select(to_date(col("m0")).as("cohort_month"), col("age"), col("active"),
        col("cohort_users"),
        round(col("active") / col("cohort_users").cast("double"), 6).as("retention"))
      .orderBy(col("cohort_month").asc, col("age").asc)
  }

  /** 2-D skyline (Pareto frontier) of parts — minimize p_size, maximize
    * p_retailprice: a part survives iff no other part is at least as
    * small AND at least as expensive with one strict. The classic
    * skyline operator (Börzsönyi et al.), which SQL can only state as a
    * quadratic NOT EXISTS self-join — and that quadratic form IS the
    * DuckDB oracle, making this the one query where the engines run
    * genuinely different algorithms to a provably identical answer.
    *
    * Spark runs the O(n log n) sweep: one sort by size, the running max
    * price over STRICTLY smaller sizes (RANGE frame to -1) kills
    * dominance from the left, and the per-size max kills same-size
    * dominance; equal (size, price) duplicates stay (neither dominates
    * under the strict-in-one rule). No arithmetic touches the doubles —
    * only comparisons of raw fixture values, so engine-identical.
    *
    * Scale: the frontier sweep is a single sort + two frames over one
    * exchange. For a fact-scale input the standard shard-then-merge
    * refinement applies (local frontier per partition via the same
    * window, then re-sweep the surviving ≤|frontier|·P rows — skylines
    * shrink catastrophically, so pass 2 is driver-trivial); the
    * dimension-scale declared form keeps the single sweep. */
  def skyline2d(spark: SparkSession, dir: String): DataFrame = {
    val wLt = Window.orderBy(col("p_size").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("p_size"))
    Tables.part(spark, dir)
      .withColumn("max_lt", max("p_retailprice").over(wLt))
      .withColumn("max_eq", max("p_retailprice").over(wEq))
      .filter((col("max_lt").isNull || col("max_lt") < col("p_retailprice")) &&
        col("max_eq") === col("p_retailprice"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_size").asc, col("p_partkey").asc)
  }

  /** Market-basket association rules over order baskets — for every
    * ordered brand pair (antecedent → consequent) co-occurring in ≥5
    * orders: support count, confidence n(ab)/n(a), and lift
    * n(ab)·N/(n(a)·n(b)). The frequent-itemset statistic (Agrawal's
    * Apriori inner loop at k=2) — a recommender's co-purchase signal.
    *
    * ONE orderkey exchange builds per-order brand ARRAYS (collect_set
    * dedups inside the aggregate); pairs and supports explode MAP-SIDE
    * from the ~4-element arrays, so pair volume stays linear in baskets
    * (bounded by brands-per-order², never |brands|²) and the corpus is
    * never self-joined. Brand supports and the basket total ride back
    * as BROADCAST joins (25 brands). Confidence and lift divide exact
    * integer counts — products stay < 2^53, bit-identical doubles in
    * both engines.
    *
    * Scale: one orderkey exchange total; everything downstream of the
    * basket arrays is map-side explosion + brand²-sized aggregation. */
  /** The corpus-scale basket-array build, pre-materialization, exposed
    * for PlanSnapshotSpec ("basket_rules#inner" — ADVICE r10: the memo
    * write truncated the lineitem scan + part broadcast join out of both
    * plan guards; its 1-row basket-total crossJoin(broadcast(agg)) is on
    * the NLJ allowlist under the same name). */
  private[graft] def basketRulesPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("ok"))
      .agg(collect_set(col("p_brand")).as("brands"))
      .crossJoin(broadcast(Tables.lineitem(spark, dir)
        .agg(countDistinct("l_orderkey").as("n_orders"))))

  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    // ONE (orderkey) shuffle builds the basket arrays (collect_set dedups
    // in the aggregate — no separate distinct), MATERIALIZED to the memo
    // store in a single AQE-off write job (round 10, VERDICT r9 task 6:
    // the r9 form's three small aggs off the lazy basket frame each
    // re-ran the corpus lineage unless AQE happened to reuse the
    // exchange — 10 scheduled jobs on the contended driver). The basket
    // total N rides the artifact as a DENORMALIZED column (graphEdges'
    // pattern): it is a constant of the frame, and carrying it in-row
    // removes the crossJoin(broadcast(tot)) branch — and with it this
    // query's nested-loop allowlist entry — for 8 bytes/row on an
    // order-grain frame. N = countDistinct(l_orderkey) is exact because
    // the part join is an FK inner join (every lineitem matches), so no
    // basket is dropped. Pairs and supports then explode MAP-SIDE from
    // the ~4-element arrays (pair volume stays bounded by
    // brands-per-order², never |brands|²; the corpus is never
    // self-joined), and the support joins + rule assembly collapse into
    // a second AQE-off write of the brand²-bounded rule table.
    val baskets = MemoFrames.materialize(spark, "basket_arrays",
      basketRulesPlan(spark, dir))
    val sup = baskets.select(explode(col("brands")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("n_brand"))
    val pairs = baskets
      .select(col("n_orders"), explode(col("brands")).as("brand"), col("brands"))
      .select(col("n_orders"), col("brand"), explode(col("brands")).as("brand2"))
      .filter(col("brand") =!= col("brand2"))
      .groupBy(col("brand").as("ant"), col("brand2").as("cons"))
      .agg(count(lit(1)).as("n_ab"), max("n_orders").as("n_orders"))
      .filter(col("n_ab") >= 5)
    // merge hints, not broadcast: both joins run INSIDE the AQE-off
    // write below, and a broadcast build is a dedicated scheduled job
    // (two here, since the deduplicated self-reference defeats exchange
    // reuse) — where an in-job shuffle of the 25-row support frame and
    // the brand²-bounded rule frame is free
    val rules = pairs
      .join(sup.hint("merge"), col("ant") === col("brand"))
      .drop("brand").withColumnRenamed("n_brand", "n_ant")
      .join(sup.hint("merge"), col("cons") === col("brand"))
      .drop("brand").withColumnRenamed("n_brand", "n_cons")
      .select(col("ant"), col("cons"), col("n_ab"),
        round(col("n_ab") / col("n_ant").cast("double"), 6).as("confidence"),
        round((col("n_ab") * col("n_orders")) /
          (col("n_ant") * col("n_cons")).cast("double"), 6).as("lift"))
    // the rule table is brand²-BOUNDED (≤|brands|² rows at any corpus
    // size), so the explode + joins collapse into one more AQE-off write
    // job and the declared plan is a bounded scan + the oracle's
    // ordering. The write side stays UNORDERED — a pre-write global sort
    // would schedule a range-partitioning sample job just to produce an
    // order parquet forgets.
    MemoFrames.materialize(spark, "basket_rules_out", rules)
      .orderBy(col("ant").asc, col("cons").asc)
  }

  /** SMA(5)/SMA(20) crossover signals over per-type daily revenue — the
    * golden-cross / death-cross detector: for every day with a full
    * 20-day frame AND a full previous frame, whether the fast average
    * sits above the slow one and whether TODAY is the crossing edge.
    * The signal-detection window shape (two trailing frames + lag edge
    * compare) ts_rsi's single frame doesn't cover.
    *
    * The comparison never divides: SMA5 > SMA20 ⇔ s5/5 > s20/20 ⇔
    * 4·s5 > s20 in EXACT integer cents (value is 2dp so cents are
    * exact), so the above/below flag — and therefore every crossing —
    * is integer arithmetic in both engines; the displayed SMAs divide
    * the exact cent sums once (bit-identical doubles).
    *
    * Scale: day-grain frame after one corpus hash agg; all three
    * windows (s5, s20, lag) share the single (event_type) exchange. */
  def tsSmaCrossover(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wq = (n: Int) => w.rowsBetween(-(n - 1), 0)
    d.withColumn("rn", row_number().over(w))
      .withColumn("s5", sum("cents").over(wq(5)))
      .withColumn("s20", sum("cents").over(wq(20)))
      .withColumn("above", (col("s5") * 4 > col("s20")).cast("int"))
      .withColumn("prev_above", lag("above", 1).over(w))
      .filter(col("rn") >= 21)
      .select(col("event_type"), to_date(col("day")).as("day"),
        round(col("s5") / 500.0, 4).as("sma5"),
        round(col("s20") / 2000.0, 4).as("sma20"),
        col("above"),
        (col("above") === 1 && col("prev_above") === 0).cast("int").as("golden"),
        (col("above") === 0 && col("prev_above") === 1).cast("int").as("death"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** First-touch / last-touch revenue attribution — every purchase's
    * value credited to the user's first and to their most recent
    * engagement touch (view/click/signup; error is noise, purchases
    * don't self-attribute) STRICTLY BEFORE the purchase; purchases with
    * no prior touch land in the '(none)' bucket. Both models report
    * purchases and attributed revenue per touch type — the
    * budget-allocation readout whose first/last disagreement IS the
    * marketing-mix signal.
    *
    * Both touch lookups are IGNORE NULLS first/last frames (rows to
    * -1 — strictly prior) over ONE (user_id) exchange shared with the
    * purchase filter. Revenue sums exact cents and divides once at the
    * end. The two models unpivot map-side into (model, touch) rows so
    * one hash agg serves both.
    *
    * Scale: single user-key exchange + one vocabulary-sized agg;
    * partial aggregation compresses each task to |models×touches|. */
  def attrTouch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("view", "click", "signup"), col("event_type"))
    val p = Tables.events(spark, dir)
      .withColumn("ft", first(touch, ignoreNulls = true).over(w))
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("ft"), lit("(none)")).as("first_touch"),
        coalesce(col("lt"), lit("(none)")).as("last_touch"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    p.select(lit("first").as("model"), col("first_touch").as("touch"), col("cents"))
      .unionAll(p.select(lit("last").as("model"), col("last_touch").as("touch"), col("cents")))
      .groupBy("model", "touch")
      .agg(count(lit(1)).as("purchases"),
        (sum("cents") / 100.0).as("revenue"))
      .orderBy(col("model").asc, col("touch").asc)
  }

  /** Leave-one-out target encoding — the ML feature-prep primitive with
    * the leakage subtlety this operator exists to handle: each order's
    * priority encodes as the mean o_totalprice of OTHER orders sharing
    * the priority ((Σ−x)/(n−1)); the naive same-group mean (which leaks
    * the row's own target into its feature) rides along as the contrast
    * column. The encoding a gradient-boosted model consumes for
    * high-cardinality categoricals.
    *
    * Exactness: group sums are integer cents; the LOO numerator Σ−x is
    * exact int64; both encodings divide exact integers (two divisions,
    * mirrored operation-for-operation in the oracle — bit-identical
    * doubles). Singleton groups encode NULL by definition.
    *
    * Scale: one corpus hash agg to the category-grain (5-row) frame,
    * broadcast back into a map-side encode — NO per-row window (a
    * 5-partition window over the fact table is the skew the broadcast
    * form avoids). */
  def featTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val g = o.groupBy("o_orderpriority")
      .agg(sum("cents").as("s"), count(lit(1)).as("n"))
    o.join(broadcast(g), "o_orderpriority")
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("cents") / 100.0).as("target"),
        when(col("n") > 1,
          round((col("s") - col("cents")).cast("double") / (col("n") - 1) / 100.0, 6))
          .as("loo_enc"),
        round(col("s").cast("double") / col("n") / 100.0, 6).as("naive_enc"))
      .orderBy(col("o_orderkey").asc)
  }

  /** Interval max-concurrency (round-9 wave 8) — per supplier, the PEAK
    * number of simultaneously-open ship windows ([shipdate, shipdate +
    * quantity days), interval_coverage's convention) and the first day
    * the peak occurs: the sweep-line counting operator behind capacity
    * planning ("how many concurrent jobs must this resource sustain"),
    * the max-overlap complement to interval_coverage's union length.
    *
    * Each window explodes map-side into a (+1 at start, −1 at end)
    * delta pair; a per-supplier day-grain hash agg nets the deltas; the
    * running sum over days IS the concurrency profile, and the peak +
    * first-peak-day fall out of one more agg. All integer arithmetic
    * (day numbers, counts) — nothing to diverge.
    *
    * Scale: delta explosion is 2 rows per interval (linear), the day
    * netting is a hash agg with partials, and ONE (suppkey) exchange
    * serves the netting, the cumsum window, and the final rollup. */
  def intervalConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir).select(
      col("l_suppkey").as("suppkey"),
      datediff(date_trunc("day", col("l_shipdate")), lit("1970-01-01").cast("date"))
        .cast("long").as("sd"),
      col("l_quantity").cast("long").as("qty"))
    val deltas = base.select(col("suppkey"),
        explode(array(
          struct(col("sd").as("day"), lit(1L).as("d")),
          struct((col("sd") + col("qty")).as("day"), lit(-1L).as("d")))).as("e"))
      .select(col("suppkey"), col("e.day").as("day"), col("e.d").as("d"))
      .groupBy("suppkey", "day").agg(sum("d").as("net"))
    val w = Window.partitionBy("suppkey").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("suppkey")
    deltas.withColumn("conc", sum("net").over(w))
      .withColumn("peak", max("conc").over(wp))
      .groupBy("suppkey")
      .agg(max("conc").as("peak_conc"),
        min(when(col("conc") === col("peak"), col("day"))).as("peak_day_n"))
      .select(col("suppkey"), col("peak_conc"),
        date_add(lit("1970-01-01").cast("date"), col("peak_day_n").cast("int"))
          .as("peak_day"))
      .orderBy(col("suppkey").asc)
  }

  /** Customer segment-migration matrix (round-9 wave 8) — revenue
    * quintile in the EARLY period (order years ≤ 1997) vs the LATE
    * period (≥ 1999), customers absent from a period in the 'none'
    * bucket: the period-over-period transition matrix a CRM team reads
    * for upgrade/downgrade/churn flow (rfm_segments says where
    * customers SIT; this says how they MOVE).
    *
    * Quintiles are ntile(5) over FULLY-ORDERED customer frames (cents
    * desc, custkey asc — the rfm_segments determinism rule); the two
    * period frames FULL-OUTER join on custkey so absence is data, not
    * dropped rows. Revenue is exact cents throughout. At extreme
    * customer cardinality each ntile becomes ScaleIdioms.twoLevelRank +
    * ntileFromRank (exact-equivalent, NtileFormulaSpec-pinned;
    * agg_pareto ships the idiom live) — the round-10 measurement that
    * keeps the window form HERE is in rfmSegments' scaladoc and
    * PLANS.md.
    *
    * Scale: two pushed-filter scans each collapsing to a customer-grain
    * hash agg, two vocabulary-sized ntile windows, one custkey-keyed
    * join — nothing at fact grain after the first agg. Round-11 stress
    * datum (the StressGen 10× frame, row-equality
    * verified): window form 0.58 → 1.2 s vs two-write two-level form
    * 4.3 → 5.3 s from 10k → 100k customers — same flip trigger as
    * rfmSegments (~10M-customer grain; see its scaladoc + STRESS.md). */
  def custMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      year(col("o_orderdate")).as("yr"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    def quintiles(maxYr: Column => Column, name: String) = {
      val per = o.filter(maxYr(col("yr")))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      per.select(col("o_custkey"),
        ntile(5).over(Window.orderBy(col("rev").desc, col("o_custkey").asc))
          .cast("string").as(name))
    }
    val early = quintiles(_ <= 1997, "q_early")
    val late = quintiles(_ >= 1999, "q_late")
    early.join(late, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("q_early"), lit("none")).as("q_early"),
        coalesce(col("q_late"), lit("none")).as("q_late"))
      .groupBy("q_early", "q_late").agg(count(lit(1)).as("customers"))
      .orderBy(col("q_early").asc, col("q_late").asc)
  }

  /** Order-fulfillment lag report (round-9 wave 9) — per order
    * priority: how long orders take to FULLY ship (last lineitem's ship
    * day minus order day) with the 30/60/90-day service-level shares:
    * the operations KPI sitting between bill_dso (cash velocity) and
    * ts_resample (volume trend) — fulfillment velocity. An order's lag
    * is its SLOWEST line, which is why the per-order max must aggregate
    * before the priority rollup (averaging line lags understates the
    * customer-visible delay — the deliberate two-level design).
    *
    * All lags are exact integer day differences; shares divide exact
    * counts; the average divides once. Two stacked hash aggs (order
    * grain, then 5-row priority grain) off one orderkey-keyed join —
    * partial aggregation bounds both shuffles. */
  def opsFulfillment(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .agg(datediff(date_trunc("day", max(col("l_shipdate"))),
        date_trunc("day", col("o_orderdate"))).cast("long").as("lag_days"))
    perOrder.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("orders"),
        round(sum("lag_days").cast("double") / count(lit(1)), 4).as("avg_lag_days"),
        round(sum(when(col("lag_days") <= 30, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("pct_30"),
        round(sum(when(col("lag_days") <= 60, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("pct_60"),
        round(sum(when(col("lag_days") <= 90, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("pct_90"),
        max("lag_days").as("max_lag"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Kaplan–Meier conversion-survival curve (round-9 wave 10) — the
    * survival-analysis estimator (the statistic class behind
    * time-to-convert and churn-halflife reporting, which naive
    * "percent converted by day N" gets wrong because it ignores
    * CENSORING): the event is a user's FIRST PURCHASE, timed from
    * their first event; follow-up is administratively truncated at a
    * 3-day horizon, so users not converting within it are
    * right-censored at day 3 (they still occupy every risk set they
    * survive through — dropping them is the bias K-M exists to avoid).
    * Per death time t: the at-risk count, conversions, and
    * Ŝ(t) = Π_{t'≤t} (1 − d/n).
    *
    * Determinism: conversion times and censoring are exact integer day
    * arithmetic; n_risk(t) is a REVERSE running sum of exact counts
    * (Σ_{t'≥t}(d+c) — no separate N scalar); the product is
    * exp(Σ ln(1−d/n)) where each term is ln of an exact-int ratio and
    * the cumulative sum runs in window order — the same left-to-right
    * addition sequence in both engines (ordered window sums are
    * sequential by definition), 6dp round absorbs libm ulps.
    *
    * Scale: one user-grain hash agg (partial agg compresses the event
    * stream); every window then runs on the horizon-grain frame
    * (bounded by the follow-up span in days, not by users). */
  def survKm(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(date_trunc("day", col("ts")), lit("1970-01-01").cast("date"))
    val per = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(day).cast("long").as("s"),
        min(when(col("event_type") === "purchase", day)).cast("long").as("p"))
    val traw = col("p") - col("s")
    val dead = col("p").isNotNull && traw <= 3
    val at = per
      .select(when(dead, traw).otherwise(lit(3L)).as("t"),
        dead.cast("long").as("dead"))
      .groupBy("t")
      .agg(sum("dead").as("d"), sum(lit(1L) - col("dead")).as("c"))
    val wRisk = Window.orderBy(col("t").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    at.withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      // d = n_risk would be ln(0): Spark's log yields NULL there, DuckDB
      // −inf — a §2.Z trap; −1e9 makes Ŝ collapse to exactly 0.0 in both
      .withColumn("lnterm", when(col("d") > 0 && col("d") < col("n_risk"),
          log(lit(1.0) - col("d") / col("n_risk").cast("double")))
        .when(col("d") === col("n_risk"), lit(-1e9))
        .otherwise(lit(0.0)))
      .withColumn("surv", round(exp(sum("lnterm").over(wCum)), 6))
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d"), col("surv"))
      .orderBy(col("t").asc)
  }

  /** Deterministic Poisson-bootstrap confidence interval (round-9 wave
    * 11) — the resampling-at-scale pattern: 32 bootstrap replicas of
    * mean order value, each row's per-replica multiplicity drawn from a
    * QUANTIZED Poisson(1) (weights 0–3 at integer-literal cutpoints of
    * the hash uniform — the Poisson bootstrap is the only bootstrap
    * that needs no global resample pass, which is what makes it the
    * 100 TB form; Chamandy et al.'s "estimating uncertainty for
    * massive data streams"). Reports the point mean and the
    * [2.5%, 97.5%] percentile interval over replica means.
    *
    * Determinism: the uniform is the Knuth modular hash of
    * (orderkey·31 + replica) — reduce-before-multiply keeps every
    * intermediate in int64 — and weight selection compares INTEGERS
    * against literal cutpoints; each replica mean divides exact int64
    * (Σw·cents / Σw) once; interval endpoints are SELECTED replica
    * means (order-membership, never averaged), so no float ever
    * accumulates. Replica means tie-break by replica id for a total
    * order.
    *
    * Scale: the spine explode is map-side B× amplification feeding ONE
    * 32-group hash agg with partials (no shuffle grows with B beyond
    * the 32-row result); the windows run on the 32-row frame; the
    * 1-row point-estimate scalar broadcasts (allowlisted idiom).
    *
    * Coverage caveat (ADVICE r9): at B = 32 the type-1 empirical
    * quantile cuts rn/32 ≥ 0.025 and ≥ 0.975 select rn = 1 and rn = 32
    * — the reported [2.5%, 97.5%] interval IS the replica-mean RANGE,
    * the widest interval this replica count can produce (valid
    * percentile-method endpoints, but nominal coverage overstates the
    * 32-replica resolution). B is pinned at 32 because the oracle
    * mirrors the same cuts literally; a production caller raises B
    * until the cuts are interior (B ≥ 40 makes rn=1 strictly below the
    * 2.5% cut), which changes only the spine literal. */
  def aggBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val p = 1000003L
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val point = o.agg(sum("cents").as("tc"), count(lit(1)).as("tn"))
    val u = (((col("o_orderkey") * 31 + col("b")) % p) * 2654435761L % p) + 1L
    // integer cutpoints ≈ Poisson(1) pmf: P(0)=P(1)=e⁻¹, P(2)=e⁻¹/2
    val w = when(u < 367880L, 0L).when(u < 735761L, 1L)
      .when(u < 919701L, 2L).otherwise(3L)
    val reps = o.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("b"), col("cents"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("num"), sum("w").as("den"))
      .select(col("b"), (col("num").cast("double") / col("den")).as("m"))
    val wOrd = Window.orderBy(col("m").asc, col("b").asc)
    val ranked = reps.withColumn("rn", row_number().over(wOrd))
    ranked.agg(
        min(when(col("rn") / 32.0 >= 0.025, col("m"))).as("ci_lo"),
        min(when(col("rn") / 32.0 >= 0.975, col("m"))).as("ci_hi"),
        count(lit(1)).as("replicas"))
      .crossJoin(broadcast(point))
      .select(col("replicas"),
        round(col("tc").cast("double") / col("tn") / 100.0, 6).as("point_mean"),
        round(col("ci_lo") / 100.0, 6).as("ci_lo"),
        round(col("ci_hi") / 100.0, 6).as("ci_hi"))
  }

  /** ABC/XYZ inventory classification (round-9 wave 13) — the supply-
    * chain planning grid: brands classed A/B/C by cumulative revenue
    * share (80/95 Pareto cuts) and X/Y/Z by demand variability
    * (dispersion of the brand's monthly shipped quantity). A-X items
    * get tight auto-replenishment, C-Z manual review — the grid IS the
    * policy table.
    *
    * Determinism: ABC membership compares exact int64 (cum·5 ≤ tot·4
    * and cum·20 ≤ tot·19 — the 80/95 cuts without a float share);
    * variability is the QUARTILE COEFFICIENT of dispersion
    * (Q3−Q1)/(Q3+Q1) from rank-selected exact monthly totals (a CV
    * would subtract near-equal float squares — the §2.Z trap this
    * formulation avoids), and XYZ is dispersion TERCILES via ntile(3)
    * with the brand tie-break — data-relative, because absolute
    * dispersion falls with density and any fixed threshold
    * degenerates at some SF (measured: median qcd 0.47 → 0.05 from
    * sf0.001 → sf0.1).
    *
    * Scale: one (brand, month) corpus hash agg; quartiles, cuts, and
    * both ntile windows run on the 25-brand / brand×month frames. */
  def opsAbcXyz(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), date_trunc("month", col("l_shipdate")).as("mo"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
    val wq = Window.partitionBy("p_brand").orderBy(col("qty").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("p_brand")
    // percentile_disc by rank selection over the brand's monthly qtys
    val quart = m
      .withColumn("rnk", count(lit(1)).over(wq))
      .withColumn("nm", count(lit(1)).over(wn))
      .groupBy("p_brand")
      .agg(sum("cents").as("rev_cents"), max("nm").as("months"),
        min(when(col("rnk") * 4 >= col("nm"), col("qty"))).as("q1"),
        min(when(col("rnk") * 4 >= col("nm") * 3, col("qty"))).as("q3"))
      .withColumn("qcd", (col("q3") - col("q1")).cast("double") /
        (col("q3") + col("q1")))
    val wRev = Window.orderBy(col("rev_cents").desc, col("p_brand").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy()
    quart
      .withColumn("cum", sum("rev_cents").over(wRev))
      .withColumn("tot", sum("rev_cents").over(wTot))
      .withColumn("abc",
        when(col("cum") * 5 <= col("tot") * 4, "A")
          .when(col("cum") * 20 <= col("tot") * 19, "B")
          .otherwise("C"))
      .withColumn("xyz",
        when(ntile(3).over(Window.orderBy(col("qcd").asc, col("p_brand").asc)) === 1, "X")
          .when(ntile(3).over(Window.orderBy(col("qcd").asc, col("p_brand").asc)) === 2, "Y")
          .otherwise("Z"))
      .select(col("p_brand"), col("abc"), col("xyz"),
        (col("rev_cents") / 100.0).as("revenue"),
        round(col("qcd"), 6).as("qcd"), col("months"))
      .orderBy(col("p_brand").asc)
  }

  /** Weight-of-Evidence / Information-Value binning (round-9 wave 14) —
    * the credit-scoring feature-prep statistic: order value binned into
    * the ten equi-width buckets (hist_equiwidth's grid), WoE =
    * ln((good share)/(bad share)) per bin against the binary target
    * "order finished" (status F), and IV = Σ (Δshare)·WoE — the
    * monotone-predictiveness score a scorecard builder ranks candidate
    * features by (IV < 0.02 = useless, > 0.5 = suspicious).
    *
    * Near-zero WoE on this fixture is the HONEST readout (value and
    * status are independent by construction) — the operator is the
    * machinery. Every share divides exact int64 counts; WoE is ln of a
    * ratio of those bit-identical doubles; the IV running total sums
    * ≤10 terms (6dp round). Empty classes (a bin or a whole corpus with
    * zero goods or zero bads) make WoE undefined: both engine and oracle
    * spell the guards as nullif, so the degenerate bins go NULL — and
    * are skipped by the IV sum — instead of ANSI-erroring engine-side or
    * ln(0)-erroring oracle-side (round-13 tiny sweep).
    *
    * Scale: one corpus hash agg to the 10-bin frame; windows on 10
    * rows. */
  def featWoeIv(spark: SparkSession, dir: String): DataFrame = {
    val bins = Tables.orders(spark, dir)
      .select(least(lit(9), floor(col("o_totalprice") / 50000)).cast("int").as("bin"),
        (col("o_orderstatus") === "F").cast("long").as("good"))
      .groupBy("bin")
      .agg(sum("good").as("g"), sum(lit(1L) - col("good")).as("b"))
    val wAll = Window.partitionBy()
    val e = bins
      .withColumn("tg", sum("g").over(wAll))
      .withColumn("tb", sum("b").over(wAll))
      .withColumn("pg", col("g") / nullif(col("tg").cast("double"), lit(0.0)))
      .withColumn("pb", col("b") / nullif(col("tb").cast("double"), lit(0.0)))
      .withColumn("woe", log(nullif(col("pg"), lit(0.0)) / nullif(col("pb"), lit(0.0))))
    e.select(col("bin"), col("g").as("n_good"), col("b").as("n_bad"),
        round(col("pg"), 6).as("pct_good"),
        round(col("pb"), 6).as("pct_bad"),
        round(col("woe"), 6).as("woe"),
        round(sum((col("pg") - col("pb")) * col("woe")).over(wAll), 6).as("iv_total"))
      .orderBy(col("bin").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "feat_woe_iv"     -> (featWoeIv _),
    "ops_abc_xyz"     -> (opsAbcXyz _),
    "agg_bootstrap"   -> (aggBootstrap _),
    "surv_km"         -> (survKm _),
    "ops_fulfillment" -> (opsFulfillment _),
    "interval_concurrency" -> (intervalConcurrency _),
    "cust_migration"   -> (custMigration _),
    "cohort_triangle"  -> (cohortTriangle _),
    "skyline_2d"       -> (skyline2d _),
    "basket_rules"     -> (basketRules _),
    "ts_sma_crossover" -> (tsSmaCrossover _),
    "feat_target_encode" -> (featTargetEncode _),
    "attr_touch"       -> (attrTouch _))

  val oracleSql: Map[String, String] = Map(
    "feat_woe_iv" ->
      """WITH bins AS (
        |  SELECT CAST(least(9, floor(o_totalprice / 50000)) AS INT) AS bin,
        |    count(*) FILTER (WHERE o_orderstatus = 'F') AS g,
        |    count(*) FILTER (WHERE o_orderstatus <> 'F') AS b
        |  FROM orders GROUP BY bin),
        |e AS (
        |  SELECT bin, g, b,
        |    CAST(sum(g) OVER () AS BIGINT) AS tg,
        |    CAST(sum(b) OVER () AS BIGINT) AS tb
        |  FROM bins),
        |f AS (
        |  SELECT bin, g, b,
        |    g / CAST(nullif(tg, 0) AS DOUBLE) AS pg,
        |    b / CAST(nullif(tb, 0) AS DOUBLE) AS pb,
        |    ln(nullif(g / CAST(nullif(tg, 0) AS DOUBLE), 0)
        |       / nullif(b / CAST(nullif(tb, 0) AS DOUBLE), 0)) AS woe
        |  FROM e)
        |SELECT bin, g AS n_good, b AS n_bad,
        |  round(pg, 6) AS pct_good, round(pb, 6) AS pct_bad,
        |  round(woe, 6) AS woe,
        |  round(sum((pg - pb) * woe) OVER (), 6) AS iv_total
        |FROM f ORDER BY bin ASC""".stripMargin,
    "ops_abc_xyz" ->
      """WITH m AS (
        |  SELECT p_brand, date_trunc('month', l_shipdate) AS mo,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, mo),
        |q AS (
        |  SELECT p_brand, CAST(sum(cents) AS BIGINT) AS rev_cents,
        |    count(*) AS months,
        |    percentile_disc(0.25) WITHIN GROUP (ORDER BY qty) AS q1,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY qty) AS q3
        |  FROM m GROUP BY p_brand),
        |c AS (
        |  SELECT *, CAST(q3 - q1 AS DOUBLE) / (q3 + q1) AS qcd,
        |    CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_brand ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(rev_cents) OVER () AS BIGINT) AS tot
        |  FROM q)
        |SELECT p_brand,
        |  CASE WHEN cum * 5 <= tot * 4 THEN 'A'
        |    WHEN cum * 20 <= tot * 19 THEN 'B' ELSE 'C' END AS abc,
        |  CASE ntile(3) OVER (ORDER BY qcd ASC, p_brand ASC)
        |    WHEN 1 THEN 'X' WHEN 2 THEN 'Y' ELSE 'Z' END AS xyz,
        |  rev_cents / 100.0 AS revenue,
        |  round(qcd, 6) AS qcd, months
        |FROM c ORDER BY p_brand ASC""".stripMargin,
    "agg_bootstrap" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |point AS (
        |  SELECT CAST(sum(cents) AS BIGINT) AS tc, count(*) AS tn FROM o),
        |sp AS (
        |  SELECT o_orderkey, cents,
        |    CAST(unnest(generate_series(0, 31)) AS BIGINT) AS b
        |  FROM o),
        |ww AS (
        |  SELECT b, cents,
        |    CASE WHEN u < 367880 THEN 0 WHEN u < 735761 THEN 1
        |      WHEN u < 919701 THEN 2 ELSE 3 END AS w
        |  FROM (SELECT *,
        |    ((o_orderkey * 31 + b) % 1000003) * 2654435761 % 1000003 + 1 AS u
        |    FROM sp)),
        |reps AS (
        |  SELECT b,
        |    CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS m
        |  FROM ww GROUP BY b),
        |rk AS (
        |  SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS rn FROM reps)
        |SELECT count(*) AS replicas,
        |  round(CAST(tc AS DOUBLE) / tn / 100.0, 6) AS point_mean,
        |  round(min(CASE WHEN rn / 32.0 >= 0.025 THEN m END) / 100.0, 6) AS ci_lo,
        |  round(min(CASE WHEN rn / 32.0 >= 0.975 THEN m END) / 100.0, 6) AS ci_hi
        |FROM rk CROSS JOIN point
        |GROUP BY tc, tn""".stripMargin,
    "surv_km" ->
      """WITH per AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '1970-01-01',
        |      date_trunc('day', min(ts))) AS s,
        |    date_diff('day', DATE '1970-01-01', date_trunc('day',
        |      min(CASE WHEN event_type = 'purchase' THEN ts END))) AS p
        |  FROM events GROUP BY user_id),
        |cls AS (
        |  SELECT CASE WHEN p IS NOT NULL AND p - s <= 3
        |      THEN p - s ELSE 3 END AS t,
        |    CAST(p IS NOT NULL AND p - s <= 3 AS INT) AS dead
        |  FROM per),
        |at AS (
        |  SELECT t, CAST(sum(dead) AS BIGINT) AS d,
        |    CAST(sum(1 - dead) AS BIGINT) AS c
        |  FROM cls GROUP BY t),
        |r AS (
        |  SELECT t, d, c,
        |    CAST(sum(d + c) OVER (ORDER BY t ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        |  FROM at),
        |s AS (
        |  SELECT t, d, n_risk,
        |    CASE WHEN d > 0 AND d < n_risk
        |        THEN ln(1.0 - d / CAST(n_risk AS DOUBLE))
        |      WHEN d = n_risk THEN -1e9
        |      ELSE 0.0 END AS lnterm
        |  FROM r),
        |k AS (
        |  SELECT t, d, n_risk,
        |    round(exp(sum(lnterm) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS surv
        |  FROM s)
        |SELECT t, n_risk, d, surv FROM k WHERE d > 0
        |ORDER BY t ASC""".stripMargin,
    "ops_fulfillment" ->
      """WITH per_order AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    date_diff('day', date_trunc('day', o_orderdate),
        |      date_trunc('day', max(l_shipdate))) AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_orderkey, o_orderpriority, o_orderdate)
        |SELECT o_orderpriority, count(*) AS orders,
        |  round(CAST(sum(lag_days) AS DOUBLE) / count(*), 4) AS avg_lag_days,
        |  round(count(*) FILTER (WHERE lag_days <= 30)
        |    / CAST(count(*) AS DOUBLE), 6) AS pct_30,
        |  round(count(*) FILTER (WHERE lag_days <= 60)
        |    / CAST(count(*) AS DOUBLE), 6) AS pct_60,
        |  round(count(*) FILTER (WHERE lag_days <= 90)
        |    / CAST(count(*) AS DOUBLE), 6) AS pct_90,
        |  CAST(max(lag_days) AS BIGINT) AS max_lag
        |FROM per_order GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "interval_concurrency" ->
      """WITH base AS (
        |  SELECT l_suppkey AS suppkey,
        |    date_diff('day', DATE '1970-01-01', date_trunc('day', l_shipdate)) AS sd,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |deltas AS (
        |  SELECT suppkey, day, CAST(sum(d) AS BIGINT) AS net
        |  FROM (
        |    SELECT suppkey, sd AS day, 1 AS d FROM base
        |    UNION ALL
        |    SELECT suppkey, sd + qty AS day, -1 AS d FROM base)
        |  GROUP BY suppkey, day),
        |prof AS (
        |  SELECT suppkey, day,
        |    sum(net) OVER (PARTITION BY suppkey ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM deltas),
        |pk AS (
        |  SELECT *, max(conc) OVER (PARTITION BY suppkey) AS peak
        |  FROM prof)
        |SELECT suppkey, CAST(max(conc) AS BIGINT) AS peak_conc,
        |  DATE '1970-01-01'
        |    + CAST(min(CASE WHEN conc = peak THEN day END) AS INT) AS peak_day
        |FROM pk GROUP BY suppkey
        |ORDER BY suppkey ASC""".stripMargin,
    "cust_migration" ->
      """WITH o AS (
        |  SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |early AS (
        |  SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY sum(cents) DESC,
        |    o_custkey ASC) AS VARCHAR) AS q_early
        |  FROM o WHERE yr <= 1997 GROUP BY o_custkey),
        |late AS (
        |  SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY sum(cents) DESC,
        |    o_custkey ASC) AS VARCHAR) AS q_late
        |  FROM o WHERE yr >= 1999 GROUP BY o_custkey)
        |SELECT coalesce(q_early, 'none') AS q_early,
        |  coalesce(q_late, 'none') AS q_late,
        |  count(*) AS customers
        |FROM early FULL OUTER JOIN late USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC""".stripMargin,
    "feat_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS s,
        |    count(*) AS n
        |  FROM o GROUP BY o_orderpriority)
        |SELECT o_orderkey, o.o_orderpriority,
        |  cents / 100.0 AS target,
        |  CASE WHEN n > 1
        |    THEN round(CAST(s - cents AS DOUBLE) / (n - 1) / 100.0, 6) END AS loo_enc,
        |  round(CAST(s AS DOUBLE) / n / 100.0, 6) AS naive_enc
        |FROM o JOIN g ON o.o_orderpriority = g.o_orderpriority
        |ORDER BY o_orderkey ASC""".stripMargin,
    "cohort_triangle" ->
      """WITH om AS (
        |  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS m
        |  FROM orders),
        |coh AS (SELECT o_custkey, min(m) AS m0 FROM om GROUP BY o_custkey),
        |act AS (
        |  SELECT m0,
        |    (year(m) - year(m0)) * 12 + (month(m) - month(m0)) AS age,
        |    count(*) AS active
        |  FROM om JOIN coh USING (o_custkey)
        |  GROUP BY m0, age),
        |s0 AS (SELECT m0, active AS cohort_users FROM act WHERE age = 0)
        |SELECT CAST(act.m0 AS DATE) AS cohort_month, age, active, cohort_users,
        |  round(active / CAST(cohort_users AS DOUBLE), 6) AS retention
        |FROM act JOIN s0 ON act.m0 = s0.m0
        |ORDER BY cohort_month ASC, age ASC""".stripMargin,
    "skyline_2d" ->
      """SELECT a.p_partkey, a.p_brand, a.p_size, a.p_retailprice
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_size <= a.p_size AND b.p_retailprice >= a.p_retailprice
        |    AND (b.p_size < a.p_size OR b.p_retailprice > a.p_retailprice))
        |ORDER BY a.p_size ASC, a.p_partkey ASC""".stripMargin,
    "basket_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM b),
        |sup AS (SELECT brand, count(*) AS n_brand FROM b GROUP BY brand),
        |pairs AS (
        |  SELECT x.brand AS ant, y.brand AS cons, count(*) AS n_ab
        |  FROM b x JOIN b y ON x.ok = y.ok AND x.brand <> y.brand
        |  GROUP BY ant, cons
        |  HAVING count(*) >= 5)
        |SELECT ant, cons, n_ab,
        |  round(n_ab / CAST(sa.n_brand AS DOUBLE), 6) AS confidence,
        |  round((n_ab * tot.n_orders) / CAST(sa.n_brand * sc.n_brand AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN sup sa ON sa.brand = ant
        |JOIN sup sc ON sc.brand = cons
        |CROSS JOIN tot
        |ORDER BY ant ASC, cons ASC""".stripMargin,
    "ts_sma_crossover" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, day),
        |f AS (
        |  SELECT event_type, day,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS rn,
        |    sum(cents) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
        |    sum(cents) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20
        |  FROM d),
        |g AS (
        |  SELECT *, CAST(s5 * 4 > s20 AS INT) AS above
        |  FROM f),
        |h AS (
        |  SELECT *, lag(above) OVER (PARTITION BY event_type ORDER BY day ASC) AS prev_above
        |  FROM g)
        |SELECT event_type, CAST(day AS DATE) AS day,
        |  round(s5 / 500.0, 4) AS sma5,
        |  round(s20 / 2000.0, 4) AS sma20,
        |  above,
        |  CAST(above = 1 AND prev_above = 0 AS INT) AS golden,
        |  CAST(above = 0 AND prev_above = 1 AS INT) AS death
        |FROM h WHERE rn >= 21
        |ORDER BY event_type ASC, day ASC""".stripMargin,
    "attr_touch" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type IN ('view', 'click', 'signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM events),
        |p AS (
        |  SELECT coalesce(ft, '(none)') AS first_touch,
        |    coalesce(lt, '(none)') AS last_touch,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM t WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT 'first' AS model, first_touch AS touch, cents FROM p
        |  UNION ALL
        |  SELECT 'last' AS model, last_touch AS touch, cents FROM p)
        |SELECT model, touch, count(*) AS purchases,
        |  sum(cents) / 100.0 AS revenue
        |FROM u GROUP BY model, touch
        |ORDER BY model ASC, touch ASC""".stripMargin)
}
