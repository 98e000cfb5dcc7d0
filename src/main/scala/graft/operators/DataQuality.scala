package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Warehouse-side operators a billing loader runs around every batch:
  * the data-quality audit that gates a load, and the SCD2 point-in-time
  * dimension join that consumes the loaded history.
  */
object DataQuality {

  /** Data-quality audit over orders — null rates, key uniqueness, value
    * ranges, rule violations. One pass, all metrics as conditional
    * aggregates; at 100 TB this is a single scan with partial aggs (the
    * distinct-count is the standard two-phase expansion — swap for the
    * KMV/HLL sketch when exactness isn't required). */
  def dqChecks(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("rows"),
        count(col("o_custkey")).as("custkey_nonnull"),
        countDistinct(col("o_orderkey")).as("distinct_keys"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"),
        count(when(col("o_totalprice") <= 0, lit(1))).as("nonpositive_price"),
        count(when(col("o_orderdate") > lit("1999-01-01").cast("timestamp"), lit(1)))
          .as("future_dates"))

  /** SCD2 point-in-time join: the orders history becomes a type-2
    * dimension (validity [o_orderdate, next o_orderdate) per customer via
    * `lead`), and each event picks the row valid AT its timestamp.
    * Zero-width ranges (same-date re-orders) are naturally excluded, so
    * the result is exactly the as-of join's — which is what the oracle
    * formulation checks. Scale: the validity window partitions by the
    * high-cardinality customer key; the join carries the same equi+range
    * shape as join_interval. */
  def joinScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val dim = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w)) // null = open
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    ev.join(dim, col("user_id") === col("o_custkey") &&
        col("o_orderdate") <= col("ts") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("o_orderkey").as("scd_orderkey"),
        round(col("o_totalprice"), 2).as("price_at_ts"))
      .orderBy(col("event_id").asc)
  }

  /** CDC apply (SCD-1 / latest-op-wins merge): the event stream as a
    * change feed keyed by user — each key's final state is its LATEST
    * event by (ts, event_id), and a terminal 'error' tombstones the key.
    * The scale shape is the declarative arg-max (`max_by` over a struct):
    * partial aggregation reduces each task's events to one candidate per
    * key BEFORE the shuffle, so the merge scales with distinct keys, not
    * change volume — where the textbook `row_number()=1` window shuffles
    * and sorts every change row. Census groups survivors/tombstones by
    * final op. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val latest = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_type").as("op_type"), col("last.value").as("v"))
    latest
      .groupBy("op_type")
      .agg(count(lit(1)).as("users"), round(sum("v"), 2).as("val_sum"))
      .withColumn("survives", col("op_type") =!= "error")
      .orderBy(col("op_type").asc)
  }

  /** DESCRIBE-style column profiler — the first query anyone runs on an
    * unknown 100 TB table: per column, row/non-null/distinct counts and
    * numeric min/max/mean. Round-6 rewrite: ONE aggregation over ONE scan
    * (the round-5 UNION ALL form scanned orders five times — 5× the IO at
    * scale, and 8.6 s under driver contention). All per-column metrics are
    * computed in a single agg (the multi-column exact distincts plan as a
    * single Expand over the one scan — still one pass over the parquet),
    * then the 1-row result is reshaped to the per-column layout with
    * `stack`. The five-branch UNION ALL text remains the DuckDB oracle —
    * same rows, same schema, one scan instead of five. Numeric stats are
    * cast to DOUBLE for a uniform schema; string columns profile counts
    * only (cross-engine double stringification is not identical, so no
    * lexicographic min/max on numbers — §2.Z). */
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir).agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nn_ok"),
      countDistinct(col("o_orderkey")).as("nd_ok"),
      round(min(col("o_orderkey")).cast("double"), 2).as("mn_ok"),
      round(max(col("o_orderkey")).cast("double"), 2).as("mx_ok"),
      round(avg(col("o_orderkey")), 4).as("me_ok"),
      count(col("o_custkey")).as("nn_ck"),
      countDistinct(col("o_custkey")).as("nd_ck"),
      round(min(col("o_custkey")).cast("double"), 2).as("mn_ck"),
      round(max(col("o_custkey")).cast("double"), 2).as("mx_ck"),
      round(avg(col("o_custkey")), 4).as("me_ck"),
      count(col("o_totalprice")).as("nn_tp"),
      countDistinct(col("o_totalprice")).as("nd_tp"),
      round(min(col("o_totalprice")), 2).as("mn_tp"),
      round(max(col("o_totalprice")), 2).as("mx_tp"),
      round(avg(col("o_totalprice")), 4).as("me_tp"),
      count(col("o_orderstatus")).as("nn_os"),
      countDistinct(col("o_orderstatus")).as("nd_os"),
      count(col("o_orderpriority")).as("nn_op"),
      countDistinct(col("o_orderpriority")).as("nd_op"))
    a.selectExpr(
      """stack(5,
        |  'o_orderkey',     n, nn_ok, nd_ok, mn_ok, mx_ok, me_ok,
        |  'o_custkey',      n, nn_ck, nd_ck, mn_ck, mx_ck, me_ck,
        |  'o_totalprice',   n, nn_tp, nd_tp, mn_tp, mx_tp, me_tp,
        |  'o_orderstatus',  n, nn_os, nd_os, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderpriority',n, nn_op, nd_op, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |) AS (col, n, nonnull, ndist, mn, mx, mean)""".stripMargin)
      .orderBy(col("col").asc)
  }

  /** Functional-dependency check (round-8 addendum) — the dependency-
    * discovery primitive data profilers (Metanome/HyFD class) run per
    * candidate: does X → Y hold, and if not, how badly is it violated?
    * Reports, per candidate FD, the standard g3 metric (minimum rows to
    * delete for the FD to hold = rows − Σ_x max_y count(x,y)) plus the
    * violating-group count. Three candidates over orders: a true key
    * dependency (orderkey → custkey, holds by keyness), a false
    * attribute dependency (custkey → orderpriority), and a false
    * temporal one (orderdate → orderpriority).
    *
    * Shape per candidate: groupBy(X, Y) count → groupBy(X) keep the
    * max count + distinct-Y + total → one global rollup. Every level is
    * a hash aggregate with map-side partials; the (X, Y) pass is the
    * only corpus-scale one and each later frame shrinks by the group
    * cardinality. The three candidates scan orders independently —
    * at 100 TB a profiler would fuse them into one pass per X
    * (several Ys share a grouping), which composes from this same
    * shape. */
  def dqFdCheck(spark: SparkSession, dir: String): DataFrame = {
    def fd(x: String, y: String): DataFrame =
      Tables.orders(spark, dir)
        .groupBy(col(x).as("xv"), col(y).as("yv"))
        .agg(count(lit(1)).as("n"))
        .groupBy("xv")
        .agg(sum("n").as("rows_x"), max("n").as("maj"),
          count(lit(1)).as("ndist_y"))
        .agg(
          lit(x + " -> " + y).as("fd"),
          count(lit(1)).as("lhs_groups"),
          count(when(col("ndist_y") > 1, lit(1))).as("violating_groups"),
          sum("rows_x").as("rows"),
          (sum("rows_x") - sum("maj")).as("g3_rows_to_delete"),
          (max(col("ndist_y")) === 1).cast("int").as("holds"))
    fd("o_orderkey", "o_custkey")
      .unionAll(fd("o_custkey", "o_orderpriority"))
      .unionAll(fd("o_orderdate", "o_orderpriority"))
      .orderBy(col("fd").asc)
  }

  /** Benford first-digit audit (round-8 addendum) — the classic
    * fraud/synthetic-data screen auditors run over money columns: the
    * observed first-significant-digit distribution of o_totalprice vs
    * Benford's law p(d) = log10(1 + 1/d), with the per-digit χ²
    * contribution. First digit is extracted through INTEGER string
    * arithmetic (`floor` → BIGINT → first char), never `log10(price)`
    * truncation — exact in both engines and immune to FP edge cases at
    * powers of ten (a double→BIGINT cast alone would not do: Spark
    * truncates, DuckDB rounds — `floor` first makes the cast exact).
    * Observed shares divide two exact integers, expected shares are
    * functions of the digit constant, and the χ² term is computed FROM
    * the 6dp-rounded shares — identical inputs on both engines, so the
    * 4dp result hash-matches by construction.
    *
    * Shape: one map-side projection + a 9-bucket hash agg (partial+
    * final) + a broadcast of the 1-row total — nothing in the plan grows
    * with the corpus. (Synthetic TPC-H prices are roughly uniform, not
    * log-uniform, so the fixture FAILS Benford loudly — large χ² — which
    * is exactly what the audit should report for generated data.) */
  def dqBenford(spark: SparkSession, dir: String): DataFrame = {
    // Benford's law applies to the leading digit of the MAGNITUDE:
    // abs() first (a negative total's leading "digit" is '-', which the
    // ANSI cast rejects mid-job — round-13 negatives sweep), and values
    // in [0, 1) have no leading digit in 1-9, so they are excluded from
    // the census in both engines (digit 0 would also hit exp_p's 1/0)
    val digits = Tables.orders(spark, dir)
      .select(substring(floor(abs(col("o_totalprice"))).cast("bigint").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .filter(col("digit").between(1, 9))
    val tot = digits.agg(count(lit(1)).as("tot"))
    digits.groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("tot"),
        round(col("n").cast("double") / col("tot"), 6).as("obs_p"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("exp_p"))
      .withColumn("chi2_term",
        round(col("tot") * pow(col("obs_p") - col("exp_p"), 2.0) / col("exp_p"), 4))
      .drop("tot")
      .orderBy(col("digit").asc)
  }

  /** Binned two-sample Kolmogorov–Smirnov drift statistic (round-8
    * addendum) — the distribution-drift test monitoring pipelines run
    * between a segment and its complement: D = max |ECDF₁ − ECDF₂| of
    * o_totalprice, URGENT orders vs all others, on fixed-width 5000-unit
    * bins. Fixed bins (not quantiles) are the deliberate scale choice:
    * bin ids are exact integer arithmetic — deterministic across engines
    * and across partitionings — where sample quantiles would be
    * approximate or require a global sort. The corpus collapses to a
    * ≤100-row bin frame in one partial+final hash agg; both ECDFs are
    * running sums over that BIN-GRAIN frame (a single-partition window
    * over ~100 rows, not over rows of data), and the max row is picked
    * by `row_number` over (6dp-rounded gap DESC, bin ASC) — a §2.Z.6
    * unique-key tie-break, so the reported location can't flip on a
    * sub-rounding ulp. */
  def dqDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / 5000.0).cast("int").as("bin"),
        (col("o_orderpriority") === "1-URGENT").as("g"))
    val bins = o.groupBy("bin").agg(
      count(when(col("g"), 1)).as("n1"),
      count(when(!col("g"), 1)).as("n2"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = o.agg(
      count(when(col("g"), 1)).as("t1"),
      count(when(!col("g"), 1)).as("t2"))
    val gaps = bins
      .withColumn("c1", sum("n1").over(w))
      .withColumn("c2", sum("n2").over(w))
      .crossJoin(broadcast(tot))
      // nullif: a one-sided corpus (no URGENT rows, or nothing else) has
      // only one ECDF and D is undefined — every gap goes NULL like the
      // oracle's /0, and the row_number tie-break (all-equal keys) picks
      // the same lowest bin in both engines (round-13 tiny sweep)
      .withColumn("gap",
        round(abs(col("c1").cast("double") / nullif(col("t1"), lit(0L))
          - col("c2").cast("double") / nullif(col("t2"), lit(0L))), 6))
    val wPick = Window.orderBy(col("gap").desc, col("bin").asc)
    gaps.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("gap").as("d_stat"), col("bin").as("at_bin"),
        col("t1").as("n_urgent"), col("t2").as("n_other"))
  }

  /** Snapshot diff (round-8 addendum) — the reconciliation report a
    * warehouse runs between two loads of the same table: rows added,
    * removed, changed, unchanged, by FULL OUTER join on the business
    * key with column-level compare. Snapshot B is simulated from
    * orders by deterministic key arithmetic (every engine sees the
    * identical B): keys ≡0 mod 101 deleted, keys ≡0 mod 97 get status
    * 'X' (update), keys ≡0 mod 103 re-inserted shifted by 10¹²
    * (insert — the offset clears any fixture's key range at any sf).
    * Complements cdc_apply: CDC consumes a change LOG; the diff
    * RECONSTRUCTS one when upstream can't produce it.
    *
    * Shape: one full-outer shuffle join on the key (both sides
    * key-partitioned — even spread at any scale) and a 4-row
    * classification rollup; min/max key per class bound the affected
    * range for incident triage. */
  def dqSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st_a"),
        col("o_totalprice").as("tp_a"))
    val base = Tables.orders(spark, dir)
    val b = base
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 97 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("st_b"),
        col("o_totalprice").as("tp_b"))
      .unionAll(base.filter(col("o_orderkey") % 103 === 0)
        .select((col("o_orderkey") + 1000000000000L).as("k"),
          col("o_orderstatus").as("st_b"), col("o_totalprice").as("tp_b")))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("class",
        when(col("st_a").isNull, "added")
          .when(col("st_b").isNull, "removed")
          .when(col("st_a") =!= col("st_b") || col("tp_a") =!= col("tp_b"), "changed")
          .otherwise("unchanged"))
      .groupBy("class")
      .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
      .orderBy(col("class").asc)
  }

  /** Cross-column Pearson correlation profile (round-8 wave 13) — the
    * multivariate step dq_profile (per-column stats) stops short of:
    * every numeric column pair of the fact table in ONE corpus pass.
    * `corr` is a merged-moment aggregate (n, Σx, Σy, Σxx, Σyy, Σxy
    * compose map-side — same machinery as agg_stats/agg_regression), so
    * 6 pairs cost one hash-agg over 4 columns at any scale; the long
    * (col_a, col_b, r) shape comes from `stack` over the single 1-row
    * wide result, a driver-free pivot. 5dp round: corr divides two
    * accumulation-ordered large sums, one digit looser than the single-
    * sum 6dp convention (same reasoning as agg_regression's 4dp slope). */
  def dqCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    // corrSafe: native corr ANSI-throws when a column is constant or the
    // table has one row; the oracle's corr yields NULL (round-13 sweep)
    val wide = Tables.lineitem(spark, dir).agg(
      round(Aggregates.corrSafe(col(pairs.head._1), col(pairs.head._2)), 5).as("c0"),
      pairs.tail.zipWithIndex.map { case ((x, y), k) =>
        round(Aggregates.corrSafe(col(x), col(y)), 5).as(s"c${k + 1}") }: _*)
    val stackArgs = pairs.zipWithIndex
      .map { case ((x, y), k) => s"'$x', '$y', c$k" }.mkString(", ")
    wide.selectExpr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, r)")
      .orderBy(col("col_a").asc, col("col_b").asc)
  }

  /** Per-stream freshness report (round-8 wave 16) — the staleness
    * monitor an ingestion SLO reads: per event type, the last event's
    * timestamp, its lag behind the corpus watermark (the global max ts —
    * the batch stand-in for wall clock), and the trailing-24 h volume
    * that distinguishes "stream stopped" from "stream slowed". Lags are
    * exact epoch-µs integers; the watermark travels as a 1-row broadcast
    * scalar (allowlisted NLJ class). One corpus pass + a type-grain agg
    * at any scale. */
  def dqFreshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wm = broadcast(ev.agg(max(col("ts")).as("wm")))
    ev.crossJoin(wm)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("ts")).as("last_ts"),
        first(col("wm")).as("wm"),
        sum(when(unix_micros(col("ts")) >=
          unix_micros(col("wm")) - 86400000000L, 1L).otherwise(0L))
          .as("n_last24h"))
      .select(col("event_type"), col("n"), col("last_ts"),
        (unix_micros(col("wm")) - unix_micros(col("last_ts"))).as("lag_us"),
        col("n_last24h"))
      .orderBy(col("event_type").asc)
  }

  /** Referential-integrity audit (round-9) — every foreign-key edge of
    * the star schema in one report: child rows, orphan rows (no parent),
    * and the orphan rate. The pipeline gate that runs before any join-
    * based metric is trusted (an orphan rate > 0 silently deflates every
    * inner-join aggregate downstream — this surfaces it as data).
    *
    * Shape: ONE pass per child table, not one per edge — lineitem's
    * three edges ride a single scan with three BROADCAST parent keysets
    * (dimension keys are vocabulary-sized at any SF; at 100 TB the
    * orders keyset outgrows broadcast and that one edge becomes a
    * shuffle semi-probe, the documented swap), folded to a 1-row wide
    * aggregate and reshaped by `stack` (driver-free pivot, the
    * dq_corr_matrix pattern). All four child passes are independent
    * branches of one union — Spark schedules them in a single job. */
  def dqOrphans(spark: SparkSession, dir: String): DataFrame = {
    def keyset(df: DataFrame, k: String, as: String) =
      broadcast(df.select(col(k).as(as)).distinct())
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .join(keyset(Tables.orders(spark, dir), "o_orderkey", "pk_o"),
        col("l_orderkey") === col("pk_o"), "left")
      .join(keyset(Tables.part(spark, dir), "p_partkey", "pk_p"),
        col("l_partkey") === col("pk_p"), "left")
      .join(keyset(Tables.supplier(spark, dir), "s_suppkey", "pk_s"),
        col("l_suppkey") === col("pk_s"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pk_o").isNull, 1L).otherwise(0L)).as("o1"),
        sum(when(col("pk_p").isNull, 1L).otherwise(0L)).as("o2"),
        sum(when(col("pk_s").isNull, 1L).otherwise(0L)).as("o3"))
      .selectExpr(
        """stack(3,
          |  'lineitem.l_orderkey->orders', n, o1,
          |  'lineitem.l_partkey->part', n, o2,
          |  'lineitem.l_suppkey->supplier', n, o3) AS (edge, child_rows, orphans)
          |""".stripMargin)
    def oneEdge(child: DataFrame, fk: String, parent: DataFrame, pk: String,
                edge: String) =
      child.select(col(fk))
        .join(keyset(parent, pk, "pk"), col(fk) === col("pk"), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit(edge).as("edge"), col("child_rows"), col("orphans"))
    li.unionAll(oneEdge(Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey", "orders.o_custkey->customer"))
      .unionAll(oneEdge(Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey", "customer.c_nationkey->nation"))
      .unionAll(oneEdge(Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey", "supplier.s_nationkey->nation"))
      .unionAll(oneEdge(Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey", "nation.n_regionkey->region"))
      .withColumn("orphan_rate",
        round(col("orphans") / col("child_rows").cast("double"), 6))
      .orderBy(col("edge").asc)
  }

  /** Primary-key uniqueness audit (round-9) — the companion gate to
    * dq_orphans: per declared key (four single-column PKs plus
    * lineitem's composite (l_orderkey, l_linenumber)), row count,
    * distinct key count, duplicate rows and rate. On THIS fixture the
    * lineitem composite is ~24% duplicated — a real generator artifact
    * the audit surfaces (and the reason ids_global exists: positional
    * ids, not key-derived ones). Each table is one count+countDistinct
    * hash agg (partial map-side, two exchanges per table at any scale);
    * results union to a 5-row report. */
  def dqDupKeys(spark: SparkSession, dir: String): DataFrame = {
    // Composite keys count distinct STRUCTS, matching the oracle's
    // count(DISTINCT (a, b)) ROW semantics: a row with a NULL key field
    // is a distinct (malformed) key value, not silently dropped the way
    // countDistinct(a, b) would drop it — and this is the one query
    // whose job is to catch exactly such rows.
    def audit(df: DataFrame, tbl: String, keys: Seq[String]) =
      df.agg(count(lit(1)).as("n_rows"),
          (if (keys.lengthCompare(1) == 0) countDistinct(col(keys.head))
           else countDistinct(struct(keys.map(col): _*))).as("n_keys"))
        .select(lit(tbl).as("key"), col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("dup_rows"),
          round((col("n_rows") - col("n_keys")) / col("n_rows").cast("double"), 6)
            .as("dup_rate"))
    audit(Tables.customer(spark, dir), "customer.c_custkey", Seq("c_custkey"))
      .unionAll(audit(Tables.orders(spark, dir), "orders.o_orderkey", Seq("o_orderkey")))
      .unionAll(audit(Tables.part(spark, dir), "part.p_partkey", Seq("p_partkey")))
      .unionAll(audit(Tables.supplier(spark, dir), "supplier.s_suppkey", Seq("s_suppkey")))
      .unionAll(audit(Tables.lineitem(spark, dir),
        "lineitem.(l_orderkey,l_linenumber)", Seq("l_orderkey", "l_linenumber")))
      .orderBy(col("key").asc)
  }

  /** Header/detail reconciliation (round-9 wave 10) — the month-end
    * finance control: every order's header total vs the rollup of its
    * own lines (extprice·(1−disc)·(1+tax), the TPC-H charge formula),
    * bucketed by discrepancy class — lines missing entirely, header
    * above/below the rollup, split at 1% and 10% relative gap. On this
    * fixture NO order reconciles exactly and 257 (sf0.01) have no lines
    * at all — exactly the report a controller needs, which is the
    * point: recon output is interesting precisely when it is non-empty.
    *
    * Exactness: the per-line charge is computed ENTIRELY in int64 —
    * price cents (exactly integral in the fixture) × (100 − discount
    * bp) × (100 + tax bp), i.e. cents·10⁻⁴ units — because the float
    * form round(price·(1−d)·(1+t), 2) lands on .xx5 ties where Spark's
    * BigDecimal HALF_UP and DuckDB's double rounding split (measured:
    * 2 of 5 buckets off by a cent at sf0.01). Sums, gaps and the
    * relative-gap buckets (|gap|·100 ≤ header) are all exact integer
    * compares; the four totals divide once for display. LEFT join
    * keeps line-less orders as data.
    *
    * Scale: one (orderkey) hash agg on the fact side, an orderkey
    * equi-join, then a 5-row bucket census with map-side partials. */
  def dqRecon(spark: SparkSession, dir: String): DataFrame = {
    // charge in cents·1e-4 units: exact int64 (≤ ~1.2e11 per line)
    val chargeU = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long")) *
      (lit(100L) + round(col("l_tax") * 100, 0).cast("long"))
    val l = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(chargeU).as("line_u"))
    val j = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (round(col("o_totalprice") * 100, 0).cast("long") * 10000L).as("hdr_u"))
      .join(l, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("gap", col("hdr_u") - coalesce(col("line_u"), lit(0L)))
      .withColumn("bucket",
        when(col("line_u").isNull, "missing_lines")
          .when(abs(col("gap")) * 100 <= col("hdr_u"), "within_1pct")
          .when(abs(col("gap")) * 10 <= col("hdr_u"), "within_10pct")
          .when(col("gap") > 0, "header_above_10pct")
          .otherwise("header_below_10pct"))
    j.groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        (sum("hdr_u") / 1e6).as("header_total"),
        (sum(coalesce(col("line_u"), lit(0L))) / 1e6).as("line_total"),
        (sum("gap") / 1e6).as("net_gap"),
        (sum(abs(col("gap"))) / 1e6).as("abs_gap"))
      .orderBy(col("bucket").asc)
  }

  /** k-anonymity census (round 14, VERDICT r13 task 6) — the privacy
    * gate next to llm_pii_mask/llm_dp_counts that a released corpus
    * needs: group the population by its quasi-identifier tuple
    * (nation, market segment, account-balance band — the classic
    * generalization of a continuous attribute into 1000-unit bands)
    * and report, for k ∈ {2, 5, 10}, how many rows and groups fall in
    * QI classes smaller than k — the re-identifiable share a k-anonymity
    * release policy would have to suppress or generalize further.
    *
    * Scale shape: ONE hash aggregate over the population at QI grain
    * (map-side partials; cardinality bounded by the QI domain, not row
    * count), then a ×3 literal-spine explode and a 3-row final agg —
    * nothing after the first agg is corpus-scale. */
  def dqKAnon(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("gsz"))
    g.select(explode(array(lit(2L), lit(5L), lit(10L))).as("k"), col("gsz"))
      .groupBy("k")
      .agg(
        sum("gsz").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("gsz") < col("k"), col("gsz")).otherwise(0L)).as("rows_at_risk"),
        sum(when(col("gsz") < col("k"), 1L).otherwise(0L)).as("groups_at_risk"),
        round(sum(when(col("gsz") < col("k"), col("gsz")).otherwise(0L)).cast("double")
          / sum("gsz"), 6).as("risk_share"))
      .orderBy(col("k").asc)
  }

  /** l-diversity census (round 14) — k-anonymity's companion gate: a QI
    * class can be large (k-anonymous) yet expose its members anyway if
    * every row shares one SENSITIVE value (the homogeneity attack,
    * Machanavajjhala et al. ICDE'06). Group by the coarser QI pair
    * (nation, 1000-unit balance band), count DISTINCT sensitive values
    * (market segment) per class, and report for l ∈ {2, 3} the classes
    * and rows whose diversity falls below l — the share a release would
    * have to generalize further even after passing the k-gate.
    *
    * Scale shape: ONE hash aggregate at (QI, sensitive) grain, a second
    * QI-grain rollup (both domain-bounded, map-side partials), then the
    * ×2 literal-spine census — dq_k_anon's plan with one extra bounded
    * rollup. */
  def dqLDiversity(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("gsz"),
        countDistinct(col("c_mktsegment")).as("l_div"))
    g.select(explode(array(lit(2L), lit(3L))).as("l"), col("gsz"), col("l_div"))
      .groupBy("l")
      .agg(
        sum("gsz").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("l_div") < col("l"), col("gsz")).otherwise(0L)).as("rows_at_risk"),
        sum(when(col("l_div") < col("l"), 1L).otherwise(0L)).as("groups_at_risk"),
        round(sum(when(col("l_div") < col("l"), col("gsz")).otherwise(0L)).cast("double")
          / sum("gsz"), 6).as("risk_share"))
      .orderBy(col("l").asc)
  }

  /** t-closeness census (round 14) — the third gate of the privacy trio
    * (Li/Li/Venkatasubramanian ICDE'07): an l-diverse class still leaks
    * if its sensitive-value DISTRIBUTION diverges from the corpus-wide
    * one (skewness attack). Per coarse QI class, measure the total
    * variation distance ½·Σ|p_class(s) − p_global(s)| between the
    * class's market-segment distribution and the global one (the
    * categorical specialization of the paper's EMD), and report the
    * census a release policy reads: classes and rows whose distance
    * exceeds t ∈ {0.2, 0.35, 0.5}.
    *
    * Exactness discipline: the per-class and global proportions are
    * ratios of exact counts; the distance is a ≤5-term sum of |a/b −
    * c/d| doubles rounded at 6dp BEFORE the threshold compare, computed
    * in the same order both engines aggregate (sum over the dense
    * class×segment spine) — so the oracle matches hash-for-hash.
    *
    * Scale shape: one (QI, sensitive) hash agg, one QI rollup, one
    * 5-row global frame BROADCAST into the dense spine (QI classes ×
    * segments — domain-bounded), then the ×3 literal-spine census. */
  def dqTCloseness(spark: SparkSession, dir: String): DataFrame = {
    // the (QI, sensitive) counts are materialized ONCE (domain-bounded —
    // a few hundred rows): every downstream frame (class sizes, global
    // segment distribution, global total, the dense-spine left join) is
    // a rollup of this one aggregate, so the population is scanned
    // exactly once per invocation (round-14 review: the previous form
    // recomputed the global distribution from raw customer twice)
    val cs = MemoFrames.materialize(spark, "tclose_cs",
      Tables.customer(spark, dir)
        .groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("c_mktsegment"))
        .agg(count(lit(1)).as("n")))
    val cls = cs.groupBy("c_nationkey", "bal_band").agg(sum("n").as("gsz"))
    val glob = broadcast(cs.groupBy(col("c_mktsegment")).agg(sum("n").as("gn"))
      .crossJoin(broadcast(cs.agg(sum("n").as("gt")))))
    // dense spine: every (class, segment) pair, zero-count cells included
    // — |0 − p_global| must contribute to the distance
    val spine = cls.crossJoin(glob.select(col("c_mktsegment"), col("gn"), col("gt")))
      .join(cs, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .withColumn("p_cls", coalesce(col("n"), lit(0L)).cast("double") / col("gsz"))
      .withColumn("p_glob", col("gn").cast("double") / col("gt"))
    val dist = spine.groupBy("c_nationkey", "bal_band", "gsz")
      .agg(round(sum(abs(col("p_cls") - col("p_glob"))) / 2.0, 6).as("tvd"))
    dist.select(explode(array(lit(0.2), lit(0.35), lit(0.5))).as("t"),
        col("gsz"), col("tvd"))
      .groupBy("t")
      .agg(
        sum("gsz").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("tvd") > col("t"), col("gsz")).otherwise(0L)).as("rows_at_risk"),
        sum(when(col("tvd") > col("t"), 1L).otherwise(0L)).as("groups_at_risk"),
        round(max("tvd"), 6).as("max_tvd"))
      .orderBy(col("t").asc)
  }

  /** Query id → SQL text. Spark runs each text through `Tables.sql`, and
    * the same text is its DuckDB oracle. */
  private val sql: Map[String, String] = Map(
    // IQR-fence outlier screen — Tukey's boxplot rule
    // per nation over PER-CUSTOMER revenue: customers outside
    // [q1 − 1.5·IQR, q3 + 1.5·IQR] are the anomalous accounts a billing
    // audit surfaces (the raw order-price column is near-uniform and
    // fence-free by construction — per-customer totals have the heavy
    // tail the rule exists for; ~1% trip it). Quartiles are
    // `percentile_disc` — ACTUAL data values picked by rank, exact in
    // both engines (§2.Z agg_percentile_disc precedent) — over the 2dp
    // pre-rounded revenue, so fences are deterministic arithmetic.
    //
    // SQL-form (WITHIN GROUP has no DataFrame equivalent). Scale:
    // the corpus pass is the customer-grain revenue agg; quartiles sort
    // per-nation frames of customer grain; the fence check re-joins the
    // same frame — two vocabulary-to-customer-scale passes after the one
    // corpus collapse.
    "dq_outlier_iqr" ->
      """WITH rev AS (
        |  SELECT n.n_name, o.o_custkey, round(sum(o.o_totalprice), 2) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, o.o_custkey),
        |q AS (
        |  SELECT n_name,
        |    percentile_disc(0.25) WITHIN GROUP (ORDER BY rev) AS q1,
        |    percentile_disc(0.75) WITHIN GROUP (ORDER BY rev) AS q3
        |  FROM rev GROUP BY n_name)
        |SELECT r.n_name, count(*) AS n_cust,
        |  round(q.q1, 2) AS q1, round(q.q3, 2) AS q3,
        |  count(CASE WHEN r.rev < q.q1 - 1.5 * (q.q3 - q.q1)
        |               OR r.rev > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 END) AS n_outliers,
        |  round(max(CASE WHEN r.rev > q.q3 + 1.5 * (q.q3 - q.q1)
        |                 THEN r.rev END), 2) AS max_outlier
        |FROM rev r JOIN q ON r.n_name = q.n_name
        |GROUP BY r.n_name, q.q1, q.q3
        |ORDER BY r.n_name ASC""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_k_anon"      -> (dqKAnon _),
    "dq_l_diversity" -> (dqLDiversity _),
    "dq_t_closeness" -> (dqTCloseness _),
    "dq_recon"       -> (dqRecon _),
    "dq_dup_keys" -> (dqDupKeys _),
    "dq_orphans" -> (dqOrphans _),
    "dq_freshness" -> (dqFreshness _),
    "dq_corr_matrix" -> (dqCorrMatrix _),
    "dq_snapshot_diff" -> (dqSnapshotDiff _),
    "dq_benford" -> (dqBenford _),
    "dq_drift_ks" -> (dqDriftKs _),
    "dq_fd_check" -> (dqFdCheck _),
    "dq_profile" -> (dqProfile _),
    "cdc_apply" -> (cdcApply _),
    "dq_checks" -> (dqChecks _),
    "join_scd2" -> (joinScd2 _)) ++ sql.view.mapValues(Tables.sql)

  val oracleSql: Map[String, String] = sql ++ Map(
    "dq_t_closeness" ->
      """WITH cs AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (SELECT c_nationkey, bal_band, CAST(sum(n) AS BIGINT) AS gsz
        |        FROM cs GROUP BY 1, 2),
        |seg AS (SELECT c_mktsegment, count(*) AS gn FROM customer GROUP BY 1),
        |tot AS (SELECT count(*) AS gt FROM customer),
        |spine AS (
        |  SELECT cls.c_nationkey, cls.bal_band, cls.gsz,
        |    CAST(coalesce(cs.n, 0) AS DOUBLE) / cls.gsz AS p_cls,
        |    CAST(seg.gn AS DOUBLE) / tot.gt AS p_glob
        |  FROM cls CROSS JOIN seg CROSS JOIN tot
        |  LEFT JOIN cs ON cs.c_nationkey = cls.c_nationkey
        |    AND cs.bal_band = cls.bal_band
        |    AND cs.c_mktsegment = seg.c_mktsegment),
        |dist AS (
        |  SELECT c_nationkey, bal_band, gsz,
        |    round(sum(abs(p_cls - p_glob)) / 2, 6) AS tvd
        |  FROM spine GROUP BY 1, 2, 3),
        |ts AS (SELECT CAST(unnest([0.2, 0.35, 0.5]) AS DOUBLE) AS t)
        |SELECT ts.t, CAST(sum(gsz) AS BIGINT) AS n_rows,
        |  count(*) AS n_groups,
        |  CAST(sum(CASE WHEN tvd > ts.t THEN gsz ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST(sum(CASE WHEN tvd > ts.t THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
        |  round(max(tvd), 6) AS max_tvd
        |FROM dist CROSS JOIN ts
        |GROUP BY ts.t ORDER BY ts.t ASC""".stripMargin,
    "dq_l_diversity" ->
      """WITH g AS (
        |  SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    count(*) AS gsz,
        |    count(DISTINCT c_mktsegment) AS l_div
        |  FROM customer GROUP BY 1, 2),
        |ls AS (SELECT CAST(unnest([2, 3]) AS BIGINT) AS l)
        |SELECT ls.l, CAST(sum(gsz) AS BIGINT) AS n_rows,
        |  count(*) AS n_groups,
        |  CAST(sum(CASE WHEN l_div < ls.l THEN gsz ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST(sum(CASE WHEN l_div < ls.l THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
        |  round(CAST(sum(CASE WHEN l_div < ls.l THEN gsz ELSE 0 END) AS DOUBLE)
        |    / sum(gsz), 6) AS risk_share
        |FROM g CROSS JOIN ls
        |GROUP BY ls.l ORDER BY ls.l ASC""".stripMargin,
    "dq_k_anon" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    count(*) AS gsz
        |  FROM customer GROUP BY 1, 2, 3),
        |ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
        |SELECT ks.k, CAST(sum(gsz) AS BIGINT) AS n_rows,
        |  count(*) AS n_groups,
        |  CAST(sum(CASE WHEN gsz < ks.k THEN gsz ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST(sum(CASE WHEN gsz < ks.k THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
        |  round(CAST(sum(CASE WHEN gsz < ks.k THEN gsz ELSE 0 END) AS DOUBLE)
        |    / sum(gsz), 6) AS risk_share
        |FROM g CROSS JOIN ks
        |GROUP BY ks.k ORDER BY ks.k ASC""".stripMargin,
    "dq_recon" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))
        |      * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))) AS BIGINT) AS line_u
        |  FROM lineitem GROUP BY l_orderkey),
        |o AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 10000 AS hdr_u
        |  FROM orders),
        |g AS (
        |  SELECT hdr_u, line_u,
        |    hdr_u - coalesce(line_u, 0) AS gap,
        |    CASE WHEN line_u IS NULL THEN 'missing_lines'
        |      WHEN abs(hdr_u - coalesce(line_u, 0)) * 100 <= hdr_u
        |        THEN 'within_1pct'
        |      WHEN abs(hdr_u - coalesce(line_u, 0)) * 10 <= hdr_u
        |        THEN 'within_10pct'
        |      WHEN hdr_u - coalesce(line_u, 0) > 0 THEN 'header_above_10pct'
        |      ELSE 'header_below_10pct' END AS bucket
        |  FROM o LEFT JOIN l ON o_orderkey = l_orderkey)
        |SELECT bucket, count(*) AS n_orders,
        |  CAST(sum(hdr_u) AS DOUBLE) / 1e6 AS header_total,
        |  CAST(sum(coalesce(line_u, 0)) AS DOUBLE) / 1e6 AS line_total,
        |  CAST(sum(gap) AS DOUBLE) / 1e6 AS net_gap,
        |  CAST(sum(abs(gap)) AS DOUBLE) / 1e6 AS abs_gap
        |FROM g GROUP BY bucket ORDER BY bucket ASC""".stripMargin,
    "dq_dup_keys" ->
      """SELECT key, n_rows, n_keys, n_rows - n_keys AS dup_rows,
        |  round((n_rows - n_keys) / CAST(n_rows AS DOUBLE), 6) AS dup_rate
        |FROM (
        |  SELECT 'customer.c_custkey' AS key, count(*) AS n_rows,
        |    count(DISTINCT c_custkey) AS n_keys FROM customer
        |  UNION ALL
        |  SELECT 'orders.o_orderkey', count(*),
        |    count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'part.p_partkey', count(*),
        |    count(DISTINCT p_partkey) FROM part
        |  UNION ALL
        |  SELECT 'supplier.s_suppkey', count(*),
        |    count(DISTINCT s_suppkey) FROM supplier
        |  UNION ALL
        |  SELECT 'lineitem.(l_orderkey,l_linenumber)', count(*),
        |    count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) t
        |ORDER BY key ASC""".stripMargin,
    "dq_orphans" ->
      """WITH edges AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS edge, count(*) AS child_rows,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS orphans
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', count(*),
        |    CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', count(*),
        |    CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', count(*),
        |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation', count(*),
        |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation', count(*),
        |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', count(*),
        |    CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey)
        |SELECT edge, child_rows, orphans,
        |  round(orphans / CAST(child_rows AS DOUBLE), 6) AS orphan_rate
        |FROM edges ORDER BY edge ASC""".stripMargin,
    "dq_freshness" ->
      """WITH wm AS (SELECT max(ts) AS wm FROM events)
        |SELECT event_type, count(*) AS n, max(ts) AS last_ts,
        |  epoch_us((SELECT wm FROM wm)) - epoch_us(max(ts)) AS lag_us,
        |  CAST(sum(CASE WHEN epoch_us(ts) >=
        |    epoch_us((SELECT wm FROM wm)) - 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_last24h
        |FROM events
        |GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "dq_corr_matrix" ->
      """SELECT col_a, col_b, r FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    round(corr(l_quantity, l_extendedprice), 5) AS r FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_discount',
        |    round(corr(l_quantity, l_discount), 5) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax',
        |    round(corr(l_quantity, l_tax), 5) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_discount',
        |    round(corr(l_extendedprice, l_discount), 5) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax',
        |    round(corr(l_extendedprice, l_tax), 5) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax',
        |    round(corr(l_discount, l_tax), 5) FROM lineitem)
        |ORDER BY col_a ASC, col_b ASC""".stripMargin,
    "dq_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st_a, o_totalprice AS tp_a
        |  FROM orders),
        |b AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END AS st_b,
        |    o_totalprice AS tp_b
        |  FROM orders WHERE o_orderkey % 101 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000000 AS k, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 103 = 0),
        |j AS (
        |  SELECT COALESCE(a.k, b.k) AS k, a.st_a, b.st_b, a.tp_a, b.tp_b
        |  FROM a FULL OUTER JOIN b ON a.k = b.k),
        |c AS (
        |  SELECT k,
        |    CASE WHEN st_a IS NULL THEN 'added'
        |         WHEN st_b IS NULL THEN 'removed'
        |         WHEN st_a <> st_b OR tp_a <> tp_b THEN 'changed'
        |         ELSE 'unchanged' END AS class
        |  FROM j)
        |SELECT class, count(*) AS n, min(k) AS min_key, max(k) AS max_key
        |FROM c GROUP BY class ORDER BY class ASC""".stripMargin,
    "dq_benford" ->
      """WITH d AS (
        |  SELECT digit FROM (
        |    SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |    FROM orders)
        |  WHERE digit BETWEEN 1 AND 9),
        |t AS (SELECT count(*) AS tot FROM d),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |p AS (
        |  SELECT digit, n,
        |    round(CAST(n AS DOUBLE) / tot, 6) AS obs_p,
        |    round(log10(1.0 + 1.0 / digit), 6) AS exp_p, tot
        |  FROM c, t)
        |SELECT digit, n, obs_p, exp_p,
        |  round(tot * pow(obs_p - exp_p, 2.0) / exp_p, 4) AS chi2_term
        |FROM p ORDER BY digit ASC""".stripMargin,
    "dq_drift_ks" ->
      """WITH o AS (
        |  SELECT CAST(floor(o_totalprice / 5000.0) AS INT) AS bin,
        |    (o_orderpriority = '1-URGENT') AS g
        |  FROM orders),
        |b AS (
        |  SELECT bin,
        |    count(*) FILTER (g) AS n1,
        |    count(*) FILTER (NOT g) AS n2
        |  FROM o GROUP BY bin),
        |t AS (
        |  SELECT count(*) FILTER (g) AS t1, count(*) FILTER (NOT g) AS t2 FROM o),
        |c AS (
        |  SELECT bin,
        |    sum(n1) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    sum(n2) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
        |  FROM b),
        |g AS (
        |  SELECT bin, round(abs(CAST(c1 AS DOUBLE) / t1 - CAST(c2 AS DOUBLE) / t2), 6) AS gap, t1, t2
        |  FROM c, t),
        |r AS (
        |  SELECT gap AS d_stat, bin AS at_bin, t1 AS n_urgent, t2 AS n_other,
        |    row_number() OVER (ORDER BY gap DESC, bin ASC) AS rn
        |  FROM g)
        |SELECT d_stat, at_bin, n_urgent, n_other FROM r WHERE rn = 1""".stripMargin,
    "dq_fd_check" ->
      """WITH p1 AS (
        |  SELECT 'o_orderkey -> o_custkey' AS fd, o_orderkey AS xv, o_custkey AS yv, count(*) AS n
        |  FROM orders GROUP BY xv, yv),
        |p2 AS (
        |  SELECT 'o_custkey -> o_orderpriority' AS fd, o_custkey AS xv, o_orderpriority AS yv, count(*) AS n
        |  FROM orders GROUP BY xv, yv),
        |p3 AS (
        |  SELECT 'o_orderdate -> o_orderpriority' AS fd,
        |    CAST(epoch_us(o_orderdate) AS VARCHAR) AS xv, o_orderpriority AS yv, count(*) AS n
        |  FROM orders GROUP BY xv, yv),
        |g AS (
        |  SELECT fd, xv, CAST(sum(n) AS BIGINT) AS rows_x, max(n) AS maj, count(*) AS ndist_y
        |  FROM (SELECT fd, CAST(xv AS VARCHAR) AS xv, yv, n FROM p1
        |        UNION ALL SELECT fd, CAST(xv AS VARCHAR), yv, n FROM p2
        |        UNION ALL SELECT * FROM p3)
        |  GROUP BY fd, xv)
        |SELECT fd, count(*) AS lhs_groups,
        |  count(*) FILTER (ndist_y > 1) AS violating_groups,
        |  CAST(sum(rows_x) AS BIGINT) AS rows,
        |  CAST(sum(rows_x) - sum(maj) AS BIGINT) AS g3_rows_to_delete,
        |  CAST(max(ndist_y) = 1 AS INT) AS holds
        |FROM g GROUP BY fd ORDER BY fd ASC""".stripMargin,
    "dq_profile" ->
      """SELECT 'o_orderkey' AS col, count(*) AS n, count(o_orderkey) AS nonnull,
        |  count(DISTINCT o_orderkey) AS ndist,
        |  round(CAST(min(o_orderkey) AS DOUBLE), 2) AS mn,
        |  round(CAST(max(o_orderkey) AS DOUBLE), 2) AS mx,
        |  round(avg(o_orderkey), 4) AS mean
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
        |  round(CAST(min(o_custkey) AS DOUBLE), 2), round(CAST(max(o_custkey) AS DOUBLE), 2),
        |  round(avg(o_custkey), 4)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice), count(DISTINCT o_totalprice),
        |  round(min(o_totalprice), 2), round(max(o_totalprice), 2),
        |  round(avg(o_totalprice), 4)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
        |  NULL, NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
        |  NULL, NULL, NULL
        |FROM orders
        |ORDER BY col ASC""".stripMargin,
    "cdc_apply" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type AS op_type, count(*) AS users,
        |  round(sum(value), 2) AS val_sum,
        |  event_type <> 'error' AS survives
        |FROM ranked WHERE rn = 1
        |GROUP BY event_type ORDER BY op_type ASC""".stripMargin,
    "dq_checks" ->
      """SELECT count(*) AS rows, count(o_custkey) AS custkey_nonnull,
        | count(DISTINCT o_orderkey) AS distinct_keys,
        | count(*) - count(DISTINCT o_orderkey) AS dup_keys,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price,
        | count(*) FILTER (WHERE o_totalprice <= 0) AS nonpositive_price,
        | count(*) FILTER (WHERE o_orderdate > TIMESTAMP '1999-01-01') AS future_dates
        |FROM orders""".stripMargin,
    "join_scd2" ->
      """WITH dim AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
        |  FROM orders)
        |SELECT e.event_id, d.o_orderkey AS scd_orderkey,
        |  round(d.o_totalprice, 2) AS price_at_ts
        |FROM events e JOIN dim d
        |  ON e.user_id = d.o_custkey AND d.o_orderdate <= e.ts
        | AND (d.valid_to IS NULL OR e.ts < d.valid_to)
        |ORDER BY e.event_id ASC""".stripMargin)
}
