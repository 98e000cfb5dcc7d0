package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.D — aggregation operators.
  *
  * Scale notes (SURVEY §4.4): every query here is a hash aggregate with
  * map-side partial aggregation (`HashAggregateExec` partial+final), so the
  * shuffle carries one row per (partition, group), not per input row — the
  * pattern that survives 100 TB. `countDistinct` expands to the standard
  * two-phase distinct; `approx_count_distinct` is the HLL scale path.
  * Determinism: every result ends in a total ORDER BY and rounds doubles
  * (SURVEY §2.Z).
  */
object Aggregates {

  /** TPC-H q1 pricing summary — the flagship query (`SparkEntry.entry`).
    * Fixture `l_shipdate` is a timestamp, not DATE (FIXTURES.md). */
  def aggGroupby(spark: SparkSession, dir: String): DataFrame = {
    val disc   = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(disc), 2).as("sum_disc_price"),
        round(sum(charge), 2).as("sum_charge"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_extendedprice"), 6).as("avg_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def aggGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_price"),
      round(avg("l_extendedprice"), 6).as("avg_price"),
      round(min("l_extendedprice"), 2).as("min_price"),
      round(max("l_extendedprice"), 2).as("max_price"),
      count(lit(1)).as("n"))

  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Mergeable-sketch ROLLUP — the property that makes sketches matter at
    * 100 TB: per-(type, day) HLL sketches are built once (a materialized
    * daily cube in a real deployment), then re-aggregated to per-type
    * distinct-user estimates by UNIONING SKETCHES, never re-touching the
    * event rows. `approx_count_distinct` alone can't do this (its result
    * is a number, not a mergeable state); the Datasketches HLL column is
    * the re-aggregatable form. No-oracle (sketch layout engine-specific);
    * OperatorSemantics2Spec bounds the union estimate against the exact
    * distinct within 5%. */
  def aggHllUnion(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    daily
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .orderBy(col("event_type").asc)
  }

  /** HLL sketch distinct — no-oracle (Spark's HLL ≠ DuckDB's); unit-tested
    * against exact counts within the 5% rsd instead (SURVEY §2.Z.7). */
  def aggApproxHll(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
      .orderBy("event_type")

  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  def aggHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("spend"))
      .filter(col("n") >= 12)
      .orderBy("o_custkey")

  def aggFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(when(col("l_quantity") > 25, lit(1))).as("hi_qty_cnt"),
        round(sum(when(col("l_discount") > 0.05, col("l_extendedprice"))), 2).as("disc_rev"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Per-group sorted list — sorted ⇒ deterministic (SURVEY §2.D).
    * Emitted as a comma-joined string: the driver's comparator hashes
    * cell values and cannot factorize raw array cells (round-1 driver
    * failure — numpy.ndarray is unhashable in pandas). Same information,
    * hashable schema. */
  def aggCollect(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(concat_ws(",", sort_array(collect_list("o_orderpriority"))).as("prios"))
      .orderBy("o_custkey")

  /** Arg-max with a (value, key) struct tie-break — mandatory for
    * determinism (SURVEY §2.Z.6). */
  def aggMinmaxBy(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
        round(max("o_totalprice"), 2).as("top_price"))
      .orderBy("o_custkey")

  /** KMV sketch distinct (custom TypedImperativeAggregate,
    * graft.functions.KmvDistinct) — no-oracle like the HLL op; exact below
    * k=256 distinct values, mergeable across partitions/jobs (the 100 TB
    * sketch story). Unit-tested for exactness, accuracy, and merge
    * invariance. */
  def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(graft.functions.sim.kmvDistinct(col("user_id")).as("kmv_users"))
      .orderBy(col("event_type").asc)

  /** Theta/KMV sketch UNION across sources (round-12 addendum, VERDICT
    * r11 "what's missing" #1 / task 2; design PLANS.md:1567-1585) — the
    * mergeable-distinct algebra a 100 TB daily cube ships: each source
    * builds a KMV state (k smallest distinct text hashes, a ≤2 KB array
    * column — functions.KmvState) in ONE corpus pass, and the
    * cross-source union is pure COLUMN ALGEBRA over those states —
    * `slice(array_sort(array_distinct(flatten(collect_list(state)))), 1, k)`
    * — no UDF, no corpus re-scan, executable by any engine that can read
    * the sketch table. By the KMV merge property the unioned state is
    * BIT-equal to the state a direct corpus-wide sketch builds (every
    * global k-smallest hash is inside its own source's k-smallest), so
    * re-aggregation loses nothing — ThetaUnionSpec pins state equality,
    * merge commutativity at buffer level, and partition invariance.
    *
    * Output: one row per source plus the `__union__` row, each with the
    * sketch estimate, an EXACT countDistinct audit column (per-source
    * audits ride the same one-pass agg; the union row's global audit is
    * the one deliberately-extra scan a production run would drop), and
    * the sketch size. No-oracle (estimates live in the xxhash64 space);
    * spec-bounded instead: |est − exact| ≤ 15% at k=256 (observed ≲2%),
    * exact below k.
    *
    * perSource is MATERIALIZED once (a 5-row file) before its two
    * consumers (ADVICE r12): the grouped sketch+countDistinct subtree is
    * referenced by both the per-source rows and the union row's
    * re-aggregation, and the physical plan showed NO exchange reuse —
    * the corpus was scanned and sketch-aggregated twice. One small write
    * job now pins the one-pass claim structurally (verified: 3 parquet
    * scans → 1 corpus agg + 1 audit scan after the change). */
  def aggThetaUnion(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val big = 1.8446744073709552e19 // 2^64 as double, KmvDistinct.eval's constant
    // mirrors KmvDistinct.eval on a state array: size<k ⇒ exact size,
    // else round((k−1) / (unsigned(kth)/2^64)) with unsigned(kth)
    // reconstructed from the sign-flipped stored form
    def estOf(state: Column): Column = {
      val raw = element_at(state, k).bitwiseXOR(lit(Long.MinValue))
      val u = when(raw >= 0, raw.cast("double")).otherwise(raw.cast("double") + big)
      when(size(state) < k, size(state).cast("long"))
        .otherwise(round(lit((k - 1).toDouble) / (u / big)).cast("long"))
    }
    val docs = Tables.documents(spark, dir)
    val perSource = MemoFrames.materialize(spark, "theta_persource",
      docs.groupBy("source")
        .agg(graft.functions.sim.kmvState(col("text"), k).as("state"),
          countDistinct(col("text")).as("exact_distinct")))
    val union = perSource
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("state"))))),
        1, k).as("state"))
      .crossJoin(broadcast(docs.agg(countDistinct(col("text")).as("exact_distinct"))))
      .select(lit("__union__").as("source"), col("state"), col("exact_distinct"))
    perSource.select(col("source"), col("state"), col("exact_distinct"))
      .unionAll(union)
      .select(col("source"), estOf(col("state")).as("est_distinct"),
        col("exact_distinct"), size(col("state")).as("sketch_size"))
      .orderBy(col("source").asc)
  }

  /** DDSketch quantile-state UNION across sources (round-13 addendum,
    * VERDICT r12 task 4 / "what's missing" #1) — the quantile twin of
    * [[aggThetaUnion]]: the 100 TB daily cube needs RE-AGGREGATABLE
    * percentiles (per-source/per-day sketch states merged across the
    * cube), which exact `percentile` cannot provide (it needs the raw
    * data) and approx_percentile's GK buffer exposes no state column.
    * Each source builds a DDSketch state (functions.DdSketchState — a
    * bucket→count map<int,bigint>, relative error α = 1%) in ONE corpus
    * pass; the cross-source union is pure COLUMN ALGEBRA over those
    * states — `aggregate(collect_list(state), map(), map_zip_with +)` —
    * integer vector addition, executable by any engine reading the sketch
    * table, no corpus re-scan. Because bucket counts add exactly, the
    * unioned state is IDENTICAL (as a map) to the state a direct
    * corpus-wide sketch builds — QuantileUnionSpec pins that, plus merge
    * commutativity, partition invariance, and the α error bound.
    *
    * Output: one row per source plus `__union__`, each with p50/p95
    * sketch estimates next to EXACT percentile_disc audit columns (the
    * estimator's rank convention — smallest value with cumulative count
    * ≥ ⌈q·N⌉ — is percentile_disc's, so the audit is apples-to-apples;
    * the union row's global audit is the one deliberately-extra scan a
    * production run would drop, same as aggThetaUnion's). No-oracle
    * (bucket geometry is sketch-specific); spec-bounded instead:
    * |est − exact| ≤ α·exact at α = 1% (observed ≲1%).
    *
    * Per-source states are MATERIALIZED once (5-row file) before the
    * two consuming branches — the ADVICE r12 theta lesson applied from
    * birth: referencing the grouped-agg frame from both the per-source
    * rows and the union row would otherwise plan the corpus aggregation
    * subtree twice unless exchange reuse happens to fire. */
  def aggQuantileUnion(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.01
    val gamma = (1 + alpha) / (1 - alpha)
    // DDSketch bucket representative: geometric midpoint 2γ^i/(γ+1);
    // reserved bucket Int.MinValue (non-positive inputs) reads back 0.
    def estOf(state: Column, q: Double): Column = {
      val entries = array_sort(map_entries(state))
      val n = aggregate(entries, lit(0L), (a, e) => a + e("value"))
      val rank = greatest(lit(1L), ceil(lit(q) * n).cast("long"))
      val sel = aggregate(entries,
        struct(lit(0L).as("cum"), lit(null).cast("int").as("idx")),
        (acc, e) => struct((acc("cum") + e("value")).as("cum"),
          coalesce(acc("idx"),
            when(acc("cum") + e("value") >= rank, e("key"))).as("idx")))
      when(sel("idx") === Int.MinValue, lit(0.0))
        .otherwise(round(lit(2.0) * pow(lit(gamma), sel("idx")) / (gamma + 1), 4))
    }
    val docs = Tables.documents(spark, dir)
    val perSource = MemoFrames.materialize(spark, "qsketch_persource",
      docs.groupBy("source").agg(
        graft.functions.sim.ddsketchState(col("n_chars"), alpha).as("state"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("double").as("exact_p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
          .cast("double").as("exact_p95"),
        count(lit(1)).as("n")))
    val emptyMap = map_from_arrays(array().cast("array<int>"), array().cast("array<bigint>"))
    val unionRow = perSource
      .agg(aggregate(collect_list(col("state")), emptyMap,
        (acc, m) => map_zip_with(acc, m,
          (_, v1, v2) => coalesce(v1, lit(0L)) + coalesce(v2, lit(0L)))).as("state"),
        sum(col("n")).as("n"))
      .crossJoin(broadcast(docs.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
          .cast("double").as("exact_p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
          .cast("double").as("exact_p95"))))
      .select(lit("__union__").as("source"), col("state"),
        col("exact_p50"), col("exact_p95"), col("n"))
    perSource.select(col("source"), col("state"),
        col("exact_p50"), col("exact_p95"), col("n"))
      .unionAll(unionRow)
      .select(col("source"),
        estOf(col("state"), 0.5).as("est_p50"), col("exact_p50"),
        estOf(col("state"), 0.95).as("est_p95"), col("exact_p95"),
        col("n"), size(map_entries(col("state"))).as("sketch_buckets"))
      .orderBy(col("source").asc)
  }

  /** Count-Min frequency estimates per lang for a fixed probe vocabulary
    * (the third custom TypedImperativeAggregate next to KMV and
    * SpaceSaving — functions/CountMinSketch.scala): the sketch answers
    * "how often does token X appear" from d×w counters that merge by
    * addition, the fixed-memory frequency path at 100 TB. No-oracle
    * (hash layout is engine-specific); CountMinSpec proves never-
    * undercount, εN overcount, and partition-invariance. */
  def aggCountmin(spark: SparkSession, dir: String): DataFrame = {
    val probes = Seq("the", "data", "key")
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(graft.functions.sim.countMinFreq(col("tok"), probes).as("est"))
      .select(col("lang"), posexplode(col("est")))
      .select(col("lang"), element_at(typedLit(probes), col("pos") + 1).as("tok"),
        col("col").as("est"))
      .orderBy(col("lang").asc, col("tok").asc)
  }

  /** Pearson correlation with the ORACLE's zero-variance convention.
    * Spark 4's native `corr` divides ck by √(m2x·m2y) through an
    * ANSI-checked division, so a zero-variance (or single-row) group
    * THROWS DIVIDE_BY_ZERO mid-job, where DuckDB's corr — and every
    * division in the oracle dialect — yields NULL (round-13 tiny-corpus
    * sweep). covar_samp/stddev_samp return NULL at n=1 themselves, and
    * nullif turns the zero-variance denominator into NULL, so every
    * degenerate shape degrades to NULL exactly like the oracle. The
    * √x·√y vs √(x·y) ulp difference sits far below the 5-6dp rounds
    * every consumer applies (the same absorption argument as the
    * engines' differing corr internals, §2.Z.2). */
  private[graft] def corrSafe(x: Column, y: Column): Column =
    covar_samp(x, y) / nullif(stddev_samp(x) * stddev_samp(y), lit(0.0))

  /** Statistical aggregate family: sample stddev/variance, correlation,
    * covariance. Both engines use numerically-stable one-pass updates;
    * rounding absorbs the accumulation-order ulps (§2.Z.2). */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_extendedprice")), 2).as("var_price"),
        round(corrSafe(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc)

  /** Geometric mean of prices per return flag through the typed
    * `Aggregator` API (functions/GeoMean.scala) — the user-facing custom
    * aggregation surface, completing the extension story next to the
    * three engine-internal TypedImperativeAggregates. Log-domain buffer
    * merges associatively ⇒ map-side partials like any built-in; the
    * oracle is the algebraic identity geomean = exp(avg(ln x)), which the
    * typed implementation must reproduce (4dp absorbs sum-order ulps). */
  def aggTypedGeomean(spark: SparkSession, dir: String): DataFrame = {
    val gm = udaf(graft.functions.GeoMean)
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        // NaN→NULL: the aggregator finishes NaN for a group with no
        // POSITIVE values (log-domain undefined — see GeoMean's skip
        // convention); the oracle's avg-over-none is NULL (round-13
        // negatives sweep)
        round(gm(col("l_extendedprice")), 4).as("gp"),
        round(avg("l_extendedprice"), 4).as("arith_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        when(!isnan(col("gp")), col("gp")).as("geo_price"),
        col("arith_price"), col("n"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Linear-regression aggregate family (regr_*): price-vs-quantity fit
    * per return flag. Same single-pass merged-moment machinery as
    * agg_stats (partial aggregation composes the (n, Σx, Σy, Σxx, Σxy)
    * state map-side — regression over 100 TB is one hash agg, never a
    * solver); both engines implement the SQL-standard definitions, with
    * 4–6dp rounds absorbing accumulation-order ulps. */
  def aggRegression(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
        round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("avgx"),
        round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 4).as("avgy"))
      .orderBy(col("l_returnflag").asc)

  /** Exact interpolated percentiles (SQL `percentile` ↔ DuckDB
    * `quantile_cont` — both linear interpolation). Exact percentiles need
    * a per-group sort; the at-scale variant is `approx_percentile`
    * (t-digest/GK sketch), declared no-oracle like the other sketches if
    * ever needed cross-engine. */
  val aggPercentiles: Tables.Sql = Tables.sql(
      """SELECT o_orderpriority,
        | round(percentile(o_totalprice, 0.25), 6) AS p25,
        | round(percentile(o_totalprice, 0.5), 6) AS p50,
        | round(percentile(o_totalprice, 0.75), 6) AS p75,
        | round(percentile(o_totalprice, 0.95), 6) AS p95,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin)

  /** Approximate percentiles (Greenwald-Khanna sketch, accuracy 1000):
    * the 100 TB percentile path — mergeable partials instead of a
    * per-group sort. No-oracle (sketch internals are engine-specific);
    * unit-tested against the exact `percentile` within tolerance. */
  def aggApproxPctl(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("approx_percentile(o_totalprice, 0.5, 1000)"), 2).as("p50"),
        round(expr("approx_percentile(o_totalprice, 0.95, 1000)"), 2).as("p95"))
      .orderBy(col("o_orderpriority").asc)

  /** Per-group mode (most frequent value) with an explicit deterministic
    * tie-break (highest count, then lexicographically smallest value) —
    * engines' built-in mode() functions have engine-specific tie rules,
    * so both sides spell out the same count+rank formulation. Two hash
    * aggs + a window partitioned by the (high-cardinality) group key. */
  /** Weighted median (round-8 addendum) — the weighted-quantile primitive
    * behind training-data mixture weighting, which no SQL dialect ships
    * as a builtin (percentile_disc/cont are unweighted): per return flag,
    * the smallest l_extendedprice whose CUMULATIVE l_quantity reaches
    * half the flag's total quantity.
    *
    * The running sum is the SHARDED two-phase prefix sum (llm_pack's
    * scan-algorithm pattern, applied here in round 9 after bench
    * evidence): l_extendedprice is NEARLY UNIQUE (583k distinct of 600k
    * rows at sf0.1), so the round-8 "price-vocabulary-sized" claim was
    * wrong on this fixture — the (flag, price) frame IS corpus-sized,
    * and a per-flag running window sorts a third of the corpus in ONE
    * partition (the strategy that dies at 1000×). Prices shard into
    * contiguous buckets (price DIV 1000 — monotone in price, so shard
    * order = price order); per-(flag, shard) totals cumsum into
    * OFFSETS on the shard-grain frame (thousands of rows at any
    * volume), and the within-shard running sum + offset reproduces the
    * global cumulative weight EXACTLY (weights are integral doubles —
    * exact in any grouping). Collapsing equal prices first also makes
    * the tie-break question vanish: price alone fully orders the rows,
    * so the cumulative weight at every row is engine-identical by
    * construction. */
  /** The pre-materialization weight table behind aggWeightedMedian,
    * exposed so PlanSnapshotSpec can fingerprint it separately (ADVICE
    * r9: the materialize — previously a lazy localCheckpoint — truncates
    * the DECLARED plan, hiding the one corpus-scale scan and its
    * pushdown from the plan guards; the spec snapshots this frame as
    * "agg_weighted_median#weights"). */
  private[graft] def weightedMedianWeights(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum("l_quantity").as("wgt"))
      .withColumn("shard", floor(col("l_extendedprice") / 1000).cast("long"))

  /** The post-weights offs/join/window/agg chain, pre-materialization,
    * exposed for PlanSnapshotSpec ("agg_weighted_median#inner" — ADVICE
    * r10: the final materialize truncated this chain out of both plan
    * guards). */
  private[graft] def aggWeightedMedianPlan(spark: SparkSession, dir: String): DataFrame = {
    // Round-17 restructure (guide §1.1 first-principles + §2.4): the r10
    // form materialized the FULL value-grain weight table (583 k rows at
    // sf0.1) to feed a corpus-grain window + merge join. But the median
    // SELECTION only ever needs (a) the DOMAIN-bounded (flag, shard)
    // rollup — ~flags × price-domain/1000 rows at ANY corpus size — and
    // (b) the value rows of the ONE shard per flag that straddles tot/2.
    // So: pass 1 rolls the weight table up to shard grain and COLLECTS it
    // (~300 rows — codebook-class driver state, the kcore-k legitimacy
    // argument; all sums are integral doubles, exact in any order);
    // the driver walks each flag's shards to find the median shard s*,
    // its prefix offset, the flag total, and the value-row count of the
    // shards ABOVE s* (all of whose cumulative weights exceed tot/2 by
    // construction). Pass 2 re-aggregates ONLY the median shards' rows —
    // the shard membership spelled as an explicit PRICE RANGE so the
    // predicate pushes to the parquet scan's row-group stats — and a
    // window over those few hundred rows finishes the selection. The
    // corpus-grain materialize/window/join are gone; what remains
    // corpus-scale is the two aggregating scans. Row-for-row equal to
    // the r10 plan: rows below s* have cum ≤ off < tot/2, rows above
    // have cum ≥ off + stot(s*) ≥ tot/2, and within s* the running sum
    // plus off reproduces the global cum exactly (integral weights).
    val wmw = weightedMedianWeights(spark, dir)
      .groupBy("l_returnflag", "shard")
      .agg(sum("wgt").as("stot"), count(lit(1)).as("np"))
    val shardStats = MemoFrames.noAqe(spark)(
      MemoFrames.withShufflePartitions(spark,
        MemoFrames.scaleParts(spark, wmw, 1.0))(wmw.collect())).toSeq
    if (shardStats.isEmpty) {
      // degenerate input: the median of nothing is no rows (same as r10)
      import org.apache.spark.sql.types._
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("l_returnflag", StringType),
          StructField("n_prices_above", LongType, nullable = false),
          StructField("w_median", DoubleType), StructField("total_qty", DoubleType))))
    }
    val sels = shardStats.groupBy(_.getString(0)).toSeq.map { case (flag, rows) =>
      val byShard = rows.sortBy(_.getLong(1))
      val tot = byShard.map(_.getDouble(2)).sum
      var cum = 0.0; var off = 0.0; var sStar = byShard.head.getLong(1)
      var found = false; var npLater = 0L
      byShard.foreach { r =>
        if (!found) {
          if (cum + r.getDouble(2) >= tot / 2) { sStar = r.getLong(1); off = cum; found = true }
          else cum += r.getDouble(2)
        } else npLater += r.getLong(3)
      }
      (flag, sStar, off, tot, npLater)
    }
    val session = spark
    import session.implicits._
    val selDf = sels.toDF("l_returnflag", "sel_shard", "off", "tot", "np_later")
    val pred = sels.map { case (flag, s, _, _, _) =>
      col("l_returnflag") === flag &&
        col("l_extendedprice") >= lit(s * 1000.0) &&
        col("l_extendedprice") < lit((s + 1) * 1000.0)
    }.reduce(_ || _)
    val wShard = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(pred)
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum("l_quantity").as("wgt"))
      .join(broadcast(selDf), "l_returnflag")
      .withColumn("cumw", sum("wgt").over(wShard) + col("off"))
      .groupBy(col("l_returnflag"))
      .agg((count(when(col("cumw") >= col("tot") / 2, lit(1))) +
          max("np_later")).as("n_prices_above"),
        round(min(when(col("cumw") >= col("tot") / 2, col("l_extendedprice"))), 2)
          .as("w_median"),
        round(max("tot"), 2).as("total_qty"))
  }

  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame =
    // flag-grain result (3 rows, bounded at any corpus size): the pruned
    // pass-2 agg/window chain collapses into one AQE-off write job —
    // under AQE its exchanges each scheduled a stage job
    MemoFrames.materialize(spark, "wmed_out", aggWeightedMedianPlan(spark, dir))
      .orderBy(col("l_returnflag").asc)

  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .groupBy("o_custkey", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("mode_prio"), col("cnt"))
      .orderBy(col("o_custkey").asc)
  }

  /** SpaceSaving heavy-hitters top-10 over document tokens
    * (graft.functions.TopKSketch — the engine's second custom
    * TypedImperativeAggregate). The fixture vocabulary (~30 words) is
    * below the sketch's 64-counter capacity, so counts are EXACT and the
    * oracle is the plain top-10; the bounded-capacity sketch regime is
    * unit-tested on a synthetic skewed stream (TopKSketchSpec). */
  def aggTopkSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.functions.sim.topkSketch(col("tok")).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "e")))
      .select((col("i") + 1).cast("bigint").as("rnk"),
        col("e.term").as("tok"), col("e.cnt").as("n"))
      .orderBy(col("rnk").asc)

  /** Boolean aggregate family: count_if / every (bool_and) / any
    * (bool_or) — the predicate-summary aggregates; all partial+final
    * mergeable like any hash agg. */
  def aggBool(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("count_if(l_quantity > 25)").as("hi_qty"),
        expr("every(l_quantity > 0)").as("all_positive"),
        expr("any(l_discount > 0.09)").as("has_deep_disc"),
        expr("every(l_discount > 0.03)").as("all_mid_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc)

  /** Grouped higher central moments — skewness and excess kurtosis of
    * l_extendedprice per (l_returnflag, l_linestatus) — as an explicit
    * TWO-PASS central-sum plan rather than the engines' native
    * `skewness`/`kurtosis` aggregates. The one-pass raw-moment form both
    * built-ins use subtracts near-equal 4th-power sums (~1e21 at this
    * value scale), so the partition-order ulp noise of a distributed sum
    * is amplified past anything oracle rounding could absorb (and the
    * two engines' bias corrections differ anyway). Pass 1 fixes each
    * group's mean ROUNDED to 2dp — exact and engine-portable; pass 2
    * sums powers of the residual (x − mu): centered terms cancel no
    * leading digits, so the cross-engine error stays ~n·ε relative and
    * 4dp rounding hash-matches DuckDB running the identical SQL.
    *
    * Shape: two corpus-scale hash aggs (both partial+final) bridged by a
    * broadcast of the group-cardinality means — the standard pattern for
    * any "statistic of a pre-computed center" at 100 TB (z-scores,
    * winsorized means, …). Skew of near-symmetric data rounds toward
    * zero, so both rounded moments get `+ 0.0` (§2.Z.8b sign-bit rule). */
  def aggMoments(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val mu = li.groupBy("l_returnflag", "l_linestatus")
      .agg(round(avg("l_extendedprice"), 2).as("mu"))
    li.join(broadcast(mu), Seq("l_returnflag", "l_linestatus"))
      .withColumn("d", col("l_extendedprice") - col("mu"))
      .groupBy("l_returnflag", "l_linestatus", "mu")
      .agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).as("s2"),
        sum(col("d") * col("d") * col("d")).as("s3"),
        sum(col("d") * col("d") * col("d") * col("d")).as("s4"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"), col("mu"),
        // nullif: an all-equal group has s2 = 0, and the moments are
        // undefined — NULL like the oracle's /0, never an ANSI error
        // (round-13 tiny-corpus sweep)
        (round((col("s3") / col("n")) / nullif(pow(col("s2") / col("n"), 1.5), lit(0.0)), 4) + 0.0).as("skew"),
        (round((col("s4") / col("n")) / nullif(pow(col("s2") / col("n"), 2.0), lit(0.0)) - 3.0, 4) + 0.0).as("ex_kurt"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  /** Gini concentration coefficient (round-8 addendum) — how unequally
    * revenue concentrates across a nation's customers; the standard
    * inequality metric revenue/abuse dashboards track per segment.
    * Computed by the rank formula G = 2·Σᵢ i·xᵢ / (n·Σxᵢ) − (n+1)/n
    * over revenues ranked ascending — ranks are `row_number` with the
    * unique custkey tie-break (§2.Z.6), so equal revenues order
    * deterministically in both engines (with ties this is the standard
    * resolution; any consistent tie order yields the same G because
    * tied values swap between equal coefficients... and identical order
    * means identical sums anyway).
    *
    * Scale shape: the corpus pass is the per-customer revenue hash agg
    * (orders collapse to customer grain before anything else); the
    * nation tag joins BROADCAST; the rank window partitions by nation
    * over the CUSTOMER-grain frame — per-key sorted spread, no global
    * sort. Revenues are 2dp-rounded before ranking so both engines
    * rank identical values; the two Σ run in one hash agg. */
  def aggGini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(round(sum("o_totalprice"), 2).as("rev"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey"), col("rev"))
    val w = Window.partitionBy("n_name").orderBy(col("rev").asc, col("o_custkey").asc)
    rev.withColumn("i", row_number().over(w))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        round(sum("rev"), 2).as("total_rev"),
        sum(col("i") * col("rev")).as("s_iw"))
      .select(col("n_name"), col("n_cust"), col("total_rev"),
        (round(lit(2.0) * col("s_iw") / (col("n_cust") * col("total_rev"))
          - (col("n_cust") + lit(1.0)) / col("n_cust"), 6) + 0.0).as("gini"))
      .orderBy(col("n_name").asc)
  }

  /** Welch's two-sample t-test (round-8 addendum) — the unequal-variance
    * mean-comparison every A/B readout runs: URGENT orders' totalprice
    * vs all others, reporting t and the Welch–Satterthwaite degrees of
    * freedom. Same two-pass central-sum discipline as agg_moments (the
    * broadcast 2dp-rounded group means make the residual sums
    * cancellation-free, so cross-engine ulp noise stays ~n·ε); variances
    * use the n−1 sample convention explicitly — never the engines'
    * var_samp, whose internal one-pass update orders differ. The
    * two-group frame pivots to one row via conditional max aggregates.
    * Shape: two corpus passes (group stats) + a 2-row pivot — nothing
    * scales with data but the two hash aggs. */
  def aggTtest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select((col("o_orderpriority") === "1-URGENT").as("g"), col("o_totalprice"))
    val mu = o.groupBy("g").agg(round(avg("o_totalprice"), 2).as("mu"))
    val st = o.join(broadcast(mu), "g")
      .withColumn("d", col("o_totalprice") - col("mu"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), max("mu").as("mu_g"),
        sum(col("d") * col("d")).as("ss"))
      .select(col("g"), col("n"), col("mu_g"),
        // nullif: a single-row group has no sample variance — NULL like
        // the oracle's /0 (round-13 tiny sweep, latent sibling of the
        // flagged stats)
        (col("ss") / nullif(col("n") - 1, lit(0L))).as("s2"))
    st.agg(
      max(when(col("g"), col("n"))).as("n1"),
      max(when(!col("g"), col("n"))).as("n2"),
      max(when(col("g"), col("mu_g"))).as("mu1"),
      max(when(!col("g"), col("mu_g"))).as("mu2"),
      max(when(col("g"), col("s2"))).as("s21"),
      max(when(!col("g"), col("s2"))).as("s22"))
      .select(col("n1"), col("n2"),
        round(col("mu1") - col("mu2"), 2).as("mean_diff"),
        // nullif: zero pooled variance (all-equal samples) makes t and
        // the Welch dof undefined — NULL like the oracle (round-13 tiny
        // sweep, latent sibling; n=1 groups already go NULL through s2)
        (round((col("mu1") - col("mu2"))
          / nullif(sqrt(col("s21") / col("n1") + col("s22") / col("n2")), lit(0.0)), 4) + 0.0).as("t_stat"),
        round(pow(col("s21") / col("n1") + col("s22") / col("n2"), 2.0)
          / nullif(pow(col("s21") / col("n1"), 2.0) / (col("n1") - 1)
            + pow(col("s22") / col("n2"), 2.0) / (col("n2") - 1), lit(0.0)), 2).as("dof"))
  }

  /** χ² test of independence (round-8 addendum) — is order priority
    * independent of order status? The contingency-table screen behind
    * every "does segment X behave differently" question. Expected cell
    * counts e = rowTot·colTot/N divide exact integers, so (o−e)²/e is
    * deterministic arithmetic on identical inputs; the per-cell
    * contribution is the output grain (the global χ² is its sum — kept
    * per-cell so the oracle sees the full table and a reader sees WHICH
    * cell deviates). One corpus hash agg to the 15-cell frame; margins
    * re-aggregate from the cells (never a second corpus pass) and join
    * back broadcast. */
  /** Mutual information between two categorical columns (round-9 wave
    * 13) — I(segment; nation) over customers, with both marginal
    * entropies and the normalized MI = I/min(H_X, H_Y): the model-free
    * association measure feature selection ranks candidate columns by
    * (agg_chisq TESTS independence on its contingency table; MI
    * QUANTIFIES the dependence in nats, comparable across pairs).
    *
    * Everything derives from ONE cell frame (segment × nation counts)
    * via three window marginals; every ln argument is a ratio of exact
    * int64 products (n_xy·n ≤ ~2e10 — exact), entropies come from the
    * same cells (H(X) = −Σ_cells (n_xy/n)·ln(n_x/n) — the cell-grain
    * identity, no second pass), and the ≤|X|·|Y|-term sums round at
    * 6dp (the llm_source_kl precedent). Scale: one corpus hash agg;
    * the windows and final agg run on the vocabulary²-sized frame. */
  def aggMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("x"), col("c_nationkey").as("y"))
      .agg(count(lit(1)).as("nxy"))
    val wx = Window.partitionBy("x")
    val wy = Window.partitionBy("y")
    val wAll = Window.partitionBy()
    val e = cells
      .withColumn("nx", sum("nxy").over(wx))
      .withColumn("ny", sum("nxy").over(wy))
      .withColumn("n", sum("nxy").over(wAll))
    val p = col("nxy") / col("n").cast("double")
    // + 0.0 normalizes the zero sign (§2.Z.8b): a single-cell table has
    // exactly-zero entropies whose sign bit differs between the engines'
    // negate-of-sum orders (round-13 tiny sweep: oracle −0.0 vs 0.0)
    e.agg(
        max(col("n")).as("n_rows"),
        count(lit(1)).as("cells"),
        (round(sum(p * log((col("nxy") * col("n")) /
          (col("nx") * col("ny")).cast("double"))), 6) + 0.0).as("mi"),
        (round(-sum(p * log(col("nx") / col("n").cast("double"))), 6) + 0.0).as("h_x"),
        (round(-sum(p * log(col("ny") / col("n").cast("double"))), 6) + 0.0).as("h_y"))
      // nullif: a single-cell table has zero marginal entropy and NMI is
      // undefined — NULL like the oracle's /0 (round-13 tiny sweep)
      .withColumn("nmi", round(col("mi") / nullif(least(col("h_x"), col("h_y")), lit(0.0)), 6))
  }

  /** Cramér's V effect-size panel (round-9 wave 18) — the 1-row
    * summary agg_chisq deliberately is not: χ² TESTS independence but
    * grows with n (any big table "significantly" rejects); V =
    * √(χ²/(n·min(r−1,c−1))) is the [0,1] association STRENGTH a
    * report actually compares across tables, shipped with φ² and
    * Pearson's contingency coefficient for the classical panel.
    * Same cells frame as agg_chisq (priority × status over orders);
    * expected counts are exact-int ratios, the 15-term χ² sum rounds
    * at 4dp (absorbing summation order), and every derived statistic
    * is computed FROM the rounded χ² in both engines (the agg_mutual_info
    * rounded-numerator precedent, §2.Z). One corpus hash agg; margins
    * re-aggregate from the 15 cells — never a second pass. */
  def aggCramersV(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("nxy"))
    val wr = Window.partitionBy("prio")
    val wc = Window.partitionBy("status")
    val wAll = Window.partitionBy()
    val e = cells
      .withColumn("rt", sum("nxy").over(wr))
      .withColumn("ct", sum("nxy").over(wc))
      .withColumn("n", sum("nxy").over(wAll))
      .withColumn("exp", col("rt").cast("double") * col("ct") / col("n"))
    val base = e.agg(
      max(col("n")).as("n"),
      countDistinct("prio").as("r"),
      countDistinct("status").as("c"),
      round(sum((col("nxy") - col("exp")) * (col("nxy") - col("exp"))
        / col("exp")), 4).as("chi2"))
    base.select(col("n"), col("r"), col("c"), col("chi2"),
      round(col("chi2") / col("n"), 6).as("phi2"),
      // nullif: a 1×k table has min(r−1, c−1) = 0 and V is undefined —
      // NULL like the oracle (round-13 tiny sweep, latent sibling)
      round(sqrt(col("chi2")
        / nullif((col("n") * least(col("r") - 1, col("c") - 1)).cast("double"), lit(0.0))), 6)
        .as("cramers_v"),
      round(sqrt(col("chi2") / (col("chi2") + col("n"))), 6).as("contingency_c"))
  }

  def aggChisq(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"), col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("prio").agg(sum("n").as("rt"))
    val colT = cells.groupBy("status").agg(sum("n").as("ct"))
    val tot = cells.agg(sum("n").as("tot"))
    cells
      .join(broadcast(rowT), "prio")
      .join(broadcast(colT), "status")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("tot"))
      .select(col("prio"), col("status"), col("n"),
        round(col("e"), 4).as("expected"),
        round((col("n") - col("e")) * (col("n") - col("e")) / col("e"), 4).as("chi2_term"))
      .orderBy(col("prio").asc, col("status").asc)
  }

  /** Mann–Whitney U rank-sum test (round-8 addendum) — the
    * nonparametric complement of agg_ttest (no normality assumption;
    * the right test when agg_moments reports heavy tails): URGENT
    * totalprice vs rest via average ranks, tie-corrected normal
    * approximation. Ranks are computed WITHOUT a global sort — the
    * corpus collapses to the value grain, then a TWO-LEVEL prefix sum:
    * within-BIN running counts (windows partitioned by a coarse
    * 5000-unit bin — parallel, small frames) plus bin-offset cumsum
    * over the ~100-row bin frame, so `rank-before = bin offset +
    * within-bin prefix` with no single-partition value-grain window
    * (the distributed ranking idiom sec_sort_path uses with partition
    * offsets, here expressed purely declaratively).
    *
    * Every sum is EXACT in double (average ranks are half-integers,
    * counts integers — no rounding before the final z), so both
    * engines produce bit-identical R₁/U₁ regardless of partitioning,
    * and the 4dp z cannot diverge. */
  def aggMannwhitney(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select((col("o_orderpriority") === "1-URGENT").as("g"),
        round(col("o_totalprice"), 2).as("v"))
    val vals = o.groupBy("v")
      .agg(count(when(col("g"), 1)).as("c1"),
        count(when(!col("g"), 1)).as("c2"))
      .withColumn("cnt", col("c1") + col("c2"))
      .withColumn("bin", floor(col("v") / 5000.0).cast("long"))
    val wBin = Window.partitionBy("bin").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val binTot = vals.groupBy("bin").agg(sum("cnt").as("btot"))
    val wOff = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = binTot
      .withColumn("off", coalesce(sum("btot").over(wOff), lit(0L)))
      .select("bin", "off")
    vals
      .withColumn("wb", coalesce(sum("cnt").over(wBin), lit(0L)))
      .join(broadcast(offs), "bin")
      .withColumn("avgrank", col("off") + col("wb") + (col("cnt") + lit(1.0)) / 2.0)
      .agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1") * col("avgrank")).as("r1"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie"))
      .select(col("n1"), col("n2"),
        round(col("r1"), 1).as("rank_sum_urgent"),
        round(col("r1") - col("n1") * (col("n1") + 1) / 2.0, 1).as("u1"),
        // nullif both denominators: one-sided samples (n1·n2 = 0) or a
        // single observation make z undefined — NULL like the oracle's
        // /0, never an ANSI error (round-13 tiny sweep)
        (round((col("r1") - col("n1") * (col("n1") + 1) / 2.0
          - col("n1") * col("n2") / 2.0)
          / nullif(sqrt(col("n1") * col("n2") / 12.0
            * ((col("n1") + col("n2") + 1)
              - col("tie") / nullif((col("n1") + col("n2"))
                * (col("n1") + col("n2") - 1.0), lit(0.0)))), lit(0.0)), 4) + 0.0).as("z"))
  }

  /** Winsorized mean (round-9) — per nation over customer balances: the
    * robust location estimate that CLIPS tails at the per-group p5/p95
    * instead of dropping them (dq_outlier_iqr's fence family, applied as
    * a statistic rather than a screen — clipping keeps n constant, so
    * groups stay comparable). Fences are percentile_disc ACTUAL data
    * values (rank-exact both engines, the dq_outlier_iqr argument);
    * balances pre-round at 2dp so the clip compares identical doubles;
    * means round at 4dp. Group-grain disc sort over the customer frame;
    * the 100 TB swap is the approx-percentile sketch with the identical
    * clip step. */
  def aggWinsorized(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nationkey"), round(col("c_acctbal"), 2).as("bal"))
    val fences = cust.groupBy("nationkey").agg(
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY bal)").as("lo"),
      expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY bal)").as("hi"))
    cust.join(broadcast(fences), "nationkey")
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n"),
        round(avg("bal"), 4).as("raw_mean"),
        round(avg(when(col("bal") < col("lo"), col("lo"))
          .when(col("bal") > col("hi"), col("hi"))
          .otherwise(col("bal"))), 4).as("wins_mean"),
        sum(when(col("bal") < col("lo") || col("bal") > col("hi"), 1L)
          .otherwise(0L)).as("n_clipped"))
      .orderBy(col("nationkey").asc)
  }

  /** Pareto concentration curve (round-9 wave 3) — how many top customers
    * carry each revenue share (10/20/50/80/90/95/99/100%): the 80-20
    * report next to agg_gini's single coefficient. Revenue ranks and
    * cumulative sums run in integer CENTS (2dp-rounded revenue × 100 —
    * exact prefix sums in ANY accumulation order, so the threshold
    * comparison can never flip on a summation ulp; the §2.Z fix applied
    * to row MEMBERSHIP, where it matters most). Global rank + running
    * cents come from the TWO-LEVEL prefix-sum idiom
    * (ScaleIdioms.twoLevelRank, round 10): the r9 form's single
    * unpartitioned rank/cumsum window sorted the whole CUSTOMER-grain
    * frame on one task — a frame that grows linearly with the corpus,
    * the hist_eqdepth scale-killer class. Bins are $5000 revenue bands
    * (aligned with the cents-desc order; per-customer revenue is
    * SF-independent so the bin frame is DOMAIN-bounded); only the
    * bin-offset cumsum is unpartitioned. The 8-threshold spine explodes
    * map-side per row — no join. */
  /** The pre-materialization plan behind aggPareto — fingerprinted as
    * "agg_pareto#inner" in PlanSnapshotSpec, since the declared query
    * truncates it behind the result write. */
  private[graft] def aggParetoPlan(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("rev"))
      .select(col("o_custkey"),
        round(col("rev") * 100, 0).cast("long").as("cents"))
    val tot = cust.agg(sum("cents").as("tot"), count(lit(1)).as("n"))
    ScaleIdioms.twoLevelRank(cust,
        bin = floor(col("cents") / 500000L), binAsc = false,
        order = Seq(col("cents").desc, col("o_custkey").asc),
        cumOf = Some(col("cents")), offsJoinHint = "merge")
      .select(col("rn"), col("cum"))
      .crossJoin(broadcast(tot))
      .select(col("rn"), col("n"),
        (col("cum").cast("double") / col("tot")).as("share"),
        explode(typedLit(Seq(10, 20, 50, 80, 90, 95, 99, 100))).as("p"))
      .filter(col("share") >= col("p").cast("double") / 100.0)
      .groupBy("p")
      .agg(min("rn").as("n_cust"),
        round(min("rn") / max("n").cast("double"), 4).as("cust_frac"),
        round(min("share"), 6).as("rev_share"))
  }

  def aggPareto(spark: SparkSession, dir: String): DataFrame =
    // 8-row threshold-grain result: the whole rank/cumsum/spine chain
    // runs in ONE AQE-off write job (under AQE the two-level form's
    // exchanges scheduled ~10 jobs — worse than the single-window form
    // it replaced; this keeps the scalable plan AND the r9 job count)
    MemoFrames.materialize(spark, "pareto_out", aggParetoPlan(spark, dir))
      .orderBy(col("p").asc)

  /** Theil T index (round-9 wave 4) — per-nation revenue inequality as
    * the entropy-based measure beside agg_gini's rank-based one (Theil
    * DECOMPOSES across subgroups, which is why inequality reports carry
    * both): T = (1/n) Σ (x/μ) ln(x/μ) over per-customer revenue.
    * Revenue travels as integer CENTS (agg_pareto's discipline), so
    * μ = tot/n and every x/μ ratio are exact-deterministic doubles in
    * both engines; only the final ln-term summation is order-dependent,
    * absorbed by the 6dp round. Customer-grain hash agg → nation-grain
    * moment join; one corpus pass. */
  def aggTheil(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("nationkey", "o_custkey")
      .agg(round(round(sum("o_totalprice"), 2) * 100, 0).cast("long").as("cents"))
      // Theil is an entropy of income SHARES — undefined for customers
      // with non-positive revenue (ln of a non-positive ratio; Spark's
      // log would NULL-skip where DuckDB's ln ERRORS — round-13
      // negatives sweep). The standard convention excludes them, in
      // both engines, from the moments AND the terms.
      .filter(col("cents") > 0)
    val m = cust.groupBy("nationkey")
      .agg(count(lit(1)).as("n"), sum("cents").as("tot"))
    val mu = col("tot") / col("n").cast("double")
    cust.join(broadcast(m), "nationkey")
      .groupBy("nationkey")
      .agg(max("n").as("n"),
        round(sum((col("cents") / mu) * log(col("cents") / mu)) / max("n"), 6)
          .as("theil_t"))
      .orderBy(col("nationkey").asc)
  }

  /** Spearman rank correlation (round-9 wave 17) — per market segment,
    * between a customer's order COUNT and total SPEND: the monotone-
    * association measure that survives the heavy-tailed spend
    * distribution agg_moments documents (Pearson, agg_regression's
    * slope family, is leverage-dominated there). The whole statistic is
    * EXACT-INTEGER until one final division: ties take average ranks,
    * and 2·avgrank = 2·minrank + ties − 1 is an int64 (rank()/count()
    * windows — deterministic under ties by construction), so the five
    * moment sums Σr, Σr², Σrᵣy are exact and ρ = (nΣxy − ΣxΣy) /
    * (√(nΣxx−Σx²)·√(nΣyy−Σy²)) is bit-identical across engines and
    * partitionings before the 6dp round (IEEE sqrt/divide are
    * correctly rounded). The rank windows run on the CUSTOMER-grain
    * frame (vocabulary-sized vs the order corpus; one exchange on
    * segment serves all four windows); at extreme per-segment
    * cardinality the agg_mannwhitney two-level prefix-sum idiom
    * replaces them. The moment sums accumulate as DECIMAL(38,0)
    * (round 10, ADVICE r9): the doubled ranks are int64-safe to
    * n ~ 1.5e9 per PRODUCT, but Σr² and the n·Σxy − ΣxΣy numerator
    * reach 4n³/4n⁴ — silent int64 overflow past ~39k rows/group, i.e.
    * ~sf10, with no runtime error. Decimal sums push the bound to
    * n ~ 1.3e9 rows/group; every intermediate is exact in BOTH
    * representations at every fixture SF (the decimal→double cast of an
    * exactly-held integer is the same nearest-double as long→double),
    * so the 6dp rho is bit-unchanged where both are in range. */
  /** The rank + decimal-moment ρ formula over a prepared (segment, x, y)
    * frame, exposed so Round11GuardSpec can drive an OVERSIZED group
    * (n³ past int64) through the exact production arithmetic (VERDICT
    * r10 task 7). Overflow posture: all five moment SUMS accumulate as
    * DECIMAL(38,0) unconditionally — the n³/n⁴ magnitudes; the per-row
    * rank products stay int64 (≤4n², exact to n ≈ 1.5e9 rows per
    * segment), and past that they FAIL FAST under the sessions' ANSI
    * mode (ARITHMETIC_OVERFLOW) rather than wrapping silently. */
  private[graft] def spearmanBySegment(cust: DataFrame): DataFrame = {
    def r2(c: String) =
      (rank().over(Window.partitionBy("segment").orderBy(col(c).asc))
        .cast("long") * 2
        + count(lit(1)).over(Window.partitionBy("segment", c)) - 1)
    val ranked = cust.select(col("segment"), r2("x").as("rx"), r2("y").as("ry"))
    ranked.groupBy("segment")
      .agg(count(lit(1)).as("n"),
        // per-row products stay int64 (4n² — safe to n ~ 1.5e9); only the
        // SUMS cross into decimal, where the n³/n⁴ magnitudes live
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum((col("rx") * col("rx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("ry") * col("ry")).cast("decimal(38,0)")).as("syy"),
        sum((col("rx") * col("ry")).cast("decimal(38,0)")).as("sxy"))
      .select(col("segment"), col("n"),
        // nullif: n=1 or an all-tied rank column zeroes the denominator
        // and rho is undefined — NULL like the oracle (round-13 tiny
        // sweep)
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")), lit(0.0)),
          6).as("rho"))
      .orderBy(col("segment").asc)
  }

  def aggSpearman(spark: SparkSession, dir: String): DataFrame =
    spearmanBySegment(Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("x"),
        round(round(sum("o_totalprice"), 2) * 100, 0).cast("long").as("y"))
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("segment"))),
        "o_custkey"))

  /** Kendall τ-b (round-9 wave 17) — concordant/discordant pair census
    * between the 25 nations' customer COUNT and balance-cents TOTAL
    * ranks: the pair-probability companion to agg_spearman (τ reads as
    * P(concordant) − P(discordant); ρ weights by rank distance). The
    * O(n²) all-pairs form is used DELIBERATELY on a bounded
    * pre-aggregated grain (25 nations → 300 pairs after one corpus
    * hash agg — the honest warehouse shape; unbounded grains take the
    * O(n log n) merge-count or fall back to agg_spearman). Pair signs
    * are integer CASE compares on exact int64 aggregates, the tie-
    * corrected denominator √((n₀−tx)(n₀−ty)) divides once at the end —
    * nothing order-dependent anywhere, so the 6dp round is decoration.
    * The self-join broadcasts the 25-row frame (BNLJ on k<k' is the
    * right plan at this size and is allowlisted as such). */
  def aggKendall(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("c_acctbal") * 100, 0).cast("long")).as("y"))
    val a = g.select(col("k").as("ka"), col("x").as("xa"), col("y").as("ya"))
    val b = g.select(col("k").as("kb"), col("x").as("xb"), col("y").as("yb"))
    // self-pair bound: 25 nation rows, so at most 300 pairs
    val pairs = a.join(broadcast(b), col("ka") < col("kb"))
      .select(
        when(col("xb") > col("xa"), 1L).when(col("xb") < col("xa"), -1L)
          .otherwise(0L).as("sx"),
        when(col("yb") > col("ya"), 1L).when(col("yb") < col("ya"), -1L)
          .otherwise(0L).as("sy"))
    pairs
      .agg(count(lit(1)).as("n0"),
        sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).as("disc"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ties_y"))
      .select(col("n0"), col("conc"), col("disc"), col("ties_x"), col("ties_y"),
        round((col("conc") - col("disc")).cast("double")
          / (sqrt((col("n0") - col("ties_x")).cast("double"))
            * sqrt((col("n0") - col("ties_y")).cast("double"))), 6).as("tau_b"))
  }

  /** Query id → SQL text. Spark runs each text through `Tables.sql`, and
    * the same text is its DuckDB oracle. */
  private val sql: Map[String, String] = Map(
    // GROUPING SETS ((nation),(priority),()) with coalesce'd 'ALL' markers —
    // the validated formulation that sidesteps NULL-ordering divergence
    // (SURVEY §2.D agg_rollup note).
    "agg_grouping_sets" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        |ORDER BY nation, priority""".stripMargin,
    // SQL-form ROLLUP: the post-rollup coalesce over a multi-join trips
    // Spark's ambiguous-self-join detection in the DF API.
    "agg_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY nation, priority""".stripMargin,
    // Discrete percentiles (SQL-standard PERCENTILE_DISC / WITHIN GROUP):
    // the smallest ACTUAL value with cumulative fraction ≥ p — unlike
    // agg_percentiles' interpolated quantile_cont, the result is always a
    // real data point, so cross-engine agreement is EXACT (no
    // interpolation arithmetic to diverge). The at-scale caveat matches
    // agg_percentiles': exact quantiles need a per-group sort; sketches
    // (agg_approx_pctl) are the 100 TB path. DuckDB reads the same
    // `percentile_disc(p) WITHIN GROUP (ORDER BY x)` spelling.
    "agg_percentile_disc" ->
      """SELECT o_orderpriority,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_spearman"      -> (aggSpearman _),
    "agg_kendall"       -> (aggKendall _),
    "agg_cramers_v"     -> (aggCramersV _),
    "agg_theil"         -> (aggTheil _),
    "agg_pareto"        -> (aggPareto _),
    "agg_winsorized"    -> (aggWinsorized _),
    "agg_mannwhitney"   -> (aggMannwhitney _),
    "agg_ttest"         -> (aggTtest _),
    "agg_chisq"         -> (aggChisq _),
    "agg_mutual_info"   -> (aggMutualInfo _),
    "agg_gini"          -> (aggGini _),
    "agg_moments"       -> (aggMoments _),
    "agg_topk_sketch"   -> (aggTopkSketch _),
    "agg_bool"          -> (aggBool _),
    "agg_mode"          -> (aggMode _),
    "agg_weighted_median" -> (aggWeightedMedian _),
    "agg_approx_pctl"   -> (aggApproxPctl _),
    "agg_stats"         -> (aggStats _),
    "agg_regression"    -> (aggRegression _),
    "agg_typed_geomean" -> (aggTypedGeomean _),
    "agg_percentiles"   -> aggPercentiles,
    "agg_kmv_distinct"  -> (aggKmvDistinct _),
    "agg_theta_union"   -> (aggThetaUnion _),
    "agg_quantile_union" -> (aggQuantileUnion _),
    "agg_countmin"      -> (aggCountmin _),
    "agg_global"        -> (aggGlobal _),
    "agg_groupby"       -> (aggGroupby _),
    "agg_distinct"      -> (aggDistinct _),
    "agg_approx_hll"    -> (aggApproxHll _),
    "agg_hll_union"     -> (aggHllUnion _),
    "agg_cube"          -> (aggCube _),
    "agg_having"        -> (aggHaving _),
    "agg_filtered"      -> (aggFiltered _),
    "agg_collect"       -> (aggCollect _),
    "agg_minmax_by"     -> (aggMinmaxBy _)) ++ sql.view.mapValues(Tables.sql)

  val oracleSql: Map[String, String] = sql ++ Map(
    "agg_spearman" ->
      """WITH cust AS (
        |  SELECT o_custkey, count(*) AS x,
        |    CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey),
        |j AS (
        |  SELECT c_mktsegment AS segment, x, y
        |  FROM cust JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT segment,
        |    CAST(2 * rank() OVER (PARTITION BY segment ORDER BY x ASC)
        |      + count(*) OVER (PARTITION BY segment, x) - 1 AS BIGINT) AS rx,
        |    CAST(2 * rank() OVER (PARTITION BY segment ORDER BY y ASC)
        |      + count(*) OVER (PARTITION BY segment, y) - 1 AS BIGINT) AS ry
        |  FROM j),
        |s AS (
        |  SELECT segment, count(*) AS n,
        |    CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |    CAST(sum(rx * rx) AS BIGINT) AS sxx,
        |    CAST(sum(ry * ry) AS BIGINT) AS syy,
        |    CAST(sum(rx * ry) AS BIGINT) AS sxy
        |  FROM r GROUP BY segment)
        |SELECT segment, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
        |FROM s ORDER BY segment ASC""".stripMargin,
    "agg_kendall" ->
      """WITH g AS (
        |  SELECT c_nationkey AS k, count(*) AS x,
        |    CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM customer GROUP BY c_nationkey),
        |p AS (
        |  SELECT
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
        |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
        |  FROM g a JOIN g b ON a.k < b.k)
        |SELECT count(*) AS n0,
        |  CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |  CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |  CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
        |  CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
        |  round(CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
        |      - sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / (sqrt(CAST(count(*)
        |        - sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS DOUBLE))
        |      * sqrt(CAST(count(*)
        |        - sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS DOUBLE))), 6)
        |    AS tau_b
        |FROM p""".stripMargin,
    "agg_cramers_v" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
        |    count(*) AS nxy
        |  FROM orders GROUP BY prio, status),
        |e AS (
        |  SELECT nxy,
        |    CAST(sum(nxy) OVER (PARTITION BY prio) AS BIGINT) AS rt,
        |    CAST(sum(nxy) OVER (PARTITION BY status) AS BIGINT) AS ct,
        |    CAST(sum(nxy) OVER () AS BIGINT) AS n,
        |    prio, status
        |  FROM cells),
        |b AS (
        |  SELECT max(n) AS n,
        |    count(DISTINCT prio) AS r, count(DISTINCT status) AS c,
        |    round(sum((nxy - rt * CAST(ct AS DOUBLE) / n)
        |      * (nxy - rt * CAST(ct AS DOUBLE) / n)
        |      / (rt * CAST(ct AS DOUBLE) / n)), 4) AS chi2
        |  FROM e)
        |SELECT n, r, c, chi2,
        |  round(chi2 / n, 6) AS phi2,
        |  round(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6)
        |    AS cramers_v,
        |  round(sqrt(chi2 / (chi2 + n)), 6) AS contingency_c
        |FROM b""".stripMargin,
    "agg_theil" ->
      """WITH cust AS (
        |  SELECT c_nationkey AS nationkey,
        |    CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, o_custkey
        |  HAVING CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) > 0),
        |m AS (
        |  SELECT nationkey, count(*) AS n, CAST(sum(cents) AS BIGINT) AS tot
        |  FROM cust GROUP BY nationkey)
        |SELECT c.nationkey, max(m.n) AS n,
        |  round(sum((c.cents / (m.tot / CAST(m.n AS DOUBLE)))
        |    * ln(c.cents / (m.tot / CAST(m.n AS DOUBLE)))) / max(m.n), 6)
        |    AS theil_t
        |FROM cust c JOIN m ON c.nationkey = m.nationkey
        |GROUP BY c.nationkey ORDER BY c.nationkey ASC""".stripMargin,
    "agg_pareto" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(round(round(sum(o_totalprice), 2) * 100, 0) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot, count(*) AS n FROM cust),
        |r AS (
        |  SELECT row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS rn,
        |    CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM cust)
        |SELECT p, min(rn) AS n_cust,
        |  round(min(rn) / CAST(max(n) AS DOUBLE), 4) AS cust_frac,
        |  round(min(cum / CAST(tot AS DOUBLE)), 6) AS rev_share
        |FROM r CROSS JOIN t
        |CROSS JOIN (SELECT unnest([10, 20, 50, 80, 90, 95, 99, 100]) AS p) s
        |WHERE cum / CAST(tot AS DOUBLE) >= p / 100e0
        |GROUP BY p ORDER BY p ASC""".stripMargin,
    "agg_winsorized" ->
      """WITH cust AS (
        |  SELECT c_nationkey AS nationkey, round(c_acctbal, 2) AS bal
        |  FROM customer),
        |fences AS (
        |  SELECT nationkey,
        |    percentile_disc(0.05) WITHIN GROUP (ORDER BY bal) AS lo,
        |    percentile_disc(0.95) WITHIN GROUP (ORDER BY bal) AS hi
        |  FROM cust GROUP BY nationkey)
        |SELECT c.nationkey, count(*) AS n,
        |  round(avg(c.bal), 4) AS raw_mean,
        |  round(avg(CASE WHEN c.bal < f.lo THEN f.lo
        |                 WHEN c.bal > f.hi THEN f.hi
        |                 ELSE c.bal END), 4) AS wins_mean,
        |  CAST(sum(CASE WHEN c.bal < f.lo OR c.bal > f.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM cust c JOIN fences f ON c.nationkey = f.nationkey
        |GROUP BY c.nationkey ORDER BY c.nationkey ASC""".stripMargin,
    "agg_mannwhitney" ->
      """WITH o AS (
        |  SELECT (o_orderpriority = '1-URGENT') AS g,
        |    round(o_totalprice, 2) AS v
        |  FROM orders),
        |vals AS (
        |  SELECT v,
        |    count(CASE WHEN g THEN 1 END) AS c1,
        |    count(CASE WHEN NOT g THEN 1 END) AS c2,
        |    count(*) AS cnt,
        |    CAST(floor(v / 5000.0) AS BIGINT) AS bin
        |  FROM o GROUP BY v),
        |offs AS (
        |  SELECT bin,
        |    COALESCE(sum(btot) OVER (ORDER BY bin ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM (SELECT bin, sum(cnt) AS btot FROM vals GROUP BY bin)),
        |ranked AS (
        |  SELECT vals.c1, vals.c2, vals.cnt,
        |    offs.off + COALESCE(sum(vals.cnt) OVER (PARTITION BY vals.bin
        |      ORDER BY vals.v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (vals.cnt + 1.0) / 2.0 AS avgrank
        |  FROM vals JOIN offs ON vals.bin = offs.bin),
        |s AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    sum(c1 * avgrank) AS r1,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
        |  FROM ranked)
        |SELECT n1, n2,
        |  round(r1, 1) AS rank_sum_urgent,
        |  round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
        |  round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
        |    / sqrt(n1 * n2 / 12.0
        |      * ((n1 + n2 + 1) - tie / ((n1 + n2) * (n1 + n2 - 1.0)))), 4) + 0.0 AS z
        |FROM s""".stripMargin,
    "agg_ttest" ->
      """WITH o AS (
        |  SELECT (o_orderpriority = '1-URGENT') AS g, o_totalprice FROM orders),
        |mu AS (SELECT g, round(avg(o_totalprice), 2) AS mu FROM o GROUP BY g),
        |st AS (
        |  SELECT o.g, count(*) AS n, max(mu.mu) AS mu_g,
        |    sum((o.o_totalprice - mu.mu) * (o.o_totalprice - mu.mu)) / (count(*) - 1) AS s2
        |  FROM o JOIN mu ON o.g = mu.g GROUP BY o.g),
        |p AS (
        |  SELECT
        |    max(CASE WHEN g THEN n END) AS n1,
        |    max(CASE WHEN NOT g THEN n END) AS n2,
        |    max(CASE WHEN g THEN mu_g END) AS mu1,
        |    max(CASE WHEN NOT g THEN mu_g END) AS mu2,
        |    max(CASE WHEN g THEN s2 END) AS s21,
        |    max(CASE WHEN NOT g THEN s2 END) AS s22
        |  FROM st)
        |SELECT n1, n2, round(mu1 - mu2, 2) AS mean_diff,
        |  round((mu1 - mu2) / sqrt(s21 / n1 + s22 / n2), 4) + 0.0 AS t_stat,
        |  round(pow(s21 / n1 + s22 / n2, 2.0)
        |    / (pow(s21 / n1, 2.0) / (n1 - 1) + pow(s22 / n2, 2.0) / (n2 - 1)), 2) AS dof
        |FROM p""".stripMargin,
    "agg_mutual_info" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS x, c_nationkey AS y, count(*) AS nxy
        |  FROM customer GROUP BY x, y),
        |e AS (
        |  SELECT nxy,
        |    CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
        |    CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
        |    CAST(sum(nxy) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT max(n) AS n_rows, count(*) AS cells,
        |  round(sum((nxy / CAST(n AS DOUBLE))
        |    * ln((nxy * n) / CAST(nx * ny AS DOUBLE))), 6) + 0.0 AS mi,
        |  round(-sum((nxy / CAST(n AS DOUBLE))
        |    * ln(nx / CAST(n AS DOUBLE))), 6) + 0.0 AS h_x,
        |  round(-sum((nxy / CAST(n AS DOUBLE))
        |    * ln(ny / CAST(n AS DOUBLE))), 6) + 0.0 AS h_y,
        |  round(round(sum((nxy / CAST(n AS DOUBLE))
        |      * ln((nxy * n) / CAST(nx * ny AS DOUBLE))), 6)
        |    / nullif(least(
        |      round(-sum((nxy / CAST(n AS DOUBLE))
        |        * ln(nx / CAST(n AS DOUBLE))), 6),
        |      round(-sum((nxy / CAST(n AS DOUBLE))
        |        * ln(ny / CAST(n AS DOUBLE))), 6)), 0), 6) AS nmi
        |FROM e""".stripMargin,
    "agg_chisq" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS prio, o_orderstatus AS status, count(*) AS n
        |  FROM orders GROUP BY prio, status),
        |rt AS (SELECT prio, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY prio),
        |ct AS (SELECT status, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY status),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
        |e AS (
        |  SELECT c.prio, c.status, c.n,
        |    CAST(rt.rt AS DOUBLE) * ct.ct / tot.tot AS e
        |  FROM cells c JOIN rt ON c.prio = rt.prio
        |  JOIN ct ON c.status = ct.status CROSS JOIN tot)
        |SELECT prio, status, n, round(e, 4) AS expected,
        |  round((n - e) * (n - e) / e, 4) AS chi2_term
        |FROM e ORDER BY prio ASC, status ASC""".stripMargin,
    "agg_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY o_custkey),
        |tagged AS (
        |  SELECT n.n_name, r.o_custkey, r.rev,
        |    row_number() OVER (PARTITION BY n.n_name
        |      ORDER BY r.rev ASC, r.o_custkey ASC) AS i
        |  FROM rev r
        |  JOIN customer c ON r.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |s AS (
        |  SELECT n_name, count(*) AS n_cust, round(sum(rev), 2) AS total_rev,
        |    sum(i * rev) AS s_iw
        |  FROM tagged GROUP BY n_name)
        |SELECT n_name, n_cust, total_rev,
        |  round(2.0 * s_iw / (n_cust * total_rev)
        |    - (n_cust + 1.0) / n_cust, 6) + 0.0 AS gini
        |FROM s ORDER BY n_name ASC""".stripMargin,
    "agg_moments" ->
      """WITH mu AS (
        |  SELECT l_returnflag, l_linestatus, round(avg(l_extendedprice), 2) AS mu
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |s AS (
        |  SELECT l.l_returnflag, l.l_linestatus, mu.mu, count(*) AS n,
        |    sum((l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu)) AS s2,
        |    sum((l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu)) AS s3,
        |    sum((l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu) * (l.l_extendedprice - mu.mu)) AS s4
        |  FROM lineitem l
        |  JOIN mu ON l.l_returnflag = mu.l_returnflag AND l.l_linestatus = mu.l_linestatus
        |  GROUP BY l.l_returnflag, l.l_linestatus, mu.mu)
        |SELECT l_returnflag, l_linestatus, n, mu,
        |  round((s3 / n) / pow(s2 / n, 1.5), 4) + 0.0 AS skew,
        |  round((s4 / n) / pow(s2 / n, 2.0) - 3.0, 4) + 0.0 AS ex_kurt
        |FROM s ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin,
    "agg_topk_sketch" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk FROM c)
        |SELECT rnk, tok, n FROM r WHERE rnk <= 10 ORDER BY rnk ASC""".stripMargin,
    "agg_bool" ->
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_quantity > 25) AS hi_qty,
        | bool_and(l_quantity > 0) AS all_positive,
        | bool_or(l_discount > 0.09) AS has_deep_disc,
        | bool_and(l_discount > 0.03) AS all_mid_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "agg_weighted_median" ->
      """WITH bp AS (
        |  SELECT l_returnflag, l_extendedprice, sum(l_quantity) AS wgt
        |  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    sum(wgt) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    sum(wgt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bp)
        |SELECT l_returnflag, count(*) AS n_prices_above,
        |  round(min(l_extendedprice), 2) AS w_median,
        |  round(max(tot), 2) AS total_qty
        |FROM c WHERE cumw >= tot / 2
        |GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY o_custkey, o_orderpriority),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        |  FROM c)
        |SELECT o_custkey, o_orderpriority AS mode_prio, cnt
        |FROM r WHERE rn = 1 ORDER BY o_custkey ASC""".stripMargin,
    "agg_typed_geomean" ->
      """SELECT l_returnflag,
        | round(exp(avg(ln(CASE WHEN l_extendedprice > 0 AND NOT isnan(l_extendedprice)
        |   THEN l_extendedprice END))), 4) AS geo_price,
        | round(avg(l_extendedprice), 4) AS arith_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "agg_regression" ->
      """SELECT l_returnflag,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        | regr_count(l_extendedprice, l_quantity) AS n,
        | round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
        | round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag, round(stddev_samp(l_extendedprice), 4) AS sd_price,
        | round(var_samp(l_extendedprice), 2) AS var_price,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
        | round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        | round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
        | round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "agg_global" ->
      """SELECT round(sum(l_quantity),2) AS sum_qty, round(sum(l_extendedprice),2) AS sum_price,
        | round(avg(l_extendedprice),6) AS avg_price, round(min(l_extendedprice),2) AS min_price,
        | round(max(l_extendedprice),2) AS max_price, count(*) AS n FROM lineitem""".stripMargin,
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty, round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag, coalesce(l_linestatus,'ALL') AS linestatus,
        | count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "agg_having" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice),2) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12 ORDER BY o_custkey""".stripMargin,
    "agg_filtered" ->
      """SELECT l_returnflag, count(*) FILTER (WHERE l_quantity > 25) AS hi_qty_cnt,
        | round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05),2) AS disc_rev,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect" ->
      """SELECT o_custkey, array_to_string(list_sort(list(o_orderpriority)), ',') AS prios
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "agg_minmax_by" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_custkey,
        | max(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_order,
        | max(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_order,
        | round(max(o_totalprice),2) AS top_price
        |FROM ranked GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
}
