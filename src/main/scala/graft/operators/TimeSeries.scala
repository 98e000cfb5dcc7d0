package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series resampling (SURVEY §1.1's time-series row): a complete
  * date spine generated with `sequence`, sparse daily aggregates joined
  * onto it, and gaps forward-filled with `last(..., ignoreNulls)` — the
  * resample/gap-fill/LOCF pattern every billing or metrics pipeline needs.
  *
  * Scale notes: the spine is O(days) regardless of fact volume; the
  * sparse aggregate is a partial+final hash agg; the forward fill is one
  * sort over O(days) rows. For multi-entity fills, partition the window
  * by the entity key — same shape, even spread.
  */
object TimeSeries {

  /** The shared day-grain revenue rollup every series metric here starts
    * from: per (event_type, day), 2dp-rounded revenue. One definition so
    * rounding/grain can never silently desynchronize sibling metrics
    * (review r9); plans are identical to the previous inlined copies. */
  private def dailyRev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("rev"))

  def tsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // spine bounds from the full table (deterministic)
    val bounds = orders.agg(
      date_trunc("day", min(col("o_orderdate"))).as("mn"),
      date_trunc("day", max(col("o_orderdate"))).as("mx"))
    val spine = bounds.select(
      explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 DAY"))).as("day"))
    // a sparse series: only high-value urgent orders
    val sparse = orders
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(sparse, Seq("day"), "left")
      .withColumn("rev_filled", coalesce(last(col("rev"), ignoreNulls = true).over(w), lit(0.0)))
      .select("day", "rev", "rev_filled")
      .orderBy(col("day").asc)
  }

  /** OHLC-style resampling: 15-minute bars per event_type — open/close
    * picked by (ts, event_id) arg-min/max (unique tie-break, §2.Z.6),
    * low/high/count as plain aggregates. One partial+final hash agg keyed
    * by (bucket, type): the shuffle carries per-bucket partials, never raw
    * events — the standard downsampling shape at any scale. */
  def tsResample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        round(min("value"), 2).as("low"),
        round(max("value"), 2).as("high"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("open"), col("close"), col("low"), col("high"))
      .orderBy(col("wstart").asc, col("event_type").asc)

  /** Trailing z-score anomaly detection on daily revenue: each day scored
    * against the mean/stddev of the PRECEDING 28 days (current day
    * excluded — no leakage), flagged at |z| > 2. Day-grain frame ⇒
    * O(days) rows at any input scale; inputs pre-rounded so both engines
    * score identical values. */
  def tsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val w = Window.orderBy(col("day").asc).rowsBetween(-28, -1)
    daily
      .withColumn("mu", avg("rev").over(w))
      .withColumn("sd", stddev_samp(col("rev")).over(w))
      .select(col("day"), col("rev"),
        // nullif: a CONSTANT trailing window has sd = 0 and the z-score
        // is undefined — NULL like the oracle's /0, never an ANSI error
        // (round-13 mono-corpus sweep; sd is already NULL for the first
        // row's empty window)
        round((col("rev") - col("mu")) / nullif(col("sd"), lit(0.0)), 4).as("z"),
        (abs((col("rev") - col("mu")) / nullif(col("sd"), lit(0.0))) > 2).as("anomaly"))
      .orderBy(col("day").asc)
  }

  /** Exponentially-weighted moving average (α = 0.8) of daily revenue per
    * event type — the smoothing primitive behind alerting baselines.
    * EWMA's recurrence y_t = (1−α)x_t + α·y_{t−1} can't be a window
    * aggregate directly (each row depends on the previous RESULT), but it
    * HAS a closed form over a running sum: with u_i = x_i·α^{−i},
    * y_t = α^t·(x_0 + (1−α)·(Σ_{i≤t} u_i − x_0)) — so the whole series
    * is two ordered-window passes (first_value + running sum) over the
    * day-grain frame, partitioned by type: the recursive definition
    * becomes a scale-safe declarative plan (per-key frames are
    * calendar-bounded). Day indexes are measured from each type's own
    * first day, so the formula is data-driven, and gaps simply decay
    * (α^t advances with calendar distance). */
  def tsEwma(spark: SparkSession, dir: String): DataFrame = {
    // Horizon bound (ADVICE r5): the closed form multiplies by α^{-tt} =
    // 1.25^tt, which overflows double to Infinity at tt ≈ 3170 (~8.7 y of
    // daily data). Fix: rebase the exponent per SEG-day segment (r = tt
    // mod SEG ≤ 1023 ⇒ 1.25^r ≤ 4e99, always finite) and carry the
    // previous segment's total across the boundary scaled by α^SEG.
    // Exactly ONE segment of carry suffices: a term two segments back is
    // weighted α^(≥SEG+1) ≈ 1e-100 — below any 4-dp rounding at any value
    // scale — so older carries (and gap-skipped segments) truncate to 0.
    // Segment 0 keeps the ORIGINAL expression tree verbatim, so for
    // calendars under SEG days (every test fixture and the DuckDB oracle
    // text) results are bit-identical to the round-5 form.
    val daily = dailyRev(spark, dir)
    ewmaDaily(daily)
  }

  /** Scoring core of tsEwma over a prepared (event_type, day, rev) frame —
    * split out so the horizon-bound test can feed a multi-decade synthetic
    * calendar that the events fixture doesn't reach. */
  private[graft] def ewmaDaily(daily: DataFrame): DataFrame = {
    val SEG = 1024
    val wRun = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = daily
      .withColumn("tt", datediff(col("day"), first(col("day")).over(wRun)))
      .withColumn("x0", first("rev").over(wRun))
      .withColumn("seg", (col("tt") / SEG).cast("int"))
      .withColumn("r", col("tt") % SEG)
    // Per-(type, segment) running and total sums of the rebased terms.
    val wSegRun = Window.partitionBy("event_type", "seg").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSegAll = Window.partitionBy("event_type", "seg")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // The immediately-previous segment's total, looked up by segment VALUE
    // (range frame), so a calendar gap that skips a whole segment yields
    // null → carry 0, which is exactly the α^(≥2·SEG) truncation above.
    val wPrev = Window.partitionBy("event_type").orderBy(col("seg"))
      .rangeBetween(-1, -1)
    val scored = staged
      .withColumn("s", sum(col("rev") * pow(lit(1.25), col("r"))).over(wSegRun))
      .withColumn("seg_tot", sum(col("rev") * pow(lit(1.25), col("r"))).over(wSegAll))
      .withColumn("prev_tot", max(col("seg_tot")).over(wPrev))
      .withColumn("carry",
        pow(lit(0.8), lit(SEG)) * (lit(0.2) * coalesce(col("prev_tot"), lit(0.0)) +
          when(col("seg") === 1, lit(0.8) * col("x0")).otherwise(lit(0.0))))
      .withColumn("ewma",
        when(col("seg") === 0,
          // original closed form, unchanged expression tree (bit-identical)
          round(pow(lit(0.8), col("tt")) *
            (col("x0") + lit(0.2) * (col("s") - col("x0"))), 4))
          .otherwise(
            round(pow(lit(0.8), col("r")) * (lit(0.2) * col("s") + col("carry")), 4)))
    scored
      .select(col("event_type"), col("day"), col("rev"), col("ewma"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** Robust outlier detection via median absolute deviation: per type,
    * med = median(daily rev), MAD = median(|rev − med|), outlier ⇔
    * |rev − med| > 3·1.4826·MAD (the Gaussian-consistent robust z-score —
    * unlike ts_anomaly's mean/stddev, one wild day can't drag the
    * baseline). Exact medians are fine here because they run on the
    * DAY-GRAIN frame (O(days·types) rows regardless of event volume);
    * medians over raw 100 TB data would use the approx_percentile sketch
    * instead. Two tiny broadcast joins carry the per-type statistics
    * back.
    *
    * Medians run in integer CENTS (round-13 negatives sweep): the
    * interpolated median of 2dp doubles is a .005-grain value whose
    * nearest-double depends on the engine's interpolation EXPRESSION
    * (a+(b−a)/2 vs a·(1−f)+b·f differ in the last ulp), and a .xx5
    * boundary then rounds apart (measured: mad 87.78 vs 87.77). Cents
    * are exact int64s, their midpoints are exact .5-grain doubles, so
    * both engines interpolate to the IDENTICAL double before the one
    * shared /100 — and the OUTPUT rounds at 3dp, where the half-cent
    * grid is exactly representable: rounding the same .xx5 double at
    * 2dp STILL diverges (Spark HALF_UPs the exact binary expansion,
    * DuckDB multiply-nearbyints — measured 128.11 vs 128.1 on the
    * identical input), while every 3dp target sits ≥.0045 from a
    * rounding boundary, far above the /100 ulp. */
  def tsMad(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
      .withColumn("cents", round(col("rev") * 100, 0))
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("med_c"))
    val withDev = daily.join(broadcast(med), "event_type")
      .withColumn("adev_c", abs(col("cents") - col("med_c")))
    val mad = withDev.groupBy("event_type")
      .agg(expr("percentile(adev_c, 0.5)").as("mad_c"))
    withDev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("days"),
        round(first("med_c") / 100, 3).as("med"),
        round(first("mad_c") / 100, 3).as("mad_"),
        // 4.4478 as ONE literal: both engines parse the same nearest double
        // (3 * 1.4826 computed in-engine could differ in the last ulp);
        // the threshold compare runs in cents — scale-invariant
        count(when(col("adev_c") > lit(4.4478) * col("mad_c"), lit(1))).as("outliers"))
      .orderBy(col("event_type").asc)
  }

  /** Lag-1 autocorrelation of daily revenue per event type (round-6
    * addendum): the persistence diagnostic that separates trending series
    * (ρ₁ → 1) from mean-reverting noise (ρ₁ → 0) — the statistic behind
    * "is yesterday predictive of today" before anyone fits a model. One
    * lag window + one corr aggregate over the day-grain frame (O(days ×
    * types) rows at any event volume); both engines implement the
    * sample-Pearson definition, 6dp rounds absorbing accumulation-order
    * ulps; day pairs must be CONSECUTIVE (calendar diff = 1) so a gap
    * contributes no spurious pair. */
  def tsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    daily
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .where(datediff(col("day"), col("prev_day")) === 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("pairs"),
        // corrSafe: a single consecutive pair (or a constant series)
        // zeroes the variance and native corr ANSI-throws; the oracle's
        // corr yields NULL (round-13 tiny sweep)
        round(Aggregates.corrSafe(col("rev"), col("prev_rev")), 6).as("rho1"))
      .orderBy(col("event_type").asc)
  }

  /** CUSUM changepoint detection (round-8 addendum) — the classic
    * level-shift detector no SQL dialect ships: over each event_type's
    * daily-revenue series, the cumulative sum of deviations from the
    * series mean S_i = Σ_{j≤i}(rev_j − mean) drifts near zero while the
    * level is stable and ramps linearly after a shift, so the day of
    * max |S_i| IS the estimated changepoint. Expressed as
    * S_i = cumsum(rev) − i·mean (one running window + row_number — no
    * self-join, no per-row mean subtraction pass), then an argmax by
    * (dev DESC, day ASC) row_number. Everything after the daily rollup
    * lives in ONE (event_type) exchange: both windows and the final
    * per-type pick sort compatibly on the same partitioning. Deviations
    * round to 2dp before the argmax so the two engines' float-sum noise
    * (≪ 0.005) cannot flip the comparison, and equal rounded deviations
    * break to the EARLIER day in both. */
  def tsCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("i", row_number().over(w))
      .withColumn("cum", sum("rev").over(wRun))
      .withColumn("mean", avg("rev").over(wAll))
      .withColumn("dev", round(abs(col("cum") - col("i") * col("mean")), 2))
    scored
      // days is computed BEFORE the rn filter (after it the partition
      // would hold one row)
      .withColumn("days", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("dev").desc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("days"),
        col("day").as("cp_day"),
        col("dev").as("max_dev"),
        round(col("mean"), 2).as("mean_rev"))
      .orderBy(col("event_type").asc)
  }

  /** Binary-segmentation changepoint detection (round-11 addendum,
    * VERDICT r10 "what's missing" #2 — the production generalization of
    * ts_cusum, which only scores drift against the whole-series mean):
    * per event_type, the daily revenue series is split at the day
    * maximizing the CUSUM deviation statistic, then EACH side is split
    * again by the same rule — the depth-2 unrolling of the classic
    * binary-segmentation recursion (PELT's greedy cousin), reporting the
    * top-level changepoint and the strongest secondary changepoint
    * inside each regime.
    *
    * Statistic: for a segment of m days with daily cents c₁..c_m,
    * prefix sums cum_i and total T, dev(i) = |m·cum_i − i·T| — the
    * integer-scaled max-CUSUM form (argmax equals argmax of the usual
    * |cum_i − (i/m)·T| scaled by m, with no division anywhere). All
    * arithmetic is exact int64: money travels as per-event cents
    * (§2.Z), daily sums are int64, and m·cum ≤ days²·daily-cents stays
    * under 2^63 to ~sf10000 (~2.4e10 at sf0.1). Ties break to the
    * earlier day; interior splits only (i < m).
    *
    * Scale: the series is DAY-grain per type — domain-bounded like the
    * histogram bin frames — so every window here runs over a bounded
    * frame no matter the corpus size; the only corpus-scale work is the
    * one events scan collapsing into the daily hash agg. The level-2
    * pass re-windows the same bounded frame joined to the 4-row root
    * split (broadcast). Deeper recursions repeat the same bounded step. */
  def tsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("c"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", sum("c").over(wRun))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("t", sum("c").over(wAll))
      .withColumn("dev", abs(col("m") * col("cum") - col("i") * col("t")))
    val root = scored.filter(col("i") < col("m"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("dev").desc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("i").as("split_i"),
        col("day").as("split_day"), col("dev").as("root_dev"),
        col("m").as("days"))
    val lvl1 = root.select(col("event_type"), lit(1L).as("level"),
      lit("all").as("segment"), col("days").as("seg_days"),
      col("split_day"), col("root_dev").as("dev"))
    // level 2: re-run the same statistic inside each regime
    val sided = scored
      .join(broadcast(root.select("event_type", "split_i")), "event_type")
      .withColumn("segment",
        when(col("i") <= col("split_i"), "pre").otherwise("post"))
      .withColumn("i2",
        when(col("i") <= col("split_i"), col("i"))
          .otherwise(col("i") - col("split_i")))
    val wSide = Window.partitionBy("event_type", "segment")
    val wSideRun = Window.partitionBy("event_type", "segment")
      .orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lvl2 = sided
      .withColumn("m2", count(lit(1)).over(wSide))
      .withColumn("t2", sum("c").over(wSide))
      .withColumn("cum2", sum("c").over(wSideRun))
      .withColumn("dev2", abs(col("m2") * col("cum2") - col("i2") * col("t2")))
      .filter(col("i2") < col("m2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "segment")
          .orderBy(col("dev2").desc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), lit(2L).as("level"), col("segment"),
        col("m2").as("seg_days"), col("day").as("split_day"),
        col("dev2").as("dev"))
    lvl1.unionAll(lvl2)
      .orderBy(col("event_type").asc, col("level").asc, col("segment").asc)
  }

  /** Depth-k binary segmentation (round 12, VERDICT r11 task 6 — the
    * named generalization of ts_changepoint's fixed depth-2): the SAME
    * exact-int64 CUSUM statistic recursively re-applied inside every
    * regime for `depth` levels, with a MIN-SEGMENT-LENGTH guard — a
    * segment shorter than `minSeg` days is a leaf, so noise-grain
    * micro-segments never split (the guard PELT-family implementations
    * ship as `minseglen`). Segments are path-labelled ("all",
    * "all.pre", "all.pre.post", …) so every row names its full lineage.
    *
    * Plan shape: the recursion is a SCALA loop over lazily-composed
    * bounded re-windows — each level re-windows the (event_type, path)
    * day-grain frame (domain-bounded, like the parent op) and inner-
    * joins the level's 1-row-per-segment split table (AQE broadcasts
    * from measured size). Depth ≤ 4 ⇒ at most 15 segments/type; the
    * only corpus-scale work remains the one events scan behind the
    * daily agg. One action, no per-level jobs. */
  def tsChangepointDeep(spark: SparkSession, dir: String): DataFrame = {
    // Two-materialize shape (round-12 A/B): the
    // lazy 4-level recursion re-plans the events→daily agg under every
    // level's lineage and AQE schedules 13 escalating stage jobs
    // (3.3 s warm at sf0.1, and 13×~0.4 s of pure scheduling on a
    // contended driver). Materializing the DAY-GRAIN frame once (the
    // only corpus-scale work) and running the bounded recursion inside
    // one AQE-off write collapses it to 3 scheduled jobs. The mat files
    // ride the per-call supersede (consumed within the invocation).
    val daily = MemoFrames.materialize(spark, "cp_deep_daily",
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("c")))
    MemoFrames.withShufflePartitions(spark, 4)(
      MemoFrames.materialize(spark, "cp_deep_res",
        changepointDeepFrom(daily, depth = 4, minSeg = 8L)))
      .orderBy(col("event_type").asc, col("level").asc, col("segment").asc)
  }

  /** The recursion itself over any (event_type, day, c) day-grain frame —
    * split out so ChangepointDeepSpec can drive it with crafted
    * multi-changepoint series and guard-boundary lengths. */
  private[graft] def changepointDeepFrom(daily: DataFrame,
      depth: Int, minSeg: Long): DataFrame = {
    var assigned = daily.withColumn("path", lit("all"))
    var out: Option[DataFrame] = None
    for (level <- 1 to depth) {
      val w = Window.partitionBy("event_type", "path")
      val wOrd = w.orderBy(col("day").asc)
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = assigned
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum("c").over(wRun))
        .withColumn("m", count(lit(1)).over(w))
        .withColumn("t", sum("c").over(w))
        .withColumn("dev", abs(col("m") * col("cum") - col("i") * col("t")))
      val splits = scored
        .filter(col("i") < col("m") && col("m") >= minSeg)
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type", "path")
            .orderBy(col("dev").desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("path"), col("i").as("split_i"),
          col("day").as("split_day"), col("dev").as("sdev"), col("m").as("sm"))
      val lvl = splits.select(col("event_type"), lit(level.toLong).as("level"),
        col("path").as("segment"), col("sm").as("seg_days"),
        col("split_day"), col("sdev").as("dev"))
      out = Some(out.fold(lvl)(_.unionAll(lvl)))
      if (level < depth)
        assigned = scored
          .join(splits.select(col("event_type"), col("path"), col("split_i")),
            Seq("event_type", "path"))
          .withColumn("path", concat(col("path"),
            when(col("i") <= col("split_i"), lit(".pre")).otherwise(lit(".post"))))
          .select(col("event_type"), col("day"), col("c"), col("path"))
    }
    out.get.orderBy(col("event_type").asc, col("level").asc, col("segment").asc)
  }

  /** Oracle for tsChangepointDeep: the same level-by-level unrolling as
    * static CTEs (the loop above, written out), one (score → split →
    * reassign) block per level. Generated rather than hand-typed so
    * depth/minSeg stay in one place; the emitted SQL is plain ANSI
    * windows + joins, DuckDB-runnable. Sums are CAST AS BIGINT
    * (DuckDB sum(BIGINT) returns HUGEINT — §2.Z). */
  private[graft] def changepointDeepOracle(depth: Int, minSeg: Long): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH a0 AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c,
        |    'all' AS path
        |  FROM events GROUP BY event_type, date_trunc('day', ts))""".stripMargin)
    for (l <- 1 to depth) {
      sb.append(s""",
        |s$l AS (
        |  SELECT event_type, day, c, path,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(sum(c) OVER (PARTITION BY event_type, path ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    count(*) OVER (PARTITION BY event_type, path) AS m,
        |    CAST(sum(c) OVER (PARTITION BY event_type, path) AS BIGINT) AS t
        |  FROM a${l - 1}
        |  WINDOW w AS (PARTITION BY event_type, path ORDER BY day ASC)),
        |p$l AS (
        |  SELECT event_type, path, i AS split_i, day AS split_day, dev, m
        |  FROM (SELECT *, abs(m * cum - i * t) AS dev,
        |          row_number() OVER (PARTITION BY event_type, path
        |            ORDER BY abs(m * cum - i * t) DESC, day ASC) AS rn
        |        FROM s$l WHERE i < m AND m >= $minSeg)
        |  WHERE rn = 1)""".stripMargin)
      if (l < depth) sb.append(s""",
        |a$l AS (
        |  SELECT s.event_type, s.day, s.c,
        |    s.path || CASE WHEN s.i <= p.split_i THEN '.pre' ELSE '.post' END AS path
        |  FROM s$l s JOIN p$l p ON s.event_type = p.event_type AND s.path = p.path)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to depth).map(l =>
      s"""SELECT event_type, CAST($l AS BIGINT) AS level, path AS segment,
         |  m AS seg_days, split_day, dev FROM p$l""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\n"))
    sb.append("ORDER BY event_type ASC, level ASC, segment ASC")
    sb.toString
  }

  /** Day-of-week seasonal decomposition (round-8 addendum) — the additive
    * seasonal-profile model behind every ops dashboard's "adjusted"
    * series: each event_type's daily revenue splits into a DOW profile
    * (the mean of its weekday) and a deseasonalized residual, and the
    * variance drop from raw to residual is the seasonality strength
    * (1 − var(resid)/var(raw), the STL-style strength statistic).
    * The profile is a window mean over (event_type, dow) — no self-join
    * back onto the dailies, which is how the textbook SQL does it — and
    * the final per-type aggregate reuses the window output directly.
    * Weekday alignment across engines: Spark's weekday() (Mon=0) equals
    * DuckDB's isodow−1; Spark dayofweek()/DuckDB dayofweek() disagree on
    * the week start and are avoided (§2.Z class of trap). Variances
    * round at 2dp and the strength ratio at 4dp, far above float-sum
    * order noise. */
  def tsSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
      .withColumn("dow", weekday(col("day")))
    val wDow = Window.partitionBy("event_type", "dow")
    daily
      .withColumn("resid", col("rev") - avg("rev").over(wDow))
      .groupBy("event_type")
      .agg(count(lit(1)).as("days"),
        round(avg("rev"), 2).as("mean_rev"),
        round(var_pop("rev"), 2).as("raw_var"),
        round(var_pop("resid"), 2).as("deseason_var"),
        round(lit(1.0) - var_pop("resid") / var_pop("rev"), 4).as("strength"))
      .orderBy(col("event_type").asc)
  }

  /** Linear interpolation of censored observations (round-8 addendum) —
    * the "fill sensor dropout" operator ts_gapfill's LOCF cannot express
    * (carrying the last value forward biases a trending series; the
    * textbook fix interpolates between the BRACKETING observations):
    * per order priority, daily revenue below a 300k reporting threshold
    * is treated as unobserved, and each censored day fills with the
    * line between its nearest observed neighbors — edge days with only
    * one neighbor fall back to it.
    *
    * Shape: the daily rollup is the one corpus-scale pass; both
    * direction-scans are last/first IGNORE NULLS window frames over the
    * SAME (prio, day) sort, so all four lookups (prev/next value and
    * day) share one exchange, and the arithmetic is row-local.
    *
    * Cross-engine exactness (two traps, both hit): (1) the naive
    * pv + (nv−pv)·Δ/Δ' float form diverged by one ulp on ~4 of 8600
    * rows; (2) even with an exact int64 numerator and ONE shared
    * division, the quotient lands EXACTLY on .xxxx5 whenever the gap
    * divides nicely (denominator 800 ⇒ ties at the 4th decimal are
    * systematic, not flukes) — and Spark's round (exact decimal
    * HALF_UP) disagrees with DuckDB's (float-multiply) precisely on
    * ties. So the 4dp HALF-UP ROUND ITSELF runs in integer arithmetic:
    * r4 = (num·20000 + den) DIV (2·den), exact in int64 (num ≲ 10¹³,
    * ×2·10⁴ < 2⁶³), then one exact /10⁴ display division. Both engines
    * floor-divide positive int64 identically, so ties are decided
    * identically by construction. At 100 TB the frame is day-grain
    * (O(days × priorities) regardless of order volume). */
  def tsInterp(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"),
        date_trunc("day", col("o_orderdate")).as("day"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("obs", when(col("rev") >= 300000, col("rev")))
    val ord = Window.partitionBy("prio").orderBy(col("day").asc)
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    daily
      .withColumn("obs_c", round(col("obs") * 100, 0).cast("long"))
      .withColumn("pv", last(col("obs_c"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("obs").isNotNull, col("d")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("obs_c"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("obs").isNotNull, col("d")), ignoreNulls = true).over(wNext))
      .withColumn("num",
        col("pv") * (col("nd") - col("d")) + col("nv") * (col("d") - col("pd")))
      .withColumn("den", (col("nd") - col("pd")) * 100L)
      .withColumn("rev_interp",
        when(col("obs").isNotNull, round(col("obs"), 4))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            expr("(num * 20000 + den) DIV (den * 2)") / 10000.0)
          .otherwise(round(coalesce(col("pv"), col("nv")) / 100.0, 4)))
      .select(col("prio"), col("day"), col("rev"),
        col("obs").isNotNull.cast("int").as("observed"), col("rev_interp"))
      .orderBy(col("prio").asc, col("day").asc)
  }

  /** Theil–Sen robust trend (round-8 addendum) — the median of all
    * pairwise slopes of each nation's MONTHLY revenue series; the
    * outlier-resistant alternative to least-squares trend
    * (agg_regression) every metrics pipeline wants when a single
    * spiked month shouldn't set the slope. The O(m²) pairwise step is
    * why this must run on a PRE-AGGREGATED grain: the corpus collapses
    * to (nation × month) in one partial+final hash agg — O(months) per
    * key forever, regardless of fact volume — and the self-join then
    * builds ~m²/2 ≈ 3200 pairs per nation, a vocabulary-sized frame at
    * any corpus scale. Month index is integer (year·12+month), slopes
    * divide a 2dp-rounded revenue delta by an integer month gap and are
    * 6dp-rounded BEFORE selection; the median is the explicit lower
    * median — `row_number` over (slope, m1, m2) picked at ⌊(n+1)/2⌋ — a
    * §2.Z.6 unique-key formulation, NOT an engine `median()` (whose
    * even-count interpolation differs across engines). */
  def tsTheilsen(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val slopes = BlockedPairs.selfPairs(monthly, Seq("n_name"), "mi")
      .select(col("a.n_name").as("n_name"),
        round((col("b.rev") - col("a.rev")) / (col("b.mi") - col("a.mi")), 6).as("slope"),
        col("a.mi").as("m1"), col("b.mi").as("m2"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("slope").asc, col("m1").asc, col("m2").asc)
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("n_name")))
      .filter(col("rn") === expr("(cnt + 1) DIV 2"))
      .select(col("n_name"), col("cnt").as("n_pairs"), col("slope").as("ts_slope"))
      .orderBy(col("n_name").asc)
  }

  /** Brown's double exponential smoothing (round-8 addendum) — the
    * trend-aware upgrade of ts_ewma: smoothing a series twice gives the
    * level a = 2s₁ − s₂, trend b = (a/(1−a))·(s₁ − s₂), and the
    * one-step-ahead forecast a + b that single EWMA systematically lags
    * on trending series (the alerting-baseline fix for ramping metrics).
    * The engine's EWMA recurrence is already a closed-form two-window
    * plan (ewmaDaily's scaladoc); Brown COMPOSES it — the second pass
    * smooths the FIRST pass's 4dp-rounded output, so both engines feed
    * identical values into identical expression trees and the 4dp
    * results hash-match exactly like ts_ewma does. Shape: the daily
    * rollup is the one corpus pass; both smoothing passes are
    * day-grain window pairs on the same (type, day) ordering. */
  def tsBrown(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val s1 = ewmaDaily(daily)
      .select(col("event_type"), col("day"), col("rev").as("x"), col("ewma").as("s1"))
    val s2 = ewmaDaily(s1.select(col("event_type"), col("day"), col("s1").as("rev")))
      .select(col("event_type"), col("day"), col("rev").as("s1b"), col("ewma").as("s2"))
    // 6dp rounds here are deliberate: s1/s2 are 4dp, so 2s1−s2 has
    // exactly 4 decimals and 0.25·(s1−s2) exactly 6 — rounding AT the
    // value's own decimal width is tie-free (the binary double sits
    // ~1e-12 from the decimal point, never at a .5 boundary), where a
    // 4dp round of the quarter lands EXACTLY on .xxxx5 ties and the
    // engines' round() disagree (§2.Z trap, measured: fcst diverged on
    // 2-4 rows per sf before this).
    s1.join(s2, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("x"), col("s1"), col("s2"),
        round(lit(2.0) * col("s1") - col("s2"), 4).as("level"),
        (round(lit(0.25) * (col("s1") - col("s2")), 6) + 0.0).as("trend"))
      .withColumn("fcst_next", round(col("level") + col("trend"), 6) + 0.0)
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** Lagged cross-correlation (round-8 addendum) — which event type
    * LEADS which: for every ordered type pair and lag ∈ [−3, 3],
    * Pearson correlation of (a_t, b_{t+lag}) over their overlapping
    * days, reporting each pair's best lag (the lead-lag discovery step
    * before any causal read of dashboard metrics). The corpus collapses
    * to the (type, day) grain first; the lag spine is a 7-literal
    * explode; the pair-lag join and the correlation sums all run on
    * day-grain frames (types² × lags × days — vocabulary-sized
    * forever). Correlation is assembled from the six explicit sums
    * (llm_zipf_fit's OLS argument: engine corr() internals differ),
    * 6dp-rounded, argmax by (corr DESC, lag ASC) row_number. */
  def tsCrossCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val lags = spark.range(-3, 4).select(col("id").cast("int").as("lag"))
    // integer day numbers (ts_interp idiom) keep the lag join pure
    // integer arithmetic — date+interval addition differs across engines
    val dn = daily.withColumn("d",
      datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val a = dn.select(col("event_type").as("ta"), col("d").as("da"), col("rev").as("xa"))
    val b = dn.select(col("event_type").as("tb"), col("d").as("db"), col("rev").as("xb"))
    val pairs = a.crossJoin(broadcast(lags))
      .join(b, col("ta") < col("tb") && col("db") === col("da") + col("lag"))
    val sums = pairs.groupBy("ta", "tb", "lag")
      .agg(count(lit(1)).as("k"),
        sum("xa").as("sx"), sum("xb").as("sy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"),
        sum(col("xa") * col("xb")).as("sxy"))
      .filter(col("k") >= 10)
      .select(col("ta"), col("tb"), col("lag"), col("k"),
        (round((col("k") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("k") * col("sxx") - col("sx") * col("sx"))
            * (col("k") * col("syy") - col("sy") * col("sy"))), 6) + 0.0).as("corr"))
    val w = Window.partitionBy("ta", "tb")
      .orderBy(col("corr").desc, col("lag").asc)
    sums.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("ta"), col("tb"), col("lag").as("best_lag"),
        col("k").as("n_days"), col("corr"))
      .orderBy(col("ta").asc, col("tb").asc)
  }

  /** Discrete periodogram (round-8 addendum) — spectral power of each
    * event type's daily revenue at harmonics k = 1..10: the
    * dominant-period detector behind "is this metric weekly?" questions
    * that ts_seasonal answers only for the ASSUMED weekly period (the
    * periodogram finds the period; the decomposition then measures it).
    * Samples are indexed by OBSERVED-day rank (row_number − 1), the
    * deterministic convention for possibly-gapped calendars; the series
    * is centered on its 4dp-rounded mean (removing DC leakage — the
    * broadcast-mean pattern), and power(k) = a²+b² with a = Σx̃·cos,
    * b = Σx̃·sin. cos/sin may differ in the last ulp across libm
    * implementations — the products are summed per (type, k) and the
    * power rounds at 2dp over O(1e9) magnitudes, absorbing far more
    * than ulp noise. Peak flagged by (power DESC, k ASC) row_number.
    * Shape: day-grain rollup (corpus pass) → literal 10-harmonic spine
    * cross → (type, k) hash agg — vocabulary-sized forever. */
  def tsPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val wIdx = Window.partitionBy("event_type").orderBy(col("day").asc)
    val idx = daily
      .withColumn("t", (row_number().over(wIdx) - 1).cast("double"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")).cast("double"))
    val mu = idx.groupBy(col("event_type").as("et"))
      .agg(round(avg("rev"), 4).as("mu"))
    val ks = spark.range(1, 11).select(col("id").cast("int").as("k"))
    idx.join(broadcast(mu), col("event_type") === col("et"))
      .crossJoin(broadcast(ks))
      .withColumn("theta", lit(2.0 * math.Pi) * col("k") * col("t") / col("n"))
      .groupBy("event_type", "k")
      .agg(sum((col("rev") - col("mu")) * cos(col("theta"))).as("a"),
        sum((col("rev") - col("mu")) * sin(col("theta"))).as("b"))
      .select(col("event_type"), col("k"),
        round(col("a") * col("a") + col("b") * col("b"), 2).as("power"))
      .withColumn("is_peak",
        (row_number().over(Window.partitionBy("event_type")
          .orderBy(col("power").desc, col("k").asc)) === 1).cast("int"))
      .orderBy(col("event_type").asc, col("k").asc)
  }

  /** Forecast backtest (round-8 addendum) — the evaluation loop every
    * forecasting deployment closes: Brown's one-step-ahead forecast
    * (ts_brown's fcst_next at sample t) scored against the NEXT
    * observed sample, per event type — MAE and RMSE for the model,
    * MAE for the persistence baseline (tomorrow = today), and the
    * skill score 1 − MAE_model/MAE_naive that decides whether the
    * model earns its keep (negative skill ⇒ naive wins — the honest
    * and common outcome on near-random series). "Next observed
    * sample" (lead over the day order) is the deterministic
    * convention for gapped calendars, matching ts_periodogram's
    * rank indexing. Every error subtracts two already-rounded values
    * (x at 2dp, fcst at 6dp), so the aggregates diverge only by
    * summation-order ulps — 4dp absorbs. Shape: ts_brown's plan plus
    * one lead window on the same (type, day) ordering and a per-type
    * hash agg. */
  def tsForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    tsBrown(spark, dir)
      .withColumn("x_next", lead("x", 1).over(w))
      .filter(col("x_next").isNotNull)
      .withColumn("e_fcst", col("x_next") - col("fcst_next"))
      .withColumn("e_naive", col("x_next") - col("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_evals"),
        round(avg(abs(col("e_fcst"))), 4).as("mae_fcst"),
        round(avg(abs(col("e_naive"))), 4).as("mae_naive"),
        round(sqrt(avg(col("e_fcst") * col("e_fcst"))), 4).as("rmse_fcst"),
        (round(lit(1.0) - avg(abs(col("e_fcst"))) / avg(abs(col("e_naive"))), 6) + 0.0).as("skill"))
      .orderBy(col("event_type").asc)
  }

  /** Time-decayed weighting (round-8 wave 17) — per event type under a
    * 30-day-half-life exponential decay anchored at the corpus watermark:
    * the effective sample size (Σw)²/Σw² and decayed total that recency-
    * weighted training/serving decisions read ("how much of this stream
    * is still alive?"). Age is exact integer µs scaled by one double
    * division; each weight is rounded to 6dp BEFORE summation (the
    * gauss() discipline: a libm exp() last-ulp can't flip a 6dp-rounded
    * value), so cross-engine sums differ only in accumulation order,
    * absorbed by the 4dp output round. Watermark = 1-row broadcast
    * scalar; everything else is one map-side expression + type-grain
    * hash agg. */
  def tsDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wm = broadcast(ev.agg(max(col("ts")).as("wm")))
    val ageDays = (unix_micros(col("wm")) - unix_micros(col("ts")))
      .cast("double") / 86400000000.0
    val w = round(exp(ageDays * (-math.log(2.0) / 30.0)), 6)
    ev.crossJoin(wm)
      .withColumn("w", w)
      .groupBy("event_type")
      // Naming (ADVICE r8): `sum_w` is the raw decayed weight mass; the
      // actual effective sample size (Σw)²/Σw² is the `ess` column.
      // Degenerate case, documented not guarded: if EVERY event of a type
      // is old enough that all 6dp-rounded weights are exactly 0, ess is
      // 0/0 → null — identically in both engines (the oracle divides the
      // same rounded weights), so certification is unaffected; the events
      // fixture always has recent rows per type, so it cannot occur here.
      .agg(count(lit(1)).as("n"),
        round(sum("w"), 4).as("sum_w"),
        round(sum(col("w") * col("w")), 4).as("sum_w2"),
        round(sum("w") * sum("w") / sum(col("w") * col("w")), 4).as("ess"),
        round(sum(col("w") * col("value")), 2).as("decayed_value"))
      .orderBy(col("event_type").asc)
  }

  /** Maximum drawdown (round-8 wave 22) — per event type, the deepest
    * relative drop of daily revenue below its running peak, and the
    * FIRST day it bottomed: the peak-to-trough risk metric ts_anomaly's
    * point z-scores can't express (a slow 40% bleed never trips a
    * trailing z-test; a drawdown curve catches it immediately). Running
    * peak is one ordered window over the day-grain frame; the worst day
    * resolves by (drawdown DESC, day ASC) rank so ties land
    * deterministically on the earliest bottom. Drawdowns divide
    * 2dp-pre-rounded revenues (identical doubles both engines) and round
    * at 6dp. Day-grain frame ⇒ O(days·types) at any event volume. */
  def tsDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val wRun = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy("event_type")
      .orderBy(col("dd").desc, col("day").asc)
    daily
      .withColumn("peak", max("rev").over(wRun))
      // Division guard (ADVICE r8): a type whose running peak is still
      // ≤ 0 (every day so far refunded/zero) has no meaningful relative
      // drawdown — define it as 0 rather than emit a null/sign-flipped
      // ratio whose DESC rank would then be null-ordering-dependent.
      .withColumn("dd", when(col("peak") > 0,
        round((col("peak") - col("rev")) / col("peak"), 6)).otherwise(lit(0.0)))
      .withColumn("days", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("days"), col("day").as("worst_day"),
        round(col("peak"), 2).as("peak_rev"), col("rev").as("trough_rev"),
        col("dd").as("max_drawdown"))
      .orderBy(col("event_type").asc)
  }

  /** 14-day Relative Strength Index (round-9) — the bounded [0,100]
    * momentum oscillator read next to ts_drawdown's depth metric: RSI =
    * 100 − 100/(1 + avgGain/avgLoss) over the trailing 14 day-over-day
    * moves of daily revenue (the SMA variant — Wilder's recursive
    * smoothing has no closed window form and would force a sequential
    * scan). Rows emit only once the frame is FULL (rn ≥ 15): a partial
    * frame is a different statistic, not a noisier one.
    *
    * Determinism: day-over-day diffs subtract 2dp-rounded dailies
    * (exact); the 14-term frame averages round at 4dp BEFORE the ratio,
    * so both engines assemble RSI from identical doubles; an all-gain
    * frame (avgLoss = 0) defines RSI = 100 rather than divide by zero.
    * Day-grain frame ⇒ O(days·types) at any event volume. */
  def tsRsi(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val f = w.rowsBetween(-13, Window.currentRow)
    val d = daily
      .withColumn("diff", col("rev") - lag("rev", 1).over(w))
      .withColumn("rn", row_number().over(w))
    d.withColumn("ag", round(avg(when(col("diff") > 0, col("diff")).otherwise(0.0)).over(f), 4))
      .withColumn("al", round(avg(when(col("diff") < 0, -col("diff")).otherwise(0.0)).over(f), 4))
      .filter(col("rn") >= 15)
      .select(col("event_type"), col("day"),
        round(when(col("al") === 0, 100.0)
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("ag") / col("al"))), 4)
          .as("rsi_14"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** 20-day Donchian channel census (round-9) — per type: days evaluated,
    * breakout counts (today strictly above the prior 19 days' high /
    * below their low — the channel-breakout trading signal), and the
    * average/maximum channel width. Deliberately max/min-based where
    * Bollinger would use a windowed stddev: a sliding one-pass variance
    * subtracts near-equal squares (engines' segment-tree accumulation
    * orders differ → ulp noise a round can't reliably absorb), while
    * extrema of 2dp-rounded dailies are EXACT in both engines — the
    * same robust-statistic-over-moment choice as ts_mad. Day-grain. */
  def tsDonchian(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val f = w.rowsBetween(-19, Window.currentRow)
    val fp = w.rowsBetween(-19, -1)
    daily
      .withColumn("hi", max("rev").over(f))
      .withColumn("lo", min("rev").over(f))
      .withColumn("hi_prev", max("rev").over(fp))
      .withColumn("lo_prev", min("rev").over(fp))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 20)
      .groupBy("event_type")
      .agg(count(lit(1)).as("days"),
        sum(when(col("rev") > col("hi_prev"), 1L).otherwise(0L)).as("new_highs"),
        sum(when(col("rev") < col("lo_prev"), 1L).otherwise(0L)).as("new_lows"),
        round(avg(col("hi") - col("lo")), 2).as("avg_range"),
        round(max(col("hi") - col("lo")), 2).as("max_range"))
      .orderBy(col("event_type").asc)
  }

  /** Order-3 permutation entropy (round-9 wave 3) — per type, the
    * Bandt–Pompe complexity of the daily revenue series: each 3-day
    * window maps to its ordinal pattern (which of the 6 orderings the
    * values take), and the normalized Shannon entropy of the pattern
    * histogram separates structured series (trend/seasonality → few
    * patterns, entropy ≪ 1) from noise-like ones (≈ 1). The
    * complexity screen read BEFORE trusting ts_forecast_eval's model
    * choice — near-1 entropy says no forecaster will beat persistence.
    *
    * Determinism: patterns come from exact comparisons of 2dp-rounded
    * dailies (ties break toward the earlier day — the ≤/< placement
    * below is the Bandt–Pompe rank-by-(value, index) convention);
    * entropy sums ≤ 6 terms of ln-of-exact-ratios (6dp round absorbs
    * order ulps). Day-grain ⇒ O(days·types). */
  def tsPermEntropy(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRev(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val pat = daily
      .withColumn("r0", lag("rev", 2).over(w))
      .withColumn("r1", lag("rev", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 3)
      .select(col("event_type"),
        when(col("r0") <= col("r1") && col("r1") <= col("rev"), "012")
          .when(col("r0") <= col("rev") && col("rev") < col("r1"), "021")
          .when(col("r1") < col("r0") && col("r0") <= col("rev"), "102")
          .when(col("rev") < col("r0") && col("r0") <= col("r1"), "120")
          .when(col("r1") <= col("rev") && col("rev") < col("r0"), "201")
          .otherwise("210").as("pattern"))
    val c = pat.groupBy("event_type", "pattern").agg(count(lit(1)).as("n"))
    val t = c.groupBy("event_type").agg(sum("n").as("tot"))
    c.join(broadcast(t), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_patterns"),
        round((-sum((col("n") / col("tot").cast("double"))
            * log(col("n") / col("tot").cast("double"))))
          / math.log(6.0), 6).as("perm_entropy"))
      .orderBy(col("event_type").asc)
  }

  /** Local-maxima peak detection (round-9 wave 9) — per event type, the
    * days whose revenue strictly exceeds every day within ±3 rows AND
    * the type's own mean: the peak-picking primitive behind campaign /
    * incident forensics ("which days spiked, and by how much"), with
    * prominence = gap to the tallest neighbor. ts_anomaly flags
    * deviation from a GLOBAL model; this detects LOCAL shape — a peak
    * can be un-anomalous in level and still be the local event.
    *
    * Determinism: revenue is exact integer cents; the neighbor compares
    * and the mean gate are pure int64 (cents·n > total — never divide
    * before comparing); edge days without a full ±3 frame are excluded
    * by row census, not null-propagation. Day-grain ⇒ O(days·types)
    * after one corpus hash agg; all frames share one (type) exchange. */
  def tsPeaks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wb = w.rowsBetween(-3, -1)
    val wa = w.rowsBetween(1, 3)
    val wp = Window.partitionBy("event_type")
    d.withColumn("nb", max("cents").over(wb))
      .withColumn("na", max("cents").over(wa))
      .withColumn("rn", row_number().over(w))
      .withColumn("nrow", count(lit(1)).over(wp))
      .withColumn("tot", sum("cents").over(wp))
      .filter(col("rn") > 3 && col("rn") <= col("nrow") - 3 &&
        col("cents") > col("nb") && col("cents") > col("na") &&
        col("cents") * col("nrow") > col("tot"))
      .select(col("event_type"), to_date(col("day")).as("day"),
        (col("cents") / 100.0).as("rev"),
        ((col("cents") - greatest(col("nb"), col("na"))) / 100.0).as("prominence"))
      .orderBy(col("event_type").asc, col("day").asc)
  }

  /** Hurst exponent by the aggregated-variance method (round-9 wave 15)
    * — the long-memory diagnostic: block the daily revenue series at
    * scales k ∈ {1,2,5,10}, variance of FULL-block sums scales as
    * k^2H, and the OLS slope of ln Var vs ln k halves into Ĥ. H ≈ 0.5
    * = no memory (this fixture's honest readout), > 0.5 = persistent
    * trends (forecast horizon exists), < 0.5 = mean-reverting. The
    * third member of the forecastability panel — ts_perm_entropy asks
    * "how complex", ts_autocorr "how correlated at lag ℓ", this asks
    * "does dependence DECAY like a power law".
    *
    * Determinism: block sums are exact integer cents (block id = exact
    * integer arithmetic on row_number, partial blocks dropped by
    * census); variance is the TWO-PASS form (mean window, then
    * Σ(s−mean)²/(m−1)) spelled identically in both engines — never
    * var_samp, whose streaming accumulation differs per engine; the
    * regressor ln k is a LITERAL per branch of the scale spine, so the
    * OLS slope reduces to sums of ≤4 products of engine-identical
    * doubles, 4dp-rounded.
    *
    * Scale: one corpus hash agg to day grain; every window and the
    * regression run on the (type, scale, block) frame — bounded by the
    * calendar, not the corpus. */
  def tsHurst(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    val wDay = Window.partitionBy("event_type").orderBy(col("day").asc)
    val blocks = daily
      .withColumn("rn", row_number().over(wDay))
      .select(col("event_type"), col("cents"),
        explode(array(lit(1), lit(2), lit(5), lit(10))).as("k"),
        col("rn"))
      .withColumn("blk", expr("(rn - 1) div k"))
      .groupBy("event_type", "k", "blk")
      .agg(sum("cents").as("s"), count(lit(1)).as("bn"))
      .filter(col("bn") === col("k"))
    val wScale = Window.partitionBy("event_type", "k")
    val v = blocks
      .withColumn("m", count(lit(1)).over(wScale))
      .filter(col("m") >= 3)
      .withColumn("mean", avg(col("s").cast("double")).over(wScale))
      .groupBy("event_type", "k")
      .agg((sum((col("s") - col("mean")) * (col("s") - col("mean")))
        / (max("m") - 1)).as("v"))
      .withColumn("x", log(col("k").cast("double")))
      .withColumn("y", log(col("v")))
    v.groupBy("event_type")
      .agg(count(lit(1)).as("n_scales"),
        round((count(lit(1)) * sum(col("x") * col("y")) - sum("x") * sum("y")) /
          (count(lit(1)) * sum(col("x") * col("x")) - sum("x") * sum("x")) / 2.0, 4)
          .as("hurst"),
        round(log(max(when(col("k") === 1, col("v")))), 4).as("ln_var_k1"))
      .orderBy(col("event_type").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_hurst"    -> (tsHurst _),
    "ts_peaks"    -> (tsPeaks _),
    "ts_perm_entropy" -> (tsPermEntropy _),
    "ts_rsi"      -> (tsRsi _),
    "ts_donchian" -> (tsDonchian _),
    "ts_drawdown" -> (tsDrawdown _),
    "ts_decay" -> (tsDecay _),
    "ts_forecast_eval" -> (tsForecastEval _),
    "ts_periodogram" -> (tsPeriodogram _),
    "ts_brown"    -> (tsBrown _),
    "ts_cross_corr" -> (tsCrossCorr _),
    "ts_theilsen" -> (tsTheilsen _),
    "ts_interp"   -> (tsInterp _),
    "ts_seasonal" -> (tsSeasonal _),
    "ts_cusum"    -> (tsCusum _),
    "ts_changepoint" -> (tsChangepoint _),
    "ts_changepoint_deep" -> (tsChangepointDeep _),
    "ts_mad"      -> (tsMad _),
    "ts_ewma"     -> (tsEwma _),
    "ts_autocorr" -> (tsAutocorr _),
    "ts_gapfill"  -> (tsGapfill _),
    "ts_resample" -> (tsResample _),
    "ts_anomaly"  -> (tsAnomaly _))

  val oracleSql: Map[String, String] = Map(
    "ts_changepoint_deep" -> changepointDeepOracle(4, 8L),
    "ts_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, day),
        |s AS (
        |  SELECT event_type, day, c,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    count(*) OVER (PARTITION BY event_type) AS m,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS t
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |scored AS (
        |  SELECT *, abs(m * cum - i * t) AS dev FROM s),
        |root AS (
        |  SELECT event_type, i AS split_i, day AS split_day,
        |    dev AS root_dev, m AS days
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |          ORDER BY dev DESC, day ASC) AS rn
        |        FROM scored WHERE i < m)
        |  WHERE rn = 1),
        |lvl1 AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS level, 'all' AS segment,
        |    days AS seg_days, split_day, root_dev AS dev
        |  FROM root),
        |sided AS (
        |  SELECT s.*, CASE WHEN s.i <= r.split_i THEN 'pre' ELSE 'post' END AS segment,
        |    CASE WHEN s.i <= r.split_i THEN s.i ELSE s.i - r.split_i END AS i2
        |  FROM scored s JOIN root r USING (event_type)),
        |s2 AS (
        |  SELECT event_type, segment, day, i2,
        |    count(*) OVER (PARTITION BY event_type, segment) AS m2,
        |    CAST(sum(c) OVER (PARTITION BY event_type, segment) AS BIGINT) AS t2,
        |    CAST(sum(c) OVER (PARTITION BY event_type, segment ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
        |  FROM sided),
        |lvl2 AS (
        |  SELECT event_type, CAST(2 AS BIGINT) AS level, segment,
        |    m2 AS seg_days, day AS split_day, dev2 AS dev
        |  FROM (SELECT *, abs(m2 * cum2 - i2 * t2) AS dev2,
        |          row_number() OVER (PARTITION BY event_type, segment
        |            ORDER BY abs(m2 * cum2 - i2 * t2) DESC, day ASC) AS rn
        |        FROM s2 WHERE i2 < m2)
        |  WHERE rn = 1)
        |SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2
        |ORDER BY event_type ASC, level ASC, segment ASC""".stripMargin,
    "ts_hurst" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, day),
        |r AS (
        |  SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS rn
        |  FROM daily),
        |sp AS (SELECT r.*, CAST(unnest([1, 2, 5, 10]) AS INT) AS k FROM r),
        |b AS (
        |  SELECT event_type, k, (rn - 1) // k AS blk,
        |    CAST(sum(cents) AS BIGINT) AS s, count(*) AS bn
        |  FROM sp GROUP BY event_type, k, blk
        |  HAVING count(*) = k),
        |m AS (
        |  SELECT *, count(*) OVER (PARTITION BY event_type, k) AS m FROM b),
        |f AS (SELECT * FROM m WHERE m >= 3),
        |mn AS (
        |  SELECT *, avg(CAST(s AS DOUBLE))
        |    OVER (PARTITION BY event_type, k) AS mean
        |  FROM f),
        |v AS (
        |  SELECT event_type, k,
        |    sum((s - mean) * (s - mean)) / (max(m) - 1) AS v
        |  FROM mn GROUP BY event_type, k),
        |xy AS (
        |  SELECT event_type, k, v,
        |    ln(CAST(k AS DOUBLE)) AS x, ln(v) AS y
        |  FROM v)
        |SELECT event_type, count(*) AS n_scales,
        |  round((count(*) * sum(x * y) - sum(x) * sum(y))
        |    / (count(*) * sum(x * x) - sum(x) * sum(x)) / 2.0, 4) AS hurst,
        |  round(ln(max(CASE WHEN k = 1 THEN v END)), 4) AS ln_var_k1
        |FROM xy GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_peaks" ->
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, day),
        |f AS (
        |  SELECT event_type, day, cents,
        |    max(cents) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS nb,
        |    max(cents) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS na,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nrow,
        |    CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM d)
        |SELECT event_type, CAST(day AS DATE) AS day,
        |  cents / 100.0 AS rev,
        |  (cents - greatest(nb, na)) / 100.0 AS prominence
        |FROM f
        |WHERE rn > 3 AND rn <= nrow - 3
        |  AND cents > nb AND cents > na AND cents * nrow > tot
        |ORDER BY event_type ASC, day ASC""".stripMargin,
    "ts_perm_entropy" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |l AS (
        |  SELECT event_type, rev,
        |    lag(rev, 2) OVER w AS r0, lag(rev, 1) OVER w AS r1,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |pat AS (
        |  SELECT event_type,
        |    CASE
        |      WHEN r0 <= r1 AND r1 <= rev THEN '012'
        |      WHEN r0 <= rev AND rev < r1 THEN '021'
        |      WHEN r1 < r0 AND r0 <= rev THEN '102'
        |      WHEN rev < r0 AND r0 <= r1 THEN '120'
        |      WHEN r1 <= rev AND rev < r0 THEN '201'
        |      ELSE '210' END AS pattern
        |  FROM l WHERE rn >= 3),
        |c AS (SELECT event_type, pattern, count(*) AS n
        |      FROM pat GROUP BY event_type, pattern),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM c GROUP BY event_type)
        |SELECT c.event_type, count(*) AS n_patterns,
        |  round(-sum((n / CAST(tot AS DOUBLE)) * ln(n / CAST(tot AS DOUBLE)))
        |    / ln(6e0), 6) AS perm_entropy
        |FROM c JOIN t ON c.event_type = t.event_type
        |GROUP BY c.event_type ORDER BY c.event_type ASC""".stripMargin,
    "ts_rsi" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type, day, rev,
        |    rev - lag(rev) OVER w AS diff,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |g AS (
        |  SELECT event_type, day, rn,
        |    round(avg(CASE WHEN diff > 0 THEN diff ELSE 0e0 END) OVER f, 4) AS ag,
        |    round(avg(CASE WHEN diff < 0 THEN -diff ELSE 0e0 END) OVER f, 4) AS al
        |  FROM d WINDOW f AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  round(CASE WHEN al = 0 THEN 100
        |    ELSE 100 - 100 / (1 + ag / al) END, 4) AS rsi_14
        |FROM g WHERE rn >= 15
        |ORDER BY event_type ASC, day ASC""".stripMargin,
    "ts_donchian" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type, day, rev,
        |    max(rev) OVER f AS hi, min(rev) OVER f AS lo,
        |    max(rev) OVER fp AS hi_prev, min(rev) OVER fp AS lo_prev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS rn
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |  fp AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 19 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, count(*) AS days,
        |  CAST(sum(CASE WHEN rev > hi_prev THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_highs,
        |  CAST(sum(CASE WHEN rev < lo_prev THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_lows,
        |  round(avg(hi - lo), 2) AS avg_range,
        |  round(max(hi - lo), 2) AS max_range
        |FROM d WHERE rn >= 20
        |GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type, day, rev,
        |    max(rev) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
        |    count(*) OVER (PARTITION BY event_type) AS days
        |  FROM daily),
        |r AS (
        |  SELECT event_type, days, day, peak, rev,
        |    CASE WHEN peak > 0 THEN round((peak - rev) / peak, 6)
        |         ELSE 0e0 END AS dd,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CASE WHEN peak > 0 THEN round((peak - rev) / peak, 6)
        |               ELSE 0e0 END DESC, day ASC) AS rn
        |  FROM d)
        |SELECT event_type, days, day AS worst_day,
        |  round(peak, 2) AS peak_rev, rev AS trough_rev, dd AS max_drawdown
        |FROM r WHERE rn = 1 ORDER BY event_type ASC""".stripMargin,
    "ts_decay" ->
      """WITH wm AS (SELECT max(ts) AS wm FROM events),
        |t AS (
        |  SELECT event_type, value,
        |    round(exp(((epoch_us((SELECT wm FROM wm)) - epoch_us(ts))
        |      / 86400000000e0) * (-ln(2e0) / 30e0)), 6) AS w
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(sum(w), 4) AS sum_w,
        |  round(sum(w * w), 4) AS sum_w2,
        |  round(sum(w) * sum(w) / sum(w * w), 4) AS ess,
        |  round(sum(w * value), 2) AS decayed_value
        |FROM t GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_forecast_eval" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |b1 AS (
        |  SELECT event_type, day, rev,
        |    date_diff('day', first_value(day) OVER w, day) AS tt,
        |    first_value(rev) OVER w AS x0
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c1 AS (
        |  SELECT event_type, day, rev, tt, x0,
        |    sum(rev * pow(125e-2, tt)) OVER (
        |      PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM b1),
        |e1 AS (
        |  SELECT event_type, day, rev AS x,
        |    round(pow(8e-1, tt) * (x0 + 2e-1 * (s - x0)), 4) AS s1
        |  FROM c1),
        |b2 AS (
        |  SELECT event_type, day, x, s1,
        |    date_diff('day', first_value(day) OVER w, day) AS tt,
        |    first_value(s1) OVER w AS x0
        |  FROM e1
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c2 AS (
        |  SELECT event_type, day, x, s1, tt, x0,
        |    sum(s1 * pow(125e-2, tt)) OVER (
        |      PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM b2),
        |e2 AS (
        |  SELECT event_type, day, x, s1,
        |    round(pow(8e-1, tt) * (x0 + 2e-1 * (s - x0)), 4) AS s2
        |  FROM c2),
        |br AS (
        |  SELECT event_type, day, x,
        |    round(round(2.0 * s1 - s2, 4)
        |      + (round(0.25 * (s1 - s2), 6) + 0.0), 6) + 0.0 AS fcst_next
        |  FROM e2),
        |ld AS (
        |  SELECT event_type, x, fcst_next,
        |    lead(x, 1) OVER (PARTITION BY event_type ORDER BY day ASC) AS x_next
        |  FROM br),
        |f AS (SELECT * FROM ld WHERE x_next IS NOT NULL)
        |SELECT event_type, count(*) AS n_evals,
        |  round(avg(abs(x_next - fcst_next)), 4) AS mae_fcst,
        |  round(avg(abs(x_next - x)), 4) AS mae_naive,
        |  round(sqrt(avg((x_next - fcst_next) * (x_next - fcst_next))), 4) AS rmse_fcst,
        |  round(1.0 - avg(abs(x_next - fcst_next)) / avg(abs(x_next - x)), 6) + 0.0 AS skill
        |FROM f GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_periodogram" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |idx AS (
        |  SELECT event_type, rev,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day ASC) - 1 AS DOUBLE) AS t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
        |  FROM daily),
        |mu AS (SELECT event_type AS et, round(avg(rev), 4) AS mu FROM idx GROUP BY et),
        |ks AS (SELECT CAST(unnest(generate_series(1, 10)) AS INT) AS k),
        |terms AS (
        |  SELECT i.event_type, ks.k,
        |    (i.rev - mu.mu) * cos(2.0 * pi() * ks.k * i.t / i.n) AS ca,
        |    (i.rev - mu.mu) * sin(2.0 * pi() * ks.k * i.t / i.n) AS cb
        |  FROM idx i JOIN mu ON i.event_type = mu.et CROSS JOIN ks),
        |p AS (
        |  SELECT event_type, k,
        |    round(sum(ca) * sum(ca) + sum(cb) * sum(cb), 2) AS power
        |  FROM terms GROUP BY event_type, k)
        |SELECT event_type, k, power,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY power DESC, k ASC) = 1 AS INT) AS is_peak
        |FROM p ORDER BY event_type ASC, k ASC""".stripMargin,
    "ts_brown" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |b1 AS (
        |  SELECT event_type, day, rev,
        |    date_diff('day', first_value(day) OVER w, day) AS tt,
        |    first_value(rev) OVER w AS x0
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c1 AS (
        |  SELECT event_type, day, rev, tt, x0,
        |    sum(rev * pow(125e-2, tt)) OVER (
        |      PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM b1),
        |e1 AS (
        |  SELECT event_type, day, rev AS x,
        |    round(pow(8e-1, tt) * (x0 + 2e-1 * (s - x0)), 4) AS s1
        |  FROM c1),
        |b2 AS (
        |  SELECT event_type, day, x, s1,
        |    date_diff('day', first_value(day) OVER w, day) AS tt,
        |    first_value(s1) OVER w AS x0
        |  FROM e1
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c2 AS (
        |  SELECT event_type, day, x, s1, tt, x0,
        |    sum(s1 * pow(125e-2, tt)) OVER (
        |      PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM b2),
        |e2 AS (
        |  SELECT event_type, day, x, s1,
        |    round(pow(8e-1, tt) * (x0 + 2e-1 * (s - x0)), 4) AS s2
        |  FROM c2)
        |SELECT event_type, day, x, s1, s2,
        |  round(2.0 * s1 - s2, 4) AS level,
        |  round(0.25 * (s1 - s2), 6) + 0.0 AS trend,
        |  round(round(2.0 * s1 - s2, 4) + (round(0.25 * (s1 - s2), 6) + 0.0), 6) + 0.0 AS fcst_next
        |FROM e2 ORDER BY event_type ASC, day ASC""".stripMargin,
    "ts_cross_corr" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev,
        |    date_diff('day', DATE '1970-01-01', date_trunc('day', ts)) AS d
        |  FROM events GROUP BY event_type, day),
        |lags AS (SELECT CAST(unnest(generate_series(-3, 3)) AS INT) AS lag),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
        |    a.rev AS xa, b.rev AS xb
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON a.event_type < b.event_type AND b.d = a.d + l.lag),
        |sums AS (
        |  SELECT ta, tb, lag, count(*) AS k,
        |    sum(xa) AS sx, sum(xb) AS sy,
        |    sum(xa * xa) AS sxx, sum(xb * xb) AS syy, sum(xa * xb) AS sxy
        |  FROM pairs GROUP BY ta, tb, lag
        |  HAVING count(*) >= 10),
        |sc AS (
        |  SELECT ta, tb, lag, k,
        |    round((k * sxy - sx * sy)
        |      / sqrt((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) + 0.0 AS corr
        |  FROM sums),
        |r AS (
        |  SELECT ta, tb, lag, k, corr,
        |    row_number() OVER (PARTITION BY ta, tb
        |      ORDER BY corr DESC, lag ASC) AS rn
        |  FROM sc)
        |SELECT ta, tb, lag AS best_lag, k AS n_days, corr
        |FROM r WHERE rn = 1 ORDER BY ta ASC, tb ASC""".stripMargin,
    "ts_theilsen" ->
      """WITH monthly AS (
        |  SELECT n.n_name,
        |    year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mi,
        |    round(sum(o.o_totalprice), 2) AS rev
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, mi),
        |pairs AS (
        |  SELECT a.n_name,
        |    round((b.rev - a.rev) / (b.mi - a.mi), 6) AS slope,
        |    a.mi AS m1, b.mi AS m2
        |  FROM monthly a JOIN monthly b
        |    ON a.n_name = b.n_name AND a.mi < b.mi),
        |r AS (
        |  SELECT n_name, slope,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY slope ASC, m1 ASC, m2 ASC) AS rn,
        |    count(*) OVER (PARTITION BY n_name) AS cnt
        |  FROM pairs)
        |SELECT n_name, cnt AS n_pairs, slope AS ts_slope
        |FROM r WHERE rn = (cnt + 1) // 2
        |ORDER BY n_name ASC""".stripMargin,
    "ts_interp" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS prio, date_trunc('day', o_orderdate) AS day,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY prio, day),
        |d AS (
        |  SELECT prio, day, rev,
        |    date_diff('day', DATE '1970-01-01', date_trunc('day', day)) AS d,
        |    CASE WHEN rev >= 300000 THEN rev END AS obs
        |  FROM daily),
        |w AS (
        |  SELECT prio, day, rev, d, obs,
        |    last_value(CAST(round(obs * 100, 0) AS BIGINT) IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN obs IS NOT NULL THEN d END IGNORE NULLS) OVER wp AS pd,
        |    first_value(CAST(round(obs * 100, 0) AS BIGINT) IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN obs IS NOT NULL THEN d END IGNORE NULLS) OVER wn AS nd
        |  FROM d
        |  WINDOW
        |    wp AS (PARTITION BY prio ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY prio ORDER BY day ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT prio, day, rev,
        |  CAST(obs IS NOT NULL AS INT) AS observed,
        |  CASE
        |    WHEN obs IS NOT NULL THEN round(obs, 4)
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL
        |      THEN (((pv * (nd - d) + nv * (d - pd)) * 20000 + (nd - pd) * 100)
        |        // ((nd - pd) * 200)) / 10000.0
        |    ELSE round(coalesce(pv, nv) / 100.0, 4) END AS rev_interp
        |FROM w ORDER BY prio ASC, day ASC""".stripMargin,
    "ts_seasonal" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |d AS (
        |  SELECT event_type, rev,
        |    rev - avg(rev) OVER (PARTITION BY event_type, isodow(day) - 1) AS resid
        |  FROM daily)
        |SELECT event_type, count(*) AS days,
        |  round(avg(rev), 2) AS mean_rev,
        |  round(var_pop(rev), 2) AS raw_var,
        |  round(var_pop(resid), 2) AS deseason_var,
        |  round(1e0 - var_pop(resid) / var_pop(rev), 4) AS strength
        |FROM d GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |s AS (
        |  SELECT event_type, day,
        |    row_number() OVER w AS i,
        |    sum(rev) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    avg(rev) OVER (PARTITION BY event_type) AS mean,
        |    count(*) OVER (PARTITION BY event_type) AS days
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
        |d AS (
        |  SELECT event_type, day, days, mean,
        |    round(abs(cum - i * mean), 2) AS dev,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY round(abs(cum - i * mean), 2) DESC, day ASC) AS rn
        |  FROM s)
        |SELECT event_type, days, day AS cp_day, dev AS max_dev,
        |  round(mean, 2) AS mean_rev
        |FROM d WHERE rn = 1 ORDER BY event_type ASC""".stripMargin,
    "ts_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |l AS (
        |  SELECT event_type, day, rev,
        |    lag(rev, 1) OVER w AS prev_rev,
        |    lag(day, 1) OVER w AS prev_day
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC))
        |SELECT event_type, count(*) AS pairs,
        |  round(corr(rev, prev_rev), 6) AS rho1
        |FROM l WHERE date_diff('day', prev_day, day) = 1
        |GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "ts_mad" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |m AS (SELECT event_type, quantile_cont(round(rev * 100, 0), 0.5) AS med_c
        |      FROM daily GROUP BY event_type),
        |d AS (SELECT daily.event_type, rev, med_c,
        |        abs(round(rev * 100, 0) - med_c) AS adev_c
        |      FROM daily JOIN m ON daily.event_type = m.event_type),
        |md AS (SELECT event_type, quantile_cont(adev_c, 0.5) AS mad_c
        |       FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS days,
        |  round(any_value(d.med_c) / 100, 3) AS med,
        |  round(any_value(md.mad_c) / 100, 3) AS mad_,
        |  count(*) FILTER (WHERE adev_c > 4.4478e0 * mad_c) AS outliers
        |FROM d JOIN md ON d.event_type = md.event_type
        |GROUP BY d.event_type ORDER BY d.event_type ASC""".stripMargin,
    "ts_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY event_type, day),
        |b AS (
        |  SELECT event_type, day, rev,
        |    date_diff('day', first_value(day) OVER w, day) AS tt,
        |    first_value(rev) OVER w AS x0
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  SELECT event_type, day, rev, tt, x0,
        |    sum(rev * pow(125e-2, tt)) OVER (
        |      PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM b)
        |SELECT event_type, day, rev,
        |  round(pow(8e-1, tt) * (x0 + 2e-1 * (s - x0)), 4) AS ewma
        |FROM c ORDER BY event_type ASC, day ASC""".stripMargin,
    "ts_gapfill" ->
      """WITH bounds AS (
        |  SELECT date_trunc('day', min(o_orderdate)) AS mn,
        |         date_trunc('day', max(o_orderdate)) AS mx FROM orders),
        |spine AS (
        |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day FROM bounds),
        |sparse AS (
        |  SELECT date_trunc('day', o_orderdate) AS day, round(sum(o_totalprice), 2) AS rev
        |  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
        |  GROUP BY day)
        |SELECT spine.day, sparse.rev,
        |  coalesce(last_value(sparse.rev IGNORE NULLS) OVER (
        |    ORDER BY spine.day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS rev_filled
        |FROM spine LEFT JOIN sparse ON spine.day = sparse.day
        |ORDER BY spine.day ASC""".stripMargin,
    "ts_anomaly" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS day,
        |         round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY day),
        |s AS (
        |  SELECT day, rev,
        |    avg(rev) OVER w AS mu, stddev_samp(rev) OVER w AS sd
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ASC ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        |SELECT day, rev, round((rev - mu) / sd, 4) AS z,
        |  abs((rev - mu) / sd) > 2 AS anomaly
        |FROM s ORDER BY day ASC""".stripMargin,
    "ts_resample" ->
      """WITH b AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts)/900)*900 AS BIGINT)*1000000) AS wstart,
        |         event_type, event_id, ts, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY wstart, event_type ORDER BY ts ASC, event_id ASC) AS ro,
        |    row_number() OVER (PARTITION BY wstart, event_type ORDER BY ts DESC, event_id DESC) AS rc
        |  FROM b)
        |SELECT wstart, event_type, count(*) AS n,
        |  max(CASE WHEN ro = 1 THEN value END) AS open,
        |  max(CASE WHEN rc = 1 THEN value END) AS close,
        |  round(min(value), 2) AS low, round(max(value), 2) AS high
        |FROM r GROUP BY wstart, event_type
        |ORDER BY wstart ASC, event_type ASC""".stripMargin)
}
