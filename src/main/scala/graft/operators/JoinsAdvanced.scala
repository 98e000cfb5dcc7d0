package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.C (advanced) — theta/band, as-of, and interval joins.
  *
  * Scale notes (SURVEY §4.4): none of these is an unbounded cross join —
  * each carries an equi component (brand / user) that Catalyst plans as a
  * hash/sort-merge join, with the range predicate applied as a post-join
  * filter inside the same stage. The as-of join is the group-by-arg-max
  * formulation: partial aggregation pushes the max(struct) to the map
  * side, so the shuffle carries one row per event, not per candidate
  * match; at 100 TB the upgrade path is a sort-merge on (user, time) with
  * last-value carry (custom strategy, SURVEY §4.3 — not needed at bench
  * scale). Tie-breaks: (o_orderdate, o_orderkey) struct max (§2.Z.6).
  */
object JoinsAdvanced {

  /** Band (theta) join: part pairs within the same brand whose sizes differ
    * by ≤ 2; `a_key < b_key` canonicalizes pairs.
    *
    * Round-11 re-block (STRESS.md full-suite finding): the original equi
    * key was brand ALONE — 25 values, so candidates grew with
    * (parts-per-brand)² and the 10× frame ran ×52 while only ~10% of
    * brand-pairs survive the size filter. The join key is now
    * (brand, size-bucket) with bucket = size DIV 3 and the a-side
    * exploded to its 3 adjacent buckets — the standard banded block for
    * |Δ| ≤ 2 with stride 3: every qualifying pair lands in EXACTLY one
    * (a-emitted bucket = b's bucket) cell (|Δsize| ≤ 2 ⇒ bucket diff
    * ≤ 1, and b's bucket is a single value), so no dedup pass, and the
    * candidate set is Σ per-(brand, bucket) occupancy² — bounded by
    * local size density like every blocked pair stage in the engine,
    * not by brand width. Same rows out; the TRUE output (all
    * qualifying pairs) is inherently quadratic in per-size density, so
    * past the block fix, work ∝ output is the floor. */
  def joinThetaBand(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val a = p.select(col("p_partkey").as("a_key"), col("p_brand").as("brand"),
        col("p_size").as("a_size"))
      .withColumn("bkt",
        explode(array(expr("a_size DIV 3 - 1"), expr("a_size DIV 3"),
          expr("a_size DIV 3 + 1"))))
    val b = p.select(col("p_partkey").as("b_key"), col("p_brand").as("b_brand"),
        col("p_size").as("b_size"), expr("p_size DIV 3").as("b_bkt"))
    // self-pair bound: 9 candidate sizes per output's 5, so candidates stay ~2× the output
    a.join(b, col("brand") === col("b_brand") && col("bkt") === col("b_bkt") &&
             col("a_key") < col("b_key") &&
             abs(col("a_size") - col("b_size")) <= 2)
      .groupBy("brand")
      .agg(count(lit(1)).as("pairs"),
           round(avg(abs(col("a_size") - col("b_size"))), 6).as("avg_diff"))
      .orderBy(col("brand").asc)
  }

  /** FORWARD as-of: each view event picks the same user's FIRST purchase
    * at/after its timestamp (pandas merge_asof direction='forward' — the
    * "time to next action" primitive). Same declarative arg-MIN shape as
    * the backward join, so the same partial-aggregation scale story
    * applies; inner semantics, so views with no later purchase drop out.
    * Both sides live in the events table's time range, so the time
    * predicate genuinely selects (an events→orders pairing would be
    * vacuous: fixture orders all predate fixture events). */
  def joinAsofFwd(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .select("event_id", "ts", "user_id")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    v.join(p, col("user_id") === col("p_user") && col("p_ts") >= col("ts"))
      .groupBy("event_id", "ts", "user_id")
      .agg(min(struct(col("p_ts"), col("p_id"))).as("best"))
      .select(
        col("event_id"), col("ts"), col("user_id"),
        col("best.p_ts").as("next_ts"),
        col("best.p_id").as("next_id"))
      .orderBy(col("event_id").asc)
  }

  /** As-of join: each event picks the user's most recent order at/before
    * its timestamp, via group-by arg-max with a (date, key) tie-break. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "ts", "user_id")
    val od = Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_orderdate")
    ev.join(od, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"))
      .groupBy("event_id", "ts", "user_id")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
      .select(
        col("event_id"), col("ts"), col("user_id"),
        col("best.o_orderdate").as("best_orderdate"),
        col("best.o_orderkey").as("best_orderkey"))
      .orderBy(col("event_id").asc)
  }

  /** Interval join: for each event, how many events of the same user fall
    * in [ts, ts + 1h) — equi on user, range on time.
    *
    * Bucketed formulation: the build side is assigned to its epoch-hour
    * bucket; each probe event is exploded into its own and the NEXT
    * bucket (every match for a 1-hour window lies in exactly one of the
    * two, and bucket values are disjoint so no pair is double-counted).
    * The join key is (user, bucket) — a plain partitionable equi-join —
    * and the time predicate only filters within two bounded buckets. The
    * round-1 user-only equi-join made every same-user event pair a
    * candidate: quadratic in events-per-hot-user, the classic interval-
    * join skew bomb at 100 TB. */
  def joinInterval(spark: SparkSession, dir: String): DataFrame = {
    val hourOf = (c: Column) => floor(unix_micros(c) / (3600L * 1000000L))
    val e = Tables.events(spark, dir)
    val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withColumn("bkt", explode(array(hourOf(col("a_ts")), hourOf(col("a_ts")) + 1)))
    val b = e.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      hourOf(col("ts")).as("b_bkt"))
    a.join(b, col("a_user") === col("b_user") && col("bkt") === col("b_bkt") &&
             col("b_ts") >= col("a_ts") &&
             col("b_ts") < col("a_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("a_id").as("event_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_id").asc)
  }

  /** The SAME as-of semantics through the native physical operator
    * (graft.plans.AsofJoinExec — custom LogicalPlan/Strategy/SparkPlan,
    * SURVEY §4.3's deferred upgrade): one hash shuffle per side, one
    * in-partition merge pass, no candidate-pair materialization. Shares
    * joinAsof's oracle — both must produce identical rows. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "ts", "user_id")
    val od = Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_orderdate")
    graft.plans.AsofJoin
      .asof(ev, od, "user_id", "ts", "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("o_orderdate").as("best_orderdate"),
        col("o_orderkey").as("best_orderkey"))
      .orderBy(col("event_id").asc)
  }

  /** The SAME interval semantics through the native physical operator
    * (graft.plans.IntervalJoinExec — sliding-buffer merge on
    * co-partitioned (user, ts)-sorted sides): each side shuffled exactly
    * once, no probe-row explode, no candidate-pair blowup. Shares
    * joinInterval's oracle — both must produce identical rows. */
  def joinIntervalNative(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
      col("ts").as("a_ts"))
    val b = e.select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    graft.plans.IntervalJoin
      .interval(a, b, "a_user", "a_ts", "b_user", "b_ts", 3600L * 1000000L)
      .groupBy(col("a_id").as("event_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_id").asc)
  }

  /** Fuzzy (edit-distance) join — the entity-resolution primitive: part
    * pairs within a brand whose names are ≤3 edits apart. Blocked by the
    * brand equi-key (bounded quadratic per block, like every dedup pair
    * stage in this engine); `levenshtein` is the standard DP, identical
    * in both engines. Reported per brand to keep output bounded. */
  def joinFuzzy(spark: SparkSession, dir: String): DataFrame = {
    // Dedupe-then-pair: row-level pairing is quadratic in block size
    // (8M part pairs at sf0.1, 13 s of levenshtein), but names repeat
    // heavily (64 distinct at sf0.1) — so compare DISTINCT (brand, name)
    // groups once and weight by occurrence counts. Every row-level pair
    // maps to exactly one name-pair (cnt_a × cnt_b pairs across groups,
    // C(cnt,2) zero-distance pairs within a group), so counts and the
    // weighted average are IDENTICAL to the row-level formulation the
    // oracle runs. Thresholded levenshtein (early-exit banded DP) plus
    // the |len diff| ≤ k necessary condition bound per-pair cost.
    val g = Tables.part(spark, dir)
      .groupBy(col("p_brand").as("brand"), col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt"))
    val diff = BlockedPairs.selfPairs(g, Seq("brand"), "name",
        abs(length(col("a.name")) - length(col("b.name"))) <= 3)
      .withColumn("dist", levenshtein(col("a.name"), col("b.name"), 3))
      .filter(col("dist") >= 0)
      .select(col("a.brand").as("brand"), col("dist").cast("double").as("dist"),
        (col("a.cnt") * col("b.cnt")).as("w"))
    val same = g.filter(col("cnt") >= 2)
      .select(col("brand"), lit(0.0).as("dist"),
        expr("cnt * (cnt - 1) DIV 2").as("w")) // integral division: w stays BIGINT
    diff.unionByName(same)
      .groupBy("brand")
      .agg(sum("w").as("pairs"),
        round(sum(col("dist") * col("w")) / sum("w"), 6).as("avg_dist"))
      .orderBy(col("brand").asc)
  }

  /** Nearest temporal join (round-8 addendum): each event pairs with the
    * SAME-USER order whose o_orderdate sits closest in ABSOLUTE time —
    * the bidirectional cousin of join_asof, whose directional "latest
    * at-or-before" misses an order placed one second after the event.
    * Sensor/transaction alignment runs this shape constantly and neither
    * Spark nor ANSI SQL names an operator for it.
    *
    * Declared form: per-user equi-join + arg-min via min(struct(dt,
    * o_orderdate, o_orderkey)) — partial aggregation reduces every map
    * task to ≤1 row per event BEFORE the shuffle, so the wire carries
    * O(events) rows however many same-user orders exist (join_asof's
    * declared class). Where per-user pair volume itself is the bottleneck
    * the operator decomposes into the two directional as-ofs (≤1
    * candidate each from the native sort-merge AsofJoinExec) followed by
    * this same arg-min over ≤2 rows — identical semantics, linear work.
    * The distance is compared in integer MICROSECONDS on both engines
    * (unix_micros / epoch_us): no float in the ordering key, and the
    * (dt, o_orderdate, o_orderkey) tie-break means an equidistant
    * before/after pair resolves to the earlier order deterministically. */
  def joinNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "ts", "user_id")
    val od = Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_orderdate")
    ev.join(od, col("user_id") === col("o_custkey"))
      // the fixtures' naive-µs columns load as TIMESTAMP_NTZ; the cast to
      // TIMESTAMP reads them in the session zone (pinned UTC), so the
      // microsecond line matches DuckDB's epoch_us over the same naive values
      .withColumn("dt", abs(unix_micros(col("ts").cast("timestamp"))
        - unix_micros(col("o_orderdate").cast("timestamp"))))
      .groupBy("event_id", "ts", "user_id")
      .agg(min(struct(col("dt"), col("o_orderdate"), col("o_orderkey"))).as("best"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("best.o_orderdate").as("nearest_orderdate"),
        col("best.o_orderkey").as("nearest_orderkey"),
        col("best.dt").as("dist_us"))
      .orderBy(col("event_id").asc)
  }

  /** As-of join with a staleness tolerance (round-8 addendum) — the
    * variant every market-data/state-lookup pipeline actually deploys:
    * the latest prior record counts only if it is RECENT ENOUGH; a
    * stale match is worse than no match (kdb's `wj` window constraint /
    * Flink's temporal-join TTL). Framed as the repeat-purchase window:
    * each order pairs with the same customer's most recent STRICTLY
    * PRIOR order — (date, key) lexicographic, so same-day orders
    * resolve deterministically (§2.Z.6) — but only within 180 days
    * (events and orders occupy disjoint calendar ranges in the
    * fixtures, so a cross-table tolerance would be vacuously
    * unmatched; the self-as-of has a genuine matched/unmatched mix).
    * LEFT semantics: first orders and long-gap orders survive with
    * NULLs and matched=0 — the declared difference from join_asof's
    * inner form. Time distance is integer µs (unix_micros/epoch_us —
    * the join_nearest idiom; timestamp−interval arithmetic differs
    * across engines). Shape: the same partial-agg-bounded arg-max
    * equi-join as join_asof (the tolerance predicate only SHRINKS the
    * pair stream — and at production scale it is the range-pruning
    * handle a date-bucketed build side exploits), then one join back
    * keyed on the unique order key. */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 180L * 24 * 3600 * 1000000L
    // o_orderdate arrives TIMESTAMP_NTZ from the naive-µs parquet; the
    // NTZ→LTZ cast is wall-clock-preserving under the pinned UTC session
    def us(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
    val cur = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k1"), col("o_orderdate").as("d1"),
        col("o_custkey").as("c1"))
    val prior = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k2"), col("o_orderdate").as("d2"),
        col("o_custkey").as("c2"))
    val best = cur.join(prior,
      col("c1") === col("c2")
        && (us(col("d2")) < us(col("d1"))
          || (us(col("d2")) === us(col("d1")) && col("k2") < col("k1")))
        && us(col("d2")) >= us(col("d1")) - tolUs)
      .groupBy("k1")
      .agg(max(struct(col("d2"), col("k2"))).as("best"))
      .select(col("k1"), col("best.d2").as("prev_orderdate"),
        col("best.k2").as("prev_orderkey"))
    cur.join(best, Seq("k1"), "left")
      .select(col("k1").as("o_orderkey"), col("d1").as("o_orderdate"),
        col("c1").as("o_custkey"),
        col("prev_orderdate"), col("prev_orderkey"),
        col("prev_orderkey").isNotNull.cast("int").as("matched"))
      .orderBy(col("o_orderkey").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_asof_tolerance"  -> (joinAsofTolerance _),
    "join_nearest"         -> (joinNearest _),
    "join_fuzzy"           -> (joinFuzzy _),
    "join_theta_band"      -> (joinThetaBand _),
    "join_asof"            -> (joinAsof _),
    "join_asof_fwd"        -> (joinAsofFwd _),
    "join_asof_native"     -> (joinAsofNative _),
    "join_interval"        -> (joinInterval _),
    "join_interval_native" -> (joinIntervalNative _))

  private val asofOracle =
    """WITH j AS (
      |  SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
      |SELECT event_id, ts, user_id, o_orderdate AS best_orderdate, o_orderkey AS best_orderkey
      |FROM j WHERE rn = 1 ORDER BY event_id ASC""".stripMargin

  private val intervalOracle =
    """SELECT a.event_id, count(*) AS n
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
      |GROUP BY a.event_id ORDER BY a.event_id ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "join_asof_tolerance" ->
      """WITH j AS (
        |  SELECT a.o_orderkey AS k1, b.o_orderdate AS d2, b.o_orderkey AS k2,
        |    row_number() OVER (PARTITION BY a.o_orderkey
        |      ORDER BY b.o_orderdate DESC, b.o_orderkey DESC) AS rn
        |  FROM orders a JOIN orders b
        |    ON a.o_custkey = b.o_custkey
        |    AND (epoch_us(b.o_orderdate) < epoch_us(a.o_orderdate)
        |      OR (epoch_us(b.o_orderdate) = epoch_us(a.o_orderdate)
        |          AND b.o_orderkey < a.o_orderkey))
        |    AND epoch_us(b.o_orderdate) >= epoch_us(a.o_orderdate) - 15552000000000),
        |best AS (
        |  SELECT k1, d2 AS prev_orderdate, k2 AS prev_orderkey
        |  FROM j WHERE rn = 1)
        |SELECT a.o_orderkey, a.o_orderdate, a.o_custkey,
        |  b.prev_orderdate, b.prev_orderkey,
        |  CAST(b.prev_orderkey IS NOT NULL AS INT) AS matched
        |FROM orders a LEFT JOIN best b ON a.o_orderkey = b.k1
        |ORDER BY a.o_orderkey ASC""".stripMargin,
    "join_nearest" ->
      """WITH j AS (
        |  SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
        |    abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) AS dt,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) ASC,
        |               o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        |  FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        |SELECT event_id, ts, user_id, o_orderdate AS nearest_orderdate,
        |  o_orderkey AS nearest_orderkey, dt AS dist_us
        |FROM j WHERE rn = 1 ORDER BY event_id ASC""".stripMargin,
    "join_fuzzy" ->
      """SELECT a.p_brand AS brand, count(*) AS pairs, round(avg(dist), 6) AS avg_dist
        |FROM (
        |  SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS dist
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey) a
        |WHERE dist <= 3
        |GROUP BY brand ORDER BY brand ASC""".stripMargin,
    "join_theta_band" ->
      """SELECT a.p_brand AS brand, count(*) AS pairs,
        | round(avg(abs(a.p_size - b.p_size)), 6) AS avg_diff
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        | AND abs(a.p_size - b.p_size) <= 2
        |GROUP BY brand ORDER BY brand ASC""".stripMargin,
    "join_asof_fwd" ->
      """WITH j AS (
        |  SELECT v.event_id, v.ts, v.user_id, p.ts AS p_ts, p.event_id AS p_id,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY p.ts ASC, p.event_id ASC) AS rn
        |  FROM events v JOIN events p
        |    ON v.user_id = p.user_id AND p.ts >= v.ts
        |  WHERE v.event_type = 'view' AND p.event_type = 'purchase')
        |SELECT event_id, ts, user_id, p_ts AS next_ts, p_id AS next_id
        |FROM j WHERE rn = 1 ORDER BY event_id ASC""".stripMargin,
    "join_asof" -> asofOracle,
    "join_asof_native" -> asofOracle,
    "join_interval" -> intervalOracle,
    "join_interval_native" -> intervalOracle)
}
