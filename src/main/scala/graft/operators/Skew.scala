package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew mitigation (task mandate: "skewed keys → salting or AQE
  * skew-join").
  *
  * Two complementary mechanisms, both exercised here:
  *  - **AQE skew-join** (on by default, `spark.sql.adaptive.skewJoin.*`)
  *    splits oversized shuffle partitions at runtime — the first line of
  *    defense for skewed JOINs; nothing to code. Measured A/B (STRESS.md
  *    round-15, 60 M rows): at hot-key share ≤ a few % do
  *    nothing (both mitigations are overhead); at ~10–20% AQE alone
  *    suffices and beats the salt (the replicated-dim shuffle costs more
  *    than the skew); at ≥ ~50%-on-one-key AQE stops helping and the
  *    salt halves the join — only re-KEYING spreads a single key across
  *    reducers, re-partitioning cannot.
  *  - **Salting** — for aggregations whose single hot key would bottleneck
  *    one reducer even after AQE: spray the hot key across N salt buckets,
  *    aggregate partially per (key, salt), then merge the N partials. The
  *    shuffle carries N rows for the hot key instead of all its raw rows.
  *    (For q1-style aggs Spark's map-side partial aggregation already does
  *    this implicitly; explicit salting matters for aggregates with large
  *    intermediate state per group — collect_list, count-distinct,
  *    sketches — where map-side combine can't compress.)
  */
object Skew {

  /** Generic salted two-phase aggregation: count + sum per key, computed
    * as (key, salt)-partials then merged. Result is EXACTLY the plain
    * groupBy (count/sum are associative), which is what the oracle
    * verifies. */
  private[graft] def saltedAgg(df: DataFrame, key: Column, salts: Int,
                               value: Column): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
      .groupBy(key.as("key"), col("_salt"))
      .agg(count(lit(1)).as("pn"), sum(value).as("psum"))
      .groupBy("key")
      .agg(sum("pn").as("n"), sum("psum").as("vsum"))

  /** Declared query: per-user event counts/sums via 16-way salting —
    * hash-verified against the unsalted formulation in DuckDB. The fixture
    * has no pathological key, so this proves CORRECTNESS of the rewrite;
    * the scale win appears exactly when one user dominates the stream. */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    saltedAgg(Tables.events(spark, dir), col("user_id"), 16, col("value"))
      .select(col("key").as("user_id"), col("n"), round(col("vsum"), 2).as("val"))
      .orderBy(col("user_id").asc)

  /** Salted SKEW JOIN: fact side gets a random salt in [0, N); the
    * (small) build side is replicated N× with every salt value, and the
    * join key becomes (key, salt) — a hot fact key's rows now land on N
    * reducers instead of one. Result is EXACTLY the unsalted join (each
    * fact row still meets each matching build row exactly once — on its
    * own salt replica), which the oracle verifies. This is the manual
    * fallback for when AQE skew-join can't help (e.g. the skew is in the
    * GROUP BY after the join, or the runtime stats miss it). */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val salts = 8
    val ev = Tables.events(spark, dir)
      .withColumn("_salt", pmod(xxhash64(col("event_id")), lit(salts)))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("_salt", explode(array((0 until salts).map(lit(_)): _*)))
    ev.join(cust,
        ev("user_id") === cust("c_custkey") && ev("_salt") === cust("_salt").cast("bigint"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"))
      .orderBy(col("c_mktsegment").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_agg"  -> (skewSaltedAgg _),
    "skew_salted_join" -> (skewSaltedJoin _))

  val oracleSql: Map[String, String] = Map(
    "skew_salted_agg" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY user_id ORDER BY user_id ASC""".stripMargin,
    "skew_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS val
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment ASC""".stripMargin)
}
