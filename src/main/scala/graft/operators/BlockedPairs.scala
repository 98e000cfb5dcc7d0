package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one candidate-pair core. Every blocked self-join in the engine
  * (all unordered pairs of rows that share a block key) goes through
  * `selfPairs`, which alone owns the block-key match, the `a.id < b.id`
  * inequality that emits each unordered pair once, the optional salt,
  * and (through `lshPairs`) the banded-LSH first-shared-band rule.
  * Callers read the two rows of a pair as `a.<col>` and `b.<col>`.
  *
  * Plain form: `d.as("a").join(d.as("b"), keys && a.id < b.id && extra)`,
  * a hash or sort-merge join on the block keys. All of one key's k²/2
  * candidates land on ONE task whatever the cluster's width (AQE's skew
  * split can divide a partition, never one key's matches), which is
  * fine while keys are many and blocks small.
  *
  * When to salt: when the block key has low cardinality relative to the
  * cluster's width, so the hottest block would own a task. The
  * (lang, length-band) blocks of `llm_dedup_near` (~50 values) and the
  * 256 sign buckets of `llm_semdedup` are salted; every other site's
  * keys are high-cardinality or its frame is pre-aggregated.
  *
  * Salted form (triangle / 1-bucket-theta partitioning, Okcan &
  * Riedewald): each row gets a salt s = hash(id) mod S. The S·(S+1)/2
  * unordered salt pairs {i ≤ j} become join buckets. A row salted s
  * enters bucket (i, j) on the LEFT when i = s (so j ranges s..S−1: S−s
  * copies) and on the RIGHT when j = s (so i ranges 0..s: s+1 copies). A
  * doc pair with salts (sa, sb), sa ≤ sb, then meets in EXACTLY bucket
  * (sa, sb) — the left side pins i to the smaller salt, the right pins j
  * to the larger — except both orientations appear on the diagonal
  * bucket (s, s), where the id inequality dedups as usual.
  *
  * Cost: S+1 payload copies through the shuffle (linear, spread over all
  * map tasks) buys a per-key candidate bound of (2k/S)² for a block of k
  * — S=8 turns one k²-sized task into ≤36 tasks of ~k²/16 each. Total
  * candidate work is unchanged (Σ per-bucket products telescopes back to
  * k²/2 per block); only its placement changes, so the pair set is the
  * plain form's pair for pair (SkewCanarySpec asserts both properties).
  */
object BlockedPairs {

  val DefaultShards = 8

  /** All unordered pairs of rows of `d` with equal `blockKeys`, as `a`
    * and `b` with a.`id` < b.`id`, kept where `extra` holds. The plain
    * form joins `d` aliased `a` and `b`, with `extra` in the join
    * condition. The salted form returns structs `a` and `b` of the
    * non-block-key columns, filtered by `extra`. */
  def selfPairs(d: DataFrame, blockKeys: Seq[String], id: String,
      extra: Column = lit(true), salted: Boolean = false): DataFrame =
    if (salted) saltedPairs(d, blockKeys, id).filter(extra)
    else d.as("a").join(d.as("b"),
      blockKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id") && extra)

  /** Banded-LSH candidates over a band table with one row per item and
    * band (`band` in 0 until `nBands`, its hash `bh`): the plain pairs of
    * each (band, bh) bucket, each pair emitted ONCE, at its first shared
    * band, and kept where `extra` holds. `bandHash(side, j)` is band j's
    * hash on side "a" or "b"; a pair found in band j is dropped when any
    * earlier band also matches, so no pair-level distinct shuffle is
    * needed. The band rule is tested before `extra`, so a costly `extra`
    * runs once per pair. */
  def lshPairs(bands: DataFrame, id: String, nBands: Int, extra: Column = lit(true))(
      bandHash: (String, Int) => Column): DataFrame = {
    val firstSharedBand = (0 until nBands).map { j =>
      (0 until j).foldLeft(col("a.band") === j)((c, p) =>
        c && bandHash("a", p) =!= bandHash("b", p))
    }.reduce(_ || _)
    selfPairs(bands, Seq("band", "bh"), id).filter(firstSharedBand && extra)
  }

  /** The replicated join sides of the salted form, exposed for
    * SkewCanarySpec's work-balance audit. Block keys are prefixed l_/r_,
    * everything else rides in the `r`/`s` payload structs. */
  private[graft] def saltedSides(d: DataFrame, blockKeys: Seq[String],
      id: String): (DataFrame, DataFrame) = {
    val payload = struct(d.columns.toIndexedSeq.filterNot(blockKeys.contains).map(col): _*)
    val keyed = d.select(
      blockKeys.map(col) ++ Seq(
        pmod(xxhash64(col(id)), lit(DefaultShards.toLong)).cast("int").as("salt"),
        payload.as("r")): _*)
    val lhs = keyed.select(
      blockKeys.map(c => col(c).as(s"l_$c")) ++ Seq(
        col("salt").as("bi"),
        explode(sequence(col("salt"), lit(DefaultShards - 1))).as("bj"),
        col("r")): _*)
    val rhs = keyed.select(
      blockKeys.map(c => col(c).as(s"r_$c")) ++ Seq(
        explode(sequence(lit(0), col("salt"))).as("ci"),
        col("salt").as("cj"),
        col("r").as("s")): _*)
    (lhs, rhs)
  }

  private def saltedPairs(d: DataFrame, blockKeys: Seq[String], id: String): DataFrame = {
    val (lhs, rhs) = saltedSides(d, blockKeys, id)
    val rFirst = col(s"r.$id") < col(s"s.$id")
    val keyCond = blockKeys.map(c => col(s"l_$c") === col(s"r_$c")).reduce(_ && _)
    lhs.join(rhs, keyCond && col("bi") === col("ci") && col("bj") === col("cj") &&
        (col("bi") =!= col("bj") || rFirst))
      .select(
        when(rFirst, col("r")).otherwise(col("s")).as("a"),
        when(rFirst, col("s")).otherwise(col("r")).as("b"))
  }
}
