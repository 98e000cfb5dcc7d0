package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import graft.operators.BlockedPairs

/** Skew canary for the blocked candidate-pair stage: pairs within a
  * low-cardinality block key must stay spread over many join keys, so an
  * edit that regresses the salted sites back to a plain block-key
  * self-join fails a test the way plan drift does. Four guards:
  *   1. BlockedPairs' plain and triangle-salted forms both give EXACTLY
  *      the hand-written blocked self-join's pair set (the oracles keep
  *      that formulation, so this is the correctness contract);
  *   2. each pair set is invariant under input partitioning (salts
  *      depend only on ids);
  *   3. no single join key owns more than a bounded share of the
  *      candidate-enumeration work — and the bound is far below the
  *      hottest BLOCK's share, which is what an unsalted join would put
  *      on one key;
  *   4. the live dedup queries' physical joins actually carry the two
  *      salt columns among their equi-keys (a revert that bypasses
  *      BlockedPairs shows up here even though shuffle COUNTS — the plan
  *      snapshot — would not move).
  */
class SkewCanarySpec extends AnyFunSuite {
  import TestSpark._

  private def blocks = Tables.documents(spark, sf001)
    .select(col("doc_id").as("id"), col("lang"), expr("n_chars div 100").as("band"))

  test("salted pairs = plain blocked pairs, and survive repartitioning") {
    val d = blocks
    def ids(pairs: DataFrame) = pairs.select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = ids(d.as("a").join(d.as("b"),
      col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.id") < col("b.id")))
    for (salted <- Seq(false, true); (input, parts) <- Seq(d -> "as read", d.repartition(7) -> "7")) {
      val pairs = ids(BlockedPairs.selfPairs(input, Seq("lang", "band"), "id",
        salted = salted))
      assert(pairs === naive, s"salted=$salted, partitions $parts")
      assert(pairs.forall { case (a, b) => a < b })
    }
  }

  test("no join key owns more than a bounded share of candidate work") {
    val (lhs, rhs) = BlockedPairs.saltedSides(blocks, Seq("lang", "band"), "id")
    val l = lhs.groupBy("l_lang", "l_band", "bi", "bj").agg(count(lit(1)).as("ln"))
    val r = rhs.groupBy("r_lang", "r_band", "ci", "cj").agg(count(lit(1)).as("rn"))
    val work = l.join(r,
        col("l_lang") === col("r_lang") && col("l_band") === col("r_band") &&
          col("bi") === col("ci") && col("bj") === col("cj"))
      .select((col("ln") * col("rn")).as("w"))
      .collect().map(_.getLong(0))
    val saltedShare = work.max.toDouble / work.sum
    // what ONE key would carry unsalted: the hottest block's k² share
    val blockSizes = blocks.groupBy("lang", "band").agg(count(lit(1)).as("k"))
      .collect().map(_.getLong(2))
    val sq = blockSizes.map(k => k * k)
    val unsaltedShare = sq.max.toDouble / sq.sum
    // measured at sf0.01: salted ≈ 0.013 (687 keys), unsalted ≈ 0.22 —
    // the bounds leave margin for fixture drift while staying an order
    // of magnitude apart
    assert(saltedShare <= 0.02, s"salted max-key share $saltedShare")
    assert(saltedShare * 5 < unsaltedShare,
      s"salting no longer spreads the hottest block: $saltedShare vs $unsaltedShare")
  }

  test("event-sized range joins: no user key owns an unbounded work share") {
    // join_scd2 and join_interval both equi-join events.user_id to
    // orders.o_custkey and band with a range predicate; the per-key work
    // a sort-merge join scans is n_events(u) × n_orders(u) BEFORE the
    // range filter prunes. Round-5 verdict ask #6: bound the hottest
    // key's share so a fixture or query drift toward a skewed user fails
    // loudly (AQE skew splitting helps stragglers but cannot fix a key
    // that owns the table).
    val ev = Tables.events(spark, sf001).groupBy("user_id")
      .agg(count(lit(1)).as("ne"))
    val od = Tables.orders(spark, sf001).groupBy("o_custkey")
      .agg(count(lit(1)).as("no"))
    val work = ev.join(od, col("user_id") === col("o_custkey"))
      .select((col("ne") * col("no")).as("w"))
      .collect().map(_.getLong(0))
    val share = work.max.toDouble / work.sum
    // measured at sf0.01: ≈ 0.0039 (uniform synthetic users); 0.02 leaves
    // 5× headroom while still failing on any real hot-key regression
    assert(share <= 0.02, s"hottest user owns $share of scd2/interval join work")
  }

  test("llm_bigram_lm scoring join: no bigram key owns an unbounded work share") {
    // The bigram LM shuffles the per-doc RLE frame dc once on b12 —
    // hash of the bigram (round 7: the single long key) — to score
    // against the per-bigram lp
    // table (1 row per key). Per-key work is therefore dc's row count per
    // bigram: docs-containing-that-bigram, a Zipf tail but bounded far
    // below any single-key hot spot. Mirrors the operator's in-row
    // distinct-bigram extraction.
    val counts = Tables.documents(spark, sf001)
      // same <2-token guard as the operator: sequence(1,0) descends to
      // [1,0] in Spark, so index 0 would throw on a bigram-less doc
      .where(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, size(split(text, ' ')) - 1),
          |  i -> xxhash64(element_at(split(text, ' '), i),
          |                element_at(split(text, ' '), i + 1)))""".stripMargin)))
        .as("b12"))
      .groupBy("b12").agg(count(lit(1)).as("w"))
      .collect().map(_.getLong(1))
    val share = counts.max.toDouble / counts.sum
    assert(share <= 0.02, s"hottest bigram owns $share of the scoring-join work")
  }

  test("dedup-family joins keep the salt columns in their equi-keys") {
    // AQE wraps the executed plan in AdaptiveSparkPlanExec (opaque until
    // run) — fingerprint the static plan, as PlanSnapshotSpec does
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    def joinKeys(q: String): Seq[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = {
      val plan = SparkEntry.queries(q)(session, sf0001).queryExecution.executedPlan
      // equi-join may plan as broadcast at test scale — keys are what matters
      plan.collect {
        case j: SortMergeJoinExec     => j.leftKeys
        case j: ShuffledHashJoinExec  => j.leftKeys
        case j: BroadcastHashJoinExec => j.leftKeys
      }
    }
    // llm_dedup_near's DECLARED plan is now a memo-file scan (the pair
    // stream is memoized); the salted join lives in the build plan that
    // every fresh session executes cold — fingerprint THAT.
    val nearKeys = operators.LlmOps.nearDupPairsBuild(session, sf0001)
      .queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec     => j.leftKeys
        case j: ShuffledHashJoinExec  => j.leftKeys
        case j: BroadcastHashJoinExec => j.leftKeys
      }.map(_.size)
    assert(nearKeys.nonEmpty && nearKeys.max >= 4,
      s"llm_dedup_near: expected a pair join keyed on (block keys + 2 salts), got key counts $nearKeys")
    // llm_ngram_jaccard (round 7) generates candidates from the inverted
    // index: its intersect join must be keyed on the SHINGLE hash (the
    // naturally high-cardinality key) plus the block keys — a regression
    // back to a (lang, band)-only self-join would shrink keys to 2 and
    // put whole blocks on single keys again.
    val ngramKeys = joinKeys("llm_ngram_jaccard")
    val names = ngramKeys.map(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
    }.toSet)
    assert(names.exists(n => n.contains("h") && n.contains("lang") && n.contains("band")),
      s"llm_ngram_jaccard: expected the intersect join keyed on (h, lang, band), got $names")
  }

  test("llm_ngram_jaccard inverted index: no shingle owns an unbounded pair-stream share") {
    // The index form's per-key work is df·(df−1)/2 for a (block, shingle)
    // with document frequency df — a boilerplate shingle shared by a
    // whole block would quadratically own the stream. Mirrors the
    // operator's map-side shingle extraction.
    val toksRaw = split(col("text"), " ")
    val nsh = greatest(size(toksRaw) - 2, lit(1))
    val shingles = array_distinct(transform(sequence(lit(1), nsh),
      i => concat_ws(" ", slice(toksRaw, i, lit(3)))))
    val work = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), expr("n_chars div 100").as("band"),
        explode(transform(shingles, s => xxhash64(s))).as("h"))
      .groupBy("lang", "band", "h").agg(count(lit(1)).as("df"))
      .select(expr("df*(df-1) div 2").as("w"))
      .filter(col("w") > 0)
      .collect().map(_.getLong(0))
    val share = work.max.toDouble / work.sum
    // measured at sf0.01: max df is single digits over a ~10k-pair
    // stream; 0.05 still fails loudly on any hot boilerplate shingle
    assert(share <= 0.05, s"hottest shingle owns $share of the pair stream")
  }

  test("llm_substring_dedup join-back: keyed on the shingle hash, df share bounded") {
    // The round-7 operator's join-back volume per shingle is df (LINEAR,
    // unlike the pairwise df²) — but a single mega-df boilerplate shingle
    // would still concentrate its df rows on one reducer key. Bound the
    // hottest shingle's share of the occurrence stream, mirroring the
    // operator's 8-token map-side extraction.
    val toksRaw = split(col("text"), " ")
    val nsh = greatest(size(toksRaw) - 7, lit(1))
    val shingles = array_distinct(transform(sequence(lit(1), nsh),
      i => xxhash64(concat_ws(" ", slice(toksRaw, i, lit(8))))))
    val dfs = Tables.documents(spark, sf001)
      .select(explode(shingles).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .collect().map(_.getLong(1))
    val share = dfs.max.toDouble / dfs.sum
    assert(share <= 0.01, s"hottest shingle owns $share of the join-back stream")
    // and the physical join-back must be keyed on h — a regression to a
    // doc-keyed or unkeyed form changes the volume class
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = SparkEntry.queries("llm_substring_dedup")(session, sf0001)
      .queryExecution.executedPlan
    val keyNames = plan.collect {
      case j: SortMergeJoinExec     => j.leftKeys
      case j: ShuffledHashJoinExec  => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }.map(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
    }.toSet)
    assert(keyNames.exists(_.contains("h")),
      s"expected the df join-back keyed on the shingle hash, got $keyNames")
  }
}
