package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.sim.cosineSim
import graft.plans.TopKPerKey

/** SURVEY.md §2.J — LLM-data-pipeline operators (mandated by the task:
  * dedup, similarity search, text analysis, multimodal rows) over the
  * `documents` and `embeddings` fixtures.
  *
  * Scale notes (SURVEY §4.4):
  *  - `llm_dedup_near` is NEVER an unblocked self-cross-join: pairs are
  *    generated within (lang, length-band) blocks, an equi join Catalyst
  *    executes as hash/sort-merge; at 100 TB the blocks bound the
  *    quadratic term.
  *  - `llm_minhash` IS the 100 TB dedup path: per-doc signatures are one
  *    narrow map-side pass (16 xxhash64 mins via HOFs, no shuffle), then
  *    candidate generation shuffles O(n·bands) band-hash rows instead of
  *    O(n²) pairs — standard MinHash-LSH banding (Broder; PAPERS.md
  *    similarity-search entries).
  *  - kNN is brute-force dot products at bench scale (2000×64 runs in ms);
  *    the scale path is the same LSH-bucketing pattern applied to vectors,
  *    or IVF via a coarse k-means assignment — both compose from the
  *    operators here (centroid assignment = `llm_centroid`'s join-back).
  *  - All vector math runs on `array<double>` through codegen'd
  *    higher-order functions (`zip_with`/`aggregate`) — no UDFs.
  */
object LlmOps {

  /** Distinct tokens, SORTED once per document — the dedup operators'
    * Jaccard then runs the zero-allocation merge kernel per pair (order
    * never affects set similarity, so results are unchanged). */
  private def toks: Column = sort_array(array_distinct(split(col("text"), " ")))

  /** The document's tokens in text order (shingles and counts need it). */
  private[operators] def toksRaw: Column = split(col("text"), " ")

  /** dot(a,b) via zip_with + aggregate — stays inside codegen. Used where
    * only the dot product is needed (e.g. norms); full cosine goes through
    * the fused native expression graft.functions.CosineSim. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Exact text dedup: survivor = min doc_id per text (deterministic,
    * §2.Z.6), kept-count per source. */
  def llmDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(min(struct(col("doc_id"), col("source"))).as("surv"))
      .groupBy(col("surv.source").as("source"))
      .agg(count(lit(1)).as("kept"))
      .orderBy(col("source").asc)

  /** Near-dup pairs by token-set Jaccard ≥ 0.8, blocked by
    * (lang, n_chars/100 band) to bound the pair space. The ~50 blocks are
    * few against a cluster's width, so the pairs come from BlockedPairs'
    * salted form (same pairs as the plain blocked self-join). */
  def llmDedupNear(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).orderBy(col("a_id").asc, col("b_id").asc)

  /** The UNORDERED near-dup pair stream behind llmDedupNear, MEMOIZED
    * per (session, dir) — round-8c: its two consumers (the declared pair
    * listing and the cluster fixpoint's edge base) each re-ran the
    * corpus-blocked Jaccard pass, the suite's single most expensive
    * shared computation. The cluster pipeline consumes it unordered:
    * its edge materialization hashes the pairs by endpoint anyway, so
    * the declared query's global sort would cost a range-sample job
    * plus a sort exchange only to be destroyed one step later. */
  private[graft] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    MemoFrames.frame(spark, s"neardup_pairs|$dir")(
      nearDupPairsBuild(spark, dir))

  private[graft] def nearDupPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    // Tokens hash-encoded to sorted long ids map-side (xxhash64): the
    // ~600k blocked pairs at sf0.1 then move/compare fixed-width longs
    // instead of string arrays — same set cardinalities (collision odds
    // ~n²/2⁶⁵), so every Jaccard value and the oracle are unchanged.
    // documents.parquet is a single row group ⇒ a bare scan is ONE task;
    // repartitioning the tiny file first parallelizes the heavy per-doc
    // encode across the cores (same pattern in every dedup operator)
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id").as("id"), col("lang"), expr("n_chars div 100").as("band"),
        sort_array(transform(toks, t => xxhash64(t))).as("toks"))
    // fused native kernel: |A∩B|/|A∪B| in one pass with no intermediate
    // arrays (array_intersect/array_union allocated per pair on the ~600k
    // blocked pairs at sf0.1); same integers ⇒ oracle-identical
    val jac = graft.functions.sim.jaccardLongSim(col("a.toks"), col("b.toks"))
    BlockedPairs.selfPairs(d, Seq("lang", "band"), "id", salted = true)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        round(jac, 6).as("jac"))
      .filter(col("jac") >= 0.8)
  }

  /** MinHash-LSH near-dup dedup at scale: 16 min-hashes per doc (4 bands
    * × 4 rows), bucket join on band hash for candidates, exact-Jaccard
    * verification (≥ 0.8) — the full candidates→verify LSH pipeline.
    * No-oracle (hash functions are engine-specific); unit-tested for
    * recall against the exact-Jaccard pairs.
    *
    * Candidate pairs are emitted ONCE, at their first shared band (each
    * side carries the earlier bands' hashes and the join filters pairs
    * that already matched before — the standard LSH dedup trick).
    * Profiling at sf0.1 showed the naive pair-level `distinct()` shuffled
    * 11M rows and dominated the query.
    *
    * Measured failure mode (STRESS.md, round 11): on a corpus where every
    * doc appears K times VERBATIM, band buckets grow K-fold and
    * within-bucket pair generation is quadratic in K — the 10× stress
    * frame (K=10) ran ×34, not ×10. That is the exact-duplicate hub
    * problem of banded LSH, and the growth is OUTPUT-bound, not
    * candidate-bound: the declared result enumerates every qualifying
    * pair, and on the 10× frame that is 284M rows (×100 — every
    * duplicate class of K docs contributes K² expansions of each
    * qualifying pair), so wall-clock ×34 is SUB-linear per output row.
    * A representative-collapse form (band join on one rep per
    * identical-toks class, members expanded back in-row) emits the same
    * pair set but measured slower — 1.2-1.4 s vs 0.7 s at sf0.1, 32 s vs
    * 28 s at 10×, parity at K=100 (STRESS.md) — because both forms are
    * bound by materializing the expanded output. The production answer
    * to duplication is ordering (exact dedup FIRST — llm_dedup_funnel's
    * pipeline — collapses each class to one representative and shrinks
    * the OUTPUT itself). Contrast llmEmbNeardup, where the per-candidate
    * kernel is a 64-dim cosine and the same collapse WINS 3.4× at 10×. */
  def llmMinhash(spark: SparkSession, dir: String): DataFrame = {
    val jac = graft.functions.sim.jaccardLongSim(col("a.toks"), col("b.toks"))
    minhashCandidates(minhashBandsOf(minhashTokenIds(spark, dir)))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        round(jac, 6).as("jac"))
      .filter(col("jac") >= 0.8) // LSH verify step
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** All C(M,2) ordered pairs of a SORTED duplicate-class member array,
    * generated inside the row by higher-order functions — no join, no
    * shuffle. M is the class's duplication multiplicity, so this term is
    * output-bound by construction: it emits exactly the pairs the result
    * declares. (A production funnel would DROP duplicates instead of
    * enumerating them — llm_dedup_funnel does — but this operator's
    * contract is the full pair listing.) */
  private[graft] def dupClassPairs(members: Column): Column =
    flatten(transform(members, (a, i) =>
      transform(slice(members, i + lit(2), size(members)),
        b => struct(a.as("a"), b.as("b")))))

  /** llmMinhash stage 0 — hash-encoded token-id table. Tokens become
    * sorted long ids ENTIRELY map-side: `xxhash64(token)` inside the
    * document row. The verify stage then moves/compares compact
    * fixed-width ids instead of string arrays (~4× less data per pair),
    * but unlike round 1's dense-row_number dictionary there is no
    * vocabulary table, no broadcast, and no single-partition ranking
    * window ("No Partition Defined for Window…" — the whole vocabulary
    * through ONE task). Collision odds are ~n²/2⁶⁵ (≈10⁻⁷ even at 10⁹
    * distinct tokens), so Jaccard values are unchanged for any realistic
    * corpus. */
  private[graft] def minhashTokenIds(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-row-group file
      .select(col("doc_id"), sort_array(transform(toks, t => xxhash64(t))).as("toks"))

  /** llmMinhash stage 1 — the exploded band table (4 rows/doc): 16
    * min-hashes per doc (4 bands × 4 rows) folded to one 64-bit hash per
    * band. Each band row carries the doc's token-id array (and its size)
    * so exact Jaccard is evaluated INSIDE the bucket self-join's output —
    * the only array-bearing shuffle is this table (≈ 4× corpus,
    * partitioned by band hash). Round 2 instead materialized the
    * candidate-pair stream (6.3M rows at sf0.1 — candidates always
    * outnumber docs) and shuffle-joined the token table onto it TWICE,
    * moving one side's arrays with every pair; profiled, those two joins
    * were the whole tail of the query. Earlier bands' hashes (bh0..bh2)
    * ride along for the emit-once predicate below. */
  private[graft] def minhashBandsOf(base: DataFrame): DataFrame = {
    val sigs = (0 until 16).map { i =>
      array_min(transform(col("toks"), t => xxhash64(t + lit(i * 1000003)))).as(s"h$i")
    }
    val sig = base.select(Seq(col("doc_id"), col("toks")) ++ sigs: _*)
    val bhs = (0 until 4).map { b =>
      xxhash64(col(s"h${4 * b}"), col(s"h${4 * b + 1}"),
        col(s"h${4 * b + 2}"), col(s"h${4 * b + 3}")).as(s"bh$b")
    }
    val sigB = sig.select(Seq(col("doc_id"), col("toks")) ++ bhs: _*)
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"), col(s"bh$b").as("bh")))
    sigB
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
        col("bh0"), col("bh1"), col("bh2"),
        explode(array(bandCols: _*)).as("bnd"))
      .select(col("doc_id"), col("toks"), col("n"),
        col("bnd.band").as("band"), col("bnd.bh").as("bh"),
        col("bh0"), col("bh1"), col("bh2"))
  }

  /** The DF-CAP variant (STRESS.md's mitigation (b)): each (band,
    * band-hash) bucket is truncated to its `cap` lowest doc_ids BEFORE
    * the self-join, so an undeduplicated corpus (verbatim duplication
    * factor K) generates at most cap·(cap−1)/2 candidates per bucket
    * instead of K²-quadratic —
    * the posting-list df-cap idiom llm_ngram_jaccard already ships,
    * applied to LSH bands. This is a deliberate, NON-SILENT recall
    * trade: pairs whose every shared band is wider than `cap` are
    * DROPPED (including pairs that shared an earlier capped band — the
    * emit-once predicate keys on hash equality, not on capped-bucket
    * membership), which is exactly the hub mode where the full listing
    * is 284M duplicate-class expansions nobody consumes. On corpora
    * whose bucket widths stay ≤ cap the output is BIT-identical to
    * llmMinhash (MinhashCapSpec pins equality on a bucket-width-bounded
    * corpus, strict-subset always — note the sf0.001 documents FIXTURE
    * is itself duplication-heavy: direct emits 31k pairs and cap=64
    * keeps 2.2k, which is the cap doing its job, not a recall bug).
    * Declared as `llm_minhash_capped`, no-oracle: the kept pair SET
    * depends on this engine's band-hash space, so no engine-independent
    * SQL reproduces it. MinhashCapSpec's subset/equality pins and the
    * measured 5-21× (10× duplication) / 3.3× (K=100) STRESS.md datums
    * are the bound. llm_minhash keeps the full-listing contract; this entry
    * puts the production-recommended capped path under the driver's
    * per-round regression check. */
  private[graft] def llmMinhashCapped(spark: SparkSession, dir: String,
      cap: Int = 64): DataFrame = {
    val bands = minhashBandsOf(minhashTokenIds(spark, dir))
    val w = Window.partitionBy("band", "bh").orderBy(col("doc_id").asc)
    val capped = bands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap).drop("rk")
    val jac = graft.functions.sim.jaccardLongSim(col("a.toks"), col("b.toks"))
    minhashCandidates(capped)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        round(jac, 6).as("jac"))
      .filter(col("jac") >= 0.8)
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** llmMinhash stage 2 — the (band, band-hash) bucket pairs, each
    * emitted ONCE at its first shared band (BlockedPairs.lshPairs reads
    * the carried bh0..bh2; the naive pair-level `distinct()` shuffled 11M
    * rows at sf0.1 and dominated the query). The size-ratio guard
    * (jac ≥ 0.8 ⇒ 5·min(n) ≥ 4·max(n), integer form) short-circuits the
    * merge kernel on ~25% of candidates. */
  private[graft] def minhashCandidates(bands: DataFrame): DataFrame =
    BlockedPairs.lshPairs(bands, "doc_id", 4,
      least(col("a.n"), col("b.n")) * 5 >= greatest(col("a.n"), col("b.n")) * 4)(
      (side, j) => col(s"$side.bh$j"))

  private[operators] def embDouble(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))

  /** Per-key top-k under (ord DESC, tie ASC) through the bounded-heap
    * `TopKPerKey` operator, plus each kept row's 1-based position as the
    * int column `rank`. Only ≤ k rows per key per map task shuffle; the
    * rank window then sorts ≤ k rows per key and needs no exchange of its
    * own, since the final heap keeps the key's hash partitioning. Rows and
    * ranks equal `row_number() OVER (PARTITION BY key ORDER BY ord DESC,
    * tie ASC) <= k`, NaN ranking first; a NULL key, order or tie throws. */
  private[graft] def topKRanked(df: DataFrame, key: String, ord: String, tie: String,
                                k: Int, rank: String): DataFrame =
    TopKPerKey.topK(df, key, ord, tie, k).withColumn(rank,
      row_number().over(Window.partitionBy(key).orderBy(col(ord).desc, col(tie).asc)))

  /** Brute-force cosine top-10 around vec_id=0 — the kNN baseline. */
  def llmCosineKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosineSim(col("e"), col("qe")), 6).as("sim"))
      // NaN policy: a zero-norm vector's cosine is NaN, and NaN ranks
      // ABOVE every number in both engines — a top-k that admits NaN
      // returns garbage neighbors first. Excluded explicitly here and
      // mirrored in the oracle; NanPolicySpec pins it.
      .filter(!isnan(col("sim")))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Brute-force kNN JOIN: top-5 neighbors for each of the 5 query
    * vectors (vec_id < 5) via broadcast + per-query bounded-heap top-k. */
  def llmKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("e").as("qe"))
    val scored = emb.select(col("vec_id").as("n_id"), col("e"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), round(cosineSim(col("e"), col("qe")), 6).as("sim"))
      .filter(!isnan(col("sim"))) // same NaN-ranks-top exclusion as llmCosineKnn
    topKRanked(scored, "q_id", "sim", "n_id", 5, "rnk")
      .select("q_id", "rnk", "n_id", "sim")
      .orderBy(col("q_id").asc, col("rnk").asc)
  }

  /** Per-label centroid, per-vector distance to own centroid, per-label
    * mean radius — the IVF-style assignment building block. */
  def llmCentroid(spark: SparkSession, dir: String): DataFrame = {
    val el = embDouble(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(col("e")).as(Seq("i", "x")))
    val c = el.groupBy("label", "i").agg(avg("x").as("cx"))
    val d = el.join(c, Seq("label", "i"))
      .groupBy("vec_id", "label")
      .agg(sqrt(sum(pow(col("x") - col("cx"), 2))).as("dist"))
    d.groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("dist"), 6).as("avg_radius"))
      .orderBy(col("label").asc)
  }

  /** Text analysis per (lang, source): doc count, avg chars, avg tokens,
    * vocabulary size. */
  def llmTextStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ds = docs
      .select(col("lang"), col("source"), col("n_chars"), size(split(col("text"), " ")).as("ntok"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("docs"),
        round(avg("n_chars"), 6).as("avg_chars"),
        round(avg("ntok"), 6).as("avg_toks"))
    val v = docs
      .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "source")
      .agg(countDistinct("tok").as("vocab"))
    ds.join(v, Seq("lang", "source"))
      .orderBy(col("lang").asc, col("source").asc)
  }

  /** Global top-20 terms by frequency, rank tie-broken by term.
    * `orderBy().limit(20)` plans as TakeOrderedAndProject — per-partition
    * heap of 20 + driver merge, O(k) memory at any vocabulary size. The
    * round-1 global-window row_number sorted the entire term-frequency
    * table in ONE partition. The rank is then a window over the 20
    * survivors only. */
  def llmTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)
    top
      .withColumn("rnk", row_number().over(Window.orderBy(col("n").desc, col("tok").asc)))
      .select("rnk", "tok", "n")
      .orderBy(col("rnk").asc)
  }

  /** Vocabulary coverage curve (round-6 addendum): what share of all
    * token OCCURRENCES the top-100 / top-1k / top-10k most frequent
    * terms cover — the tokenizer-budget planning query (how big must the
    * vocab be before <1% of running text is OOV). Scale shape mirrors
    * llm_top_terms: the global term-frequency table reduces via
    * TakeOrdered (per-partition heaps, O(k) memory at any vocab size),
    * the rank window runs over the ≤10k survivors only, and the
    * occurrence total arrives as a 1-row broadcast. Shares are exact
    * integer ratios (long·1.0/long — the identical division in both
    * engines), 6dp rounds. Ties at each k boundary are total-ordered by
    * (n DESC, tok ASC), so both engines keep the same term set. */
  def llmVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("tok").asc).limit(10000)
      .withColumn("rn", row_number().over(Window.orderBy(col("n").desc, col("tok").asc)))
    val tot = counts.agg(sum("n").as("tot"), count(lit(1)).as("vocab"))
    top.crossJoin(broadcast(tot))
      .agg(
        first("vocab").as("vocab"),
        first("tot").as("total_toks"),
        round(sum(when(col("rn") <= 100, col("n"))) * lit(1.0) / first("tot"), 6).as("top100_share"),
        round(sum(when(col("rn") <= 1000, col("n"))) * lit(1.0) / first("tot"), 6).as("top1k_share"),
        round(sum(when(col("rn") <= 10000, col("n"))) * lit(1.0) / first("tot"), 6).as("top10k_share"))
  }

  /** Top TF-IDF term per document (first 100 docs); idf fixed as
    * ln((N+1)/(df+1))+1 on both engines so scores are portable. */
  def llmTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(countDistinct("doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
    tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
      .filter(col("doc_id") < 100)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select("doc_id", "tok", "score")
      .orderBy(col("doc_id").asc)
  }

  /** Multimodal row: text doc ⋈ its embedding (doc_id = vec_id) with
    * per-(label, lang) stats over both modalities. */
  def llmMultimodal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    val emb = embDouble(spark, dir)
    emb.join(docs, col("vec_id") === col("doc_id"))
      .withColumn("norm", sqrt(dot(col("e"), col("e"))))
      .groupBy("label", "lang")
      .agg(count(lit(1)).as("n"),
        round(avg("n_chars"), 6).as("avg_chars"),
        round(avg("norm"), 6).as("avg_norm"))
      .orderBy(col("label").asc, col("lang").asc)
  }

  /** Pointwise-mutual-information collocations (round-8 addendum) — the
    * corpus-linguistics statistic behind multi-word-expression discovery
    * and tokenizer merge auditing: for every adjacent token pair,
    * PMI = ln(p(w1,w2) / (p(w1)·p(w2))), assembled PURELY from integer
    * counts as ln(c12) + 2·ln(N1) − ln(N2) − ln(c1) − ln(c2) — five lns
    * of exact integers, so both engines diverge only in ln's last ulp
    * (6dp absorbs). The c12 ≥ 3 support floor is the standard guard
    * against the PMI rare-pair pathology (a hapax pair maximizes PMI).
    *
    * Scale shape: ONE tokenize feeds both the bigram explode and the
    * unigram counts; both aggregates are partial+final hash aggs
    * bounded by vocabulary (pairs ≤ vocab², in practice Zipf-thin);
    * unigram counts join back BROADCAST twice (vocabulary-sized); the
    * top-30 cut is TakeOrdered on (6dp PMI DESC, pair ASC). */
  def llmBigramPmi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = docs
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = uni.agg(sum("c").as("n1"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 3)
    val n2 = pairs.agg(count(lit(1)).as("n2"))
    big
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log(col("c12")) + lit(2.0) * log(col("n1"))
          - log(col("n2")) - log(col("c1")) - log(col("c2")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(30)
  }

  /** Zipf-law fit (round-8 addendum) — the exponent of the corpus
    * rank-frequency curve via ordinary least squares of ln(freq) on
    * ln(rank) over the top-1000 terms: the one-number summary of
    * vocabulary shape (natural text ≈ −1; generated/templated corpora
    * flatten) that tokenizer-budget planning reads next to
    * llm_vocab_coverage. Slope/intercept/R² assemble from the six
    * explicit power sums — NOT the engines' regr_* aggregates, whose
    * internal formulations (and hence last-ulp behavior) differ; here
    * both engines sum the same ~1000 ln-of-integer terms and 6dp
    * absorbs the order noise.
    *
    * Scale shape: the term-count hash agg is the only corpus-scale
    * pass; the rank cut is TakeOrdered (per-partition heaps, O(k)
    * memory); the regression runs as ONE aggregate over ≤1000 rows. */
  def llmZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(1000)
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("tok").asc)))
      .select(log(col("rnk")).as("x"), log(col("n")).as("y"))
    ranked.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("k").as("n_terms"),
        // nullif: a single-term (or otherwise x-degenerate) vocabulary
        // zeroes the OLS denominators and the fit is undefined — NULL
        // like the oracle's /0; + 0.0 normalizes r2's zero sign: a
        // CONSTANT count column gives num = +0.0 over a −0.0-signed
        // denominator product, and the engines disagree on the sign bit
        // (round-13 mono-corpus sweep)
        round((col("k") * col("sxy") - col("sx") * col("sy"))
          / nullif(col("k") * col("sxx") - col("sx") * col("sx"), lit(0.0)), 6).as("zipf_slope"),
        round((col("sy") - (col("k") * col("sxy") - col("sx") * col("sy"))
          / nullif(col("k") * col("sxx") - col("sx") * col("sx"), lit(0.0)) * col("sx")) / col("k"), 6)
          .as("intercept"),
        (round((col("k") * col("sxy") - col("sx") * col("sy"))
          * (col("k") * col("sxy") - col("sx") * col("sy"))
          / nullif((col("k") * col("sxx") - col("sx") * col("sx"))
            * (col("k") * col("syy") - col("sy") * col("sy")), lit(0.0)), 6) + 0.0).as("r2"))
  }

  /** kNN label-vote classification eval (round-9) — the embedding-quality
    * harness every retrieval/curation pipeline runs before trusting a
    * vector space: hold out a deterministic query batch (vec_id ≡ 0 mod
    * 25), predict each query's label as the majority label of its 5
    * nearest candidates by cosine (6dp-rounded, llm_cosine_knn's
    * discipline; vote ties resolve to the smallest label, rank ties to
    * the smallest vec_id), and report per-true-label accuracy. Near-
    * chance accuracy on the synthetic Gaussian fixture is the HONEST
    * readout — the harness measures, it does not flatter.
    *
    * Shape: queries broadcast (bounded batch — the llm_knn_join
    * contract), one corpus pass scores queries×corpus via the codegen'd
    * cosine kernel, per-query top-5 is the bounded-heap `TopKPerKey`
    * (NaN similarities kept, ranked first as a sort would), votes and
    * the argmax are query-grain. At 100 TB the scoring pass swaps to the
    * IVF/LSH-bucketed candidate join (llm_ann_ivf) with this exact
    * eval frame on top. */
  def llmKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val q = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("label").as("qlabel"))
    val cand = emb.filter(col("vec_id") % 25 =!= 0)
      .select(col("vec_id"), col("e"), col("label"))
    val wVote = Window.partitionBy("qid").orderBy(col("votes").desc, col("label").asc)
    val scored = cand.crossJoin(broadcast(q))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        round(cosineSim(col("e"), col("qe")), 6).as("sim"))
    TopKPerKey.topK(scored, "qid", "sim", "vec_id", 5)
      .groupBy("qid", "qlabel", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      // name the winning vote `pred` BEFORE aggregating (the oracle's
      // form): grouping by qlabel.as("label") while agg expressions
      // still referenced the child's `label` column resolved correctly
      // but read as a tautological self-compare — ambiguity a rename
      // would turn into a silent accuracy=1.0 bug
      .select(col("qlabel"), col("label").as("pred"))
      .groupBy("qlabel")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("qlabel"), 1L).otherwise(0L)).as("n_correct"),
        round(sum(when(col("pred") === col("qlabel"), 1.0).otherwise(0.0))
          / count(lit(1)), 4).as("accuracy"))
      .select(col("qlabel").as("label"), col("n_queries"), col("n_correct"),
        col("accuracy"))
      .orderBy(col("label").asc)
  }

  /** Type-token lexical diversity (round-9) — per source: token volume,
    * vocabulary size (types), type-token ratio, and hapax share (terms
    * occurring once). The template/boilerplate detector llm_text_stats'
    * raw vocab column doesn't normalize: a low-TTR source is repetitive
    * machinery, a high-hapax source is noisy or genuinely diverse —
    * either way a mixture-weighting input. One explode to the (source,
    * term) grain (partial-aggregated map-side) and a vocabulary-sized
    * per-source rollup; corpus-linear. */
  def llmTtr(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("tokens"), count(lit(1)).as("types"),
        round(count(lit(1)) / sum("c").cast("double"), 6).as("ttr"),
        round(sum(when(col("c") === 1, 1.0).otherwise(0.0))
          / count(lit(1)).cast("double"), 6).as("hapax_share"))
      .orderBy(col("source").asc)

  /** Character-trigram profile (round-9 wave 3) — top-5 trigrams per
    * language by frequency: the sub-word feature layer llm_lang_id's
    * token heuristic sits above (character n-grams are what production
    * language-ID models — and fastText-class classifiers — actually
    * consume), and the tokenizer-free view of the corpus a BPE
    * curriculum (llm_bpe_pairs) starts from. One map-side explode of
    * the in-row offset spine (≈ n_chars rows per doc, corpus-linear,
    * partial-aggregated before the shuffle), then the standard
    * (n DESC, tri ASC) top-5 rank per language. */
  def llmCharNgrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tri").asc)
    Tables.documents(spark, dir)
      // sub-3-char docs carry no trigram — and the guard is load-bearing
      // for cross-engine equality: Spark's sequence(1, len-2) DESCENDS
      // when len < 3 (emitting junk offsets) where DuckDB's
      // generate_series is empty; the same predicate in both engines
      // removes the divergent case entirely
      .filter(length(col("text")) >= 3)
      .select(col("lang"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(col("lang"), expr("substring(text, i, 3)").as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("lang", "rk", "tri", "n")
      .orderBy(col("lang").asc, col("rk").asc)
  }

  /** Embedding batch-drift gate (round-9 wave 6) — split the table into
    * two deterministic batches (vec_id parity — the stand-in for
    * yesterday's vs today's encoder run), compute per-label centroids
    * per batch, and report centroid cosine + L2 distance per label: the
    * monitor that catches a silently retrained/renormalized encoder
    * before stale vectors poison an ANN index. Near-zero cosine on the
    * random fixture is the honest readout. Centroid components round
    * at 6dp BEFORE the cosine (identical inputs both engines); one
    * explode → (batch, label, dim) hash agg → label-keyed join of two
    * 64-row-per-label frames — corpus-linear, join vocabulary-sized. */
  def llmEmbDrift(spark: SparkSession, dir: String): DataFrame = {
    val c = embDouble(spark, dir)
      .select((col("vec_id") % 2).as("batch"), col("label"),
        posexplode(col("e")).as(Seq("dim", "x")))
      .groupBy("batch", "label", "dim")
      .agg(round(avg("x"), 6).as("cx"))
    val a = c.filter(col("batch") === 0)
      .select(col("label"), col("dim"), col("cx").as("ax"))
    val b = c.filter(col("batch") === 1)
      .select(col("label"), col("dim"), col("cx").as("bx"))
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(count(lit(1)).as("dims"),
        round(sum(col("ax") * col("bx"))
          / (sqrt(sum(col("ax") * col("ax"))) * sqrt(sum(col("bx") * col("bx")))), 6)
          .as("centroid_cosine"),
        round(sqrt(sum((col("ax") - col("bx")) * (col("ax") - col("bx")))), 6)
          .as("centroid_dist"))
      .orderBy(col("label").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_emb_drift"   -> (llmEmbDrift _),
    "llm_char_ngrams" -> (llmCharNgrams _),
    "llm_knn_classify" -> (llmKnnClassify _),
    "llm_ttr"         -> (llmTtr _),
    "llm_bigram_pmi"  -> (llmBigramPmi _),
    "llm_zipf_fit"    -> (llmZipfFit _),
    "llm_dedup_exact" -> (llmDedupExact _),
    "llm_dedup_near"  -> (llmDedupNear _),
    "llm_minhash"     -> (llmMinhash _),
    "llm_minhash_capped" -> ((s: SparkSession, d: String) => llmMinhashCapped(s, d)),
    "llm_cosine_knn"  -> (llmCosineKnn _),
    "llm_knn_join"    -> (llmKnnJoin _),
    "llm_centroid"    -> (llmCentroid _),
    "llm_text_stats"  -> (llmTextStats _),
    "llm_top_terms"   -> (llmTopTerms _),
    "llm_vocab_coverage" -> (llmVocabCoverage _),
    "llm_tfidf"       -> (llmTfidf _),
    "llm_multimodal"  -> (llmMultimodal _))

  val oracleSql: Map[String, String] = Map(
    "llm_emb_drift" ->
      """WITH e AS (
        |  SELECT vec_id % 2 AS batch, label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim
        |  FROM embeddings),
        |c AS (
        |  SELECT batch, label, dim, round(avg(x), 6) AS cx
        |  FROM e GROUP BY batch, label, dim),
        |j AS (
        |  SELECT a.label, a.dim, a.cx AS ax, b.cx AS bx
        |  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
        |  WHERE a.batch = 0 AND b.batch = 1)
        |SELECT label, count(*) AS dims,
        |  round(sum(ax * bx)
        |    / (sqrt(sum(ax * ax)) * sqrt(sum(bx * bx))), 6) AS centroid_cosine,
        |  round(sqrt(sum((ax - bx) * (ax - bx))), 6) AS centroid_dist
        |FROM j GROUP BY label ORDER BY label ASC""".stripMargin,
    "llm_char_ngrams" ->
      """WITH ch AS (
        |  SELECT lang, substr(text, i, 3) AS tri
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, len(text) - 2)) AS i)
        |  WHERE len(text) >= 3),
        |c AS (SELECT lang, tri, count(*) AS n FROM ch GROUP BY lang, tri),
        |r AS (
        |  SELECT lang, tri, n, row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, tri ASC) AS rk
        |  FROM c)
        |SELECT lang, rk, tri, n FROM r WHERE rk <= 5
        |ORDER BY lang ASC, rk ASC""".stripMargin,
    "llm_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe,
        |    label AS qlabel
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        |  FROM embeddings WHERE vec_id % 25 <> 0),
        |p AS (
        |  SELECT qid, qlabel, vec_id, label,
        |    round(list_cosine_similarity(qe, e), 6) AS sim
        |  FROM q, c),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        |  FROM p),
        |v AS (
        |  SELECT qid, qlabel, label, count(*) AS votes
        |  FROM r WHERE rn <= 5 GROUP BY qid, qlabel, label),
        |w AS (
        |  SELECT qid, qlabel, label AS pred, row_number() OVER (
        |    PARTITION BY qid ORDER BY votes DESC, label ASC) AS vr
        |  FROM v)
        |SELECT qlabel AS label, count(*) AS n_queries,
        |  CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(sum(CASE WHEN pred = qlabel THEN 1e0 ELSE 0e0 END)
        |    / count(*), 4) AS accuracy
        |FROM w WHERE vr = 1 GROUP BY qlabel ORDER BY qlabel ASC""".stripMargin,
    "llm_ttr" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |g AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok)
        |SELECT source, CAST(sum(c) AS BIGINT) AS tokens, count(*) AS types,
        |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |  round(sum(CASE WHEN c = 1 THEN 1e0 ELSE 0e0 END)
        |    / count(*), 6) AS hapax_share
        |FROM g GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |idx AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks),
        |pairs AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx),
        |uni AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uni),
        |big AS (
        |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        |  HAVING count(*) >= 3),
        |n2 AS (SELECT count(*) AS n2 FROM pairs)
        |SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
        |  round(ln(b.c12) + 2.0 * ln(n1.n1) - ln(n2.n2) - ln(u1.c) - ln(u2.c), 6) AS pmi
        |FROM big b
        |JOIN uni u1 ON b.w1 = u1.w
        |JOIN uni u2 ON b.w2 = u2.w
        |CROSS JOIN n1 CROSS JOIN n2
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30""".stripMargin,
    "llm_zipf_fit" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |r AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk
        |  FROM c ORDER BY n DESC, tok ASC LIMIT 1000),
        |xy AS (SELECT ln(rnk) AS x, ln(n) AS y FROM r),
        |s AS (
        |  SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM xy)
        |SELECT k AS n_terms,
        |  round((k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0), 6) AS zipf_slope,
        |  round((sy - (k * sxy - sx * sy) / nullif(k * sxx - sx * sx, 0) * sx) / k, 6) AS intercept,
        |  round((k * sxy - sx * sy) * (k * sxy - sx * sy)
        |    / nullif((k * sxx - sx * sx) * (k * syy - sy * sy), 0), 6) + 0.0 AS r2
        |FROM s""".stripMargin,
    "llm_dedup_exact" ->
      """WITH surv AS (
        |  SELECT source, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS kept FROM surv WHERE rn = 1
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_dedup_near" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars // 100 AS band,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jac
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,
    "llm_cosine_knn" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, sim FROM s WHERE NOT isnan(sim)
        |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "llm_knn_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    round(list_cosine_similarity(q.ve, n.ve), 6) AS sim
        |  FROM e q JOIN e n ON q.vec_id < 5 AND n.vec_id <> q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rnk
        |      FROM p WHERE NOT isnan(sim))
        |SELECT q_id, rnk, n_id, sim FROM r WHERE rnk <= 5
        |ORDER BY q_id ASC, rnk ASC""".stripMargin,
    "llm_centroid" ->
      """WITH el AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |c AS (SELECT label, i, avg(x) AS cx FROM el GROUP BY label, i),
        |d AS (
        |  SELECT el.vec_id, el.label, sqrt(sum(pow(el.x - c.cx, 2))) AS dist
        |  FROM el JOIN c ON el.label = c.label AND el.i = c.i
        |  GROUP BY el.vec_id, el.label)
        |SELECT label, count(*) AS n, round(avg(dist), 6) AS avg_radius
        |FROM d GROUP BY label ORDER BY label ASC""".stripMargin,
    "llm_text_stats" ->
      """WITH ds AS (
        |  SELECT lang, source, count(*) AS docs, round(avg(n_chars), 6) AS avg_chars,
        |         round(avg(len(string_split(text, ' '))), 6) AS avg_toks
        |  FROM documents GROUP BY lang, source),
        |v AS (
        |  SELECT lang, source, count(DISTINCT tok) AS vocab
        |  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY lang, source)
        |SELECT ds.lang, ds.source, docs, avg_chars, avg_toks, vocab
        |FROM ds JOIN v ON ds.lang = v.lang AND ds.source = v.source
        |ORDER BY ds.lang ASC, ds.source ASC""".stripMargin,
    "llm_top_terms" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk FROM c)
        |SELECT rnk, tok, n FROM r WHERE rnk <= 20 ORDER BY rnk ASC""".stripMargin,
    "llm_vocab_coverage" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rn FROM c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot, count(*) AS vocab FROM c)
        |SELECT vocab, tot AS total_toks,
        |  round(sum(CASE WHEN rn <= 100 THEN n END) * 1.0 / tot, 6) AS top100_share,
        |  round(sum(CASE WHEN rn <= 1000 THEN n END) * 1.0 / tot, 6) AS top1k_share,
        |  round(sum(CASE WHEN rn <= 10000 THEN n END) * 1.0 / tot, 6) AS top10k_share
        |FROM r CROSS JOIN tot
        |GROUP BY vocab, tot""".stripMargin,
    "llm_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1), 6) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |  WHERE tf.doc_id < 100),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rnk FROM s)
        |SELECT doc_id, tok, score FROM r WHERE rnk = 1 ORDER BY doc_id ASC""".stripMargin,
    "llm_multimodal" ->
      """SELECT label, d.lang, count(*) AS n, round(avg(d.n_chars), 6) AS avg_chars,
        |  round(avg(sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))), 6) AS avg_norm
        |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |GROUP BY label, d.lang ORDER BY label ASC, d.lang ASC""".stripMargin)
}
