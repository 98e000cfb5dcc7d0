package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.sim.cosineSim
import LlmOps.{embDouble, topKRanked, toksRaw}

/** Extended training-data-pipeline operators beyond SURVEY §2.J's core
  * set: document fingerprinting, language-ID, quality scoring, SimHash
  * near-dup, embedding-cosine near-dup, and an IVF-style ANN search — the
  * remaining dedup/similarity/text-analysis families the task mandates.
  *
  * Scale notes: fingerprints and SimHash signatures are one narrow
  * map-side pass per document (no shuffle until the tiny signature table);
  * near-dup pair generation is always blocked (label / band / bucket) so
  * the quadratic term is bounded per block; IVF probes nprobe/K of the
  * corpus instead of all of it — the standard ANN scale path (inverted
  * file; see PAPERS.md similarity-search entries).
  */
object LlmOpsExtra {

  /** The per-doc winnowing-fingerprint frame (doc_id, lang, fp, fph),
    * memoized per (session, sfDir) — round-8 verdict task 2: FOUR queries
    * consume this one corpus map pass (llm_fingerprint, llm_bloom_dedup,
    * graph_triangles, graph_degree via Clustering.fpGroupSizes), and each
    * previously re-ran it cold (graph_degree paid 10.2 s on the r7 driver
    * for a 0.7 s-local pass). One write job; consumers read a pruned
    * columnar scan of a one-row-per-doc file.
    *
    * Two fingerprint variants ride in one pass over the same shingle
    * slices, because their oracles pin DIFFERENT representatives:
    *  - `fp`  = min over md5(shingle) — MD5 is engine-identical, so
    *    llm_fingerprint / llm_bloom_dedup are oracle-able on it;
    *  - `fph` = xxhash64(min raw shingle) — the graph queries group on
    *    shingle-string order (their oracle's list_min has no md5), and
    *    skipping md5 there was a round-2 profiling win. min(md5(s)) and
    *    md5(min(s)) pick different shingles, so the columns are NOT
    *    derivable from each other. */
  private[operators] def fpFrame(spark: SparkSession, dir: String): DataFrame =
    MemoFrames.frame(spark, s"winnow_fp|$dir") {
      val toks = split(col("text"), " ") // order matters for shingles — no distinct
      val nsh = greatest(size(toks) - 7, lit(1))
      val sh = transform(sequence(lit(1), nsh),
        i => concat_ws(" ", slice(toks, i, lit(8))))
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism) // single-row-group file
        .select(col("doc_id"), col("lang"),
          array_min(transform(sh, s => md5(s.cast("binary")))).as("fp"),
          xxhash64(array_min(sh)).as("fph"))
    }

  /** Winnowing-style document fingerprint; n_sharing counts docs with
    * the same fingerprint — shingle-level dedup at scale. */
  def llmFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    fpFrame(spark, dir)
      .select(col("doc_id"), col("fp"))
      .withColumn("n_sharing", count(lit(1)).over(w))
      .orderBy(col("doc_id").asc)
  }

  /** Cross-source duplication matrix (round-8 wave 13) — WHICH sources
    * duplicate each other, the question a mixture decision actually asks
    * (two crawls of the same site should be merged, not independently
    * capped). One row per unordered source pair with the number of
    * same-fingerprint doc pairs between them and how many distinct
    * fingerprints contribute.
    *
    * NO pair materialization: per fingerprint group, docs are counted per
    * source first (hash agg on the memoized fingerprint frame), and the
    * pair count is computed from the source-count vector — n_a·n_b across
    * sources, n·(n−1)/2 within. The self-join key `fp` then carries at
    * most #sources rows per side, so the classic clique bomb (a 10⁵-doc
    * boilerplate group emitting 5·10⁹ edges) reduces to a bounded
    * #sources² arithmetic row set — the same histogram-not-edges move
    * Clustering.fpGroupSizes documents. */
  def llmCrossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val g = fpFrame(spark, dir).select(col("doc_id"), col("fp"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("fp", "source").agg(count(lit(1)).as("n"))
    val a = g.select(col("fp"), col("source").as("src_a"), col("n").as("na"))
    val b = g.select(col("fp"), col("source").as("src_b"), col("n").as("nb"))
    a.join(b, "fp")
      .filter(col("src_a") <= col("src_b"))
      // n·(n−1) is even, so `div` is exact; cross-source pairs multiply
      .withColumn("np", when(col("src_a") === col("src_b"),
          expr("na * (na - 1) div 2")).otherwise(col("na") * col("nb")))
      .filter(col("np") > 0)
      .groupBy("src_a", "src_b")
      .agg(sum("np").as("n_pairs"), count(lit(1)).as("n_fps"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** Incremental corpus dedup against history with a Bloom pre-filter
    * (round-7 addendum): the arriving batch (doc_id ≡ 0 mod 10 as the
    * deterministic stand-in for "today's crawl") is deduplicated against
    * the historical corpus (the other 90%) by winnowing fingerprint.
    *
    * The at-scale pattern this encodes: history >> batch, so probing
    * history with a shuffle join per batch row is the wrong plan. A Bloom
    * filter over history's fingerprints (built with the PUBLIC
    * `df.stat.bloomFilter` distributed treeAggregate — a ~1 MB driver
    * constant, the IVF-codebook class of collect) rides into a map-side
    * `BloomFilterMightContain` predicate over the batch: bloom-NEGATIVE
    * rows are definitely new and never enter the join; only
    * bloom-positives (true dups + fpp·batch false positives) continue to
    * the exact left-semi verify against history's distinct fingerprints.
    * No false negatives exist, and the verify join removes the false
    * positives, so the OUTPUT is exact — the filter only shrinks the
    * join's probe side, which is why the DuckDB oracle is a plain IN
    * subquery. Sizing: 1M expected items / 1% fpp ≈ 1.2 MB constant,
    * far past the fixture's history cardinality at every SF. */
  def llmBloomDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnBridge
    // the memoized fingerprint frame: the md5-shingle map pass is the
    // query's heaviest stage and it feeds THREE consumers (the bloom
    // build action, the history semi-join side, the batch side) — and is
    // shared with llm_fingerprint and the graph queries besides.
    val docs = fpFrame(spark, dir).select(col("doc_id"), col("lang"), col("fp"))
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    // build over xxhash64(fp) LONGS: BloomFilterMightContain probes via
    // mightContainLong, so insert and probe must hash the same 64-bit key
    val bf = hist.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", 1000000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val might = ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(col("fp")))))
    // exact verify for bloom-positives only; negatives are new by proof
    val dropped = fresh.filter(might)
      .join(hist.select("fp").distinct(), Seq("fp"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("dropped"))
    fresh.groupBy("lang").agg(count(lit(1)).as("batch"))
      .join(dropped, Seq("lang"), "left")
      .select(col("lang"), col("batch"),
        (col("batch") - coalesce(col("dropped"), lit(0L))).as("kept"),
        coalesce(col("dropped"), lit(0L)).as("dropped"))
      .orderBy(col("lang").asc)
  }

  /** The encoded 3-gram shingle frame behind llmNgramJaccard, MEMOIZED
    * per (session, dir) — parquet, one write job: it feeds the df
    * aggregate and both sides of the intersect join, and the per-doc
    * shingle transform is the query's heaviest map pass. One row per doc
    * (~one long per shingle); the explode to the occurrence stream
    * happens per consumer AFTER the scan. The doc's distinct-shingle
    * count n rides along so the Jaccard denominator needs no size-lookup
    * joins later. */
  private[operators] def ngramShFrame(spark: SparkSession, dir: String): DataFrame =
    MemoFrames.frame(spark, s"ngram3_sh|$dir") {
      val nsh = greatest(size(toksRaw) - 2, lit(1))
      val shingles = array_distinct(transform(sequence(lit(1), nsh),
        i => concat_ws(" ", slice(toksRaw, i, lit(3)))))
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism) // single-row-group file
        .select(col("doc_id").as("id"), col("lang"), expr("n_chars div 100").as("band"),
          transform(shingles, s => xxhash64(s)).as("sh"))
        .withColumn("n", size(col("sh")).cast("bigint"))
    }

  /** n-gram (3-token shingle) Jaccard near-dup — order-sensitive dedup:
    * token-set Jaccard (llm_dedup_near) treats reshuffled documents as
    * identical; shingle Jaccard does not, which is why corpus dedup runs
    * both. Threshold 0.3: shingle similarity is far more discriminative
    * than token-set similarity (6 true pairs vs 2391 at sf0.01).
    *
    * INVERTED-INDEX intersect counting, not blocked pair-verify: each
    * doc's distinct shingle set explodes once (an occurrence stream of
    * fixed-width longs), self-joins on the SHINGLE hash within the
    * block, and shared shingles are counted per pair. Work scales with
    * pairs that actually share a shingle (74k at sf0.1, 8× fewer than the
    * 588k blocked pairs; max per-shingle df 8, so no hot key), every
    * shuffle row is a handful of longs, and no array ever crosses a
    * shuffle or sits in a sort buffer. jac = c/(na+nb−c) divides the
    * SAME integers as the oracle's list_intersect/list_concat form
    * (shingles hash-encoded map-side; collision odds ~n²/2⁶⁵ leave every
    * count unchanged). Pairs with NO shared shingle (jac = 0) never enter
    * the stream, the candidate pruning PPJoin-family algorithms
    * formalize. At 100 TB the df distribution is the thing to watch:
    * boilerplate shingles with huge df would blow up the df² pair
    * stream — SkewCanarySpec bounds the hottest shingle's work share,
    * and a production corpus would cap df (drop non-discriminative
    * shingles) before the self-join. */
  def llmNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = ngramShFrame(spark, dir)
    val occ = d.select(col("id"), col("lang"), col("band"), col("n"),
      explode(col("sh")).as("h"))
    // Candidate pruning (the PPJoin prefix-filter idea, applied at the
    // shingle grain): a shingle with document frequency 1 in its
    // block cannot witness any pair, and on natural text that is the
    // overwhelming majority of the stream — at sf0.1 the full occurrence
    // stream is ~5M rows while the df≥2 survivors are ~2% of it. The df
    // aggregate makes ONE narrow pass over the stream (partial-agg longs),
    // the surviving (lang, band, h) set is tiny and BROADCAST into a
    // map-side semi join, so the expensive self-join's inputs shrink by
    // ~50× and no full-stream shuffle+sort remains.
    // Exactness: every shared shingle of every pair has df≥2 by
    // definition, so no pair loses a witness, and the denominators na/nb
    // were computed per doc BEFORE pruning. At 100 TB the df≥2 set may
    // outgrow a broadcast — the fallback is the same semi join shuffled,
    // still a fraction of the unpruned self-join.
    val hot = occ.groupBy(col("lang"), col("band"), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("lang"), col("band"), col("h"))
    val occ2 = occ.join(broadcast(hot), Seq("lang", "band", "h"), "left_semi")
    BlockedPairs.selfPairs(occ2, Seq("h", "lang", "band"), "id")
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("c"), max("a.n").as("na"), max("b.n").as("nb"))
      .select(col("a_id"), col("b_id"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jac"))
      .filter(col("jac") >= 0.3)
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Shared Spark/DuckDB SQL fragment: occurrences of a marker substring
    * (length-delta trick — no regex dialect risk). */
  private def occ(marker: String): String =
    s"(length(text) - length(replace(text, '$marker', '')))"

  /** Language-ID by marker-n-gram scoring with a fixed priority tie-break.
    * On this synthetic corpus every lang shares one vocabulary, so the
    * heuristic (correctly) predicts 'en' almost everywhere — the operator
    * contract is the deterministic confusion matrix, not accuracy. */
  def llmLangId(spark: SparkSession, dir: String): DataFrame = {
    val predicted =
      s"""CASE
         | WHEN ${occ("the")} >= ${occ("der")} AND ${occ("the")} >= ${occ("los")}
         |  AND ${occ("the")} >= ${occ("les")} AND ${occ("the")} >= ${occ("的")} THEN 'en'
         | WHEN ${occ("der")} >= ${occ("los")} AND ${occ("der")} >= ${occ("les")}
         |  AND ${occ("der")} >= ${occ("的")} THEN 'de'
         | WHEN ${occ("los")} >= ${occ("les")} AND ${occ("los")} >= ${occ("的")} THEN 'es'
         | WHEN ${occ("les")} >= ${occ("的")} THEN 'fr'
         | ELSE 'zh' END""".stripMargin
    Tables.documents(spark, dir)
      .withColumn("predicted", expr(predicted))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang").asc, col("predicted").asc)
  }

  /** Document quality scoring: token count, stopword ratio, mean token
    * length → weighted score, bucketed per lang. The raw double arithmetic
    * is bit-identical across engines (same IEEE ops), so floor-bucketing
    * is safe. */
  def llmQuality(spark: SparkSession, dir: String): DataFrame = {
    // tokenize once per row; the score expression then reuses the column
    val ntok = size(col("toks")).cast("double")
    val stopRatio = size(filter(col("toks"), t => t === "a" || t === "the")).cast("double") / ntok
    val avgLen = (col("n_chars").cast("double") - (ntok - 1)) / ntok // chars minus separators
    val q = lit(0.5) * least(ntok / 100, lit(1.0)) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * least(avgLen / 6, lit(1.0))
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"), split(col("text"), " ").as("toks"))
      .select(col("lang"), q.as("q"))
      .groupBy(col("lang"), floor(col("q") * 10).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"), round(avg("q"), 6).as("avg_q"))
      .orderBy(col("lang").asc, col("bucket").asc)
  }

  /** SimHash near-dup: 64-bit signature from per-token hash bit votes,
    * 4×16-bit band bucketing, candidate pairs at Hamming distance ≤ 3.
    * No-oracle (xxhash64 is engine-specific); unit-tested against token
    * Jaccard. This is the O(n) signature + banded-join dedup pattern that
    * complements MinHash at 100 TB. Shares llm_minhash's measured
    * exact-duplicate hub mode (STRESS.md round 11: verbatim copies make
    * band buckets quadratic) and the same verdict: the 10× growth is
    * output-bound (10.1M declared pair rows, 2.2-2.9 s at 32 threads), a
    * representative-collapse form emitting the same pairs measured
    * ~0.6 s slower at sf0.1 and at best par at 10×, and dedup-first
    * ordering remains the production answer to duplication. */
  def llmSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashCandidates(simhashSignatures(spark, dir))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("hamming"))
      .orderBy(col("a_id").asc, col("b_id").asc)

  /** Per-doc 64-bit signature, computed INSIDE the document row by the
    * codegen'd simhash64 kernel (one pass over the token-hash array).
    * Round 1 exploded every (doc, token) pair and shuffled it into a
    * 64-column vote aggregate — same bits, one whole table of shuffle
    * for nothing. */
  private[graft] def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-row-group file
      .select(col("doc_id"), graft.functions.sim.simhash64(
        transform(array_distinct(split(col("text"), " ")), t => xxhash64(t))).as("simhash"))

  /** Band bucketing + LSH pairs + Hamming ≤ 3 over a (doc_id, simhash)
    * frame; returns the a/b-aliased candidate frame with the `hamming`
    * column. Band j's hash is recomputed from the carried simhash, so
    * each pair is emitted once, at its first shared band. */
  private[graft] def simhashCandidates(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(0xFFFFL).as("bh"))
    }
    val bands = sig
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bnd"))
      .select(col("doc_id"), col("simhash"),
        col("bnd.band").as("band"), col("bnd.bh").as("bh"))
    BlockedPairs.lshPairs(bands, "doc_id", 4)((side, j) =>
        shiftrightunsigned(col(s"$side.simhash"), j * 16).bitwiseAND(0xFFFFL))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 3)
  }

  /** Deterministic standard Gaussian: Box-Muller over two Knuth-hash
    * uniforms (llm_weighted_sample's engine-exact modular arithmetic —
    * (k%p)·m stays inside int64 in both engines), rounded to 6dp so the
    * libm cos/ln ulp gap between the JVM and DuckDB can't flip a value.
    * Replaces the round-2..6 "corpus rows 16..23 as stand-in planes"
    * concession: LSH hyperplanes and IVF seed pivots are now genuinely
    * distribution-sampled AND reproducible in SQL, so the oracles derive
    * bit-identical constants (VERDICT r6 optional ask #7). */
  private[graft] def gauss(k: Long): Double = {
    val p = 1000003L
    val u1 = ((k % p) * 2654435761L % p + 1).toDouble / 1000004.0
    val u2 = ((k % p) * 2246822519L % p + 1).toDouble / 1000004.0
    BigDecimal(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** `count` Gaussian vectors of dimension `dim`; `base` decorrelates the
    * plane family from the IVF seed family (disjoint k ranges). */
  private[graft] def gaussianVectors(count: Int, dim: Int, base: Long): Seq[Seq[Double]] =
    (0 until count).map(j => (1 to dim).map(i => gauss(base + j.toLong * dim + i)))

  /** Embedding-cosine near-duplicate pairs, blocked by label. Threshold
    * 0.4 is a demo value — this synthetic corpus's vectors are
    * near-orthogonal (max intra-label cosine ≈ 0.51 measured); real
    * embedding dedup uses ~0.95 with the identical plan shape.
    *
    * Hub fix (STRESS.md, same family as llm_minhash — but here
    * the collapse SHIPS): cosine is a pure function of the two vectors,
    * so the blocked pair join runs on ONE representative per distinct
    * (label, vector) class and qualifying representative pairs expand
    * back through the members. Unlike the minhash/simhash band joins —
    * whose 10× cost is output-row materialization, making their collapse
    * a wash (see llmMinhash) — this operator's candidate stage evaluates
    * a 64-dim cosine per label-blocked pair, so shrinking the candidate
    * set is real work saved: measured 3.1→0.9 s warm on the 10×
    * verbatim-duplicated frame, parity (~0.5 s) at sf0.1, and the win
    * grows with duplication exactly as a kernel-bound candidate stage
    * predicts — 21× (24.5→1.2 s) on the K=100 frame (STRESS.md).
    * Within-class
    * similarity is computed by the SAME fused kernel on (e, e) — not a
    * literal 1.0 — so rounding behaves bit-identically across forms.
    * NaN POLICY: zero-norm vectors produce cos = NaN, which Spark's
    * NaN-is-greatest comparisons would pass through a bare ≥ 0.4 filter
    * as top-ranked garbage — both
    * forms and the oracle now carry an explicit !isnan / NOT isnan
    * guard, so zero-norm pairs are excluded everywhere (HubCollapseSpec
    * pins the exclusion AND the cross-form parity). Pinned by
    * HubCollapseSpec against llmEmbNeardupDirect (exceptAll both
    * ways). */
  def llmEmbNeardup(spark: SparkSession, dir: String): DataFrame = {
    // NOT pre-materialized: the A/B showed the extra write job costs more than the class agg's
    // three in-plan executions at this table's size — 6 jobs / ~2 s vs
    // 5 jobs / ~1.2 s warm at sf0.1
    val classes = embDouble(spark, dir).groupBy("label", "e")
      .agg(min("vec_id").as("rep"),
        sort_array(collect_list(col("vec_id"))).as("members"))
    // member lists ride through the blocked pair join and expand by
    // explode in the projection — no pair-grain joins (see llmMinhash)
    val cross = BlockedPairs.selfPairs(classes, Seq("label"), "rep")
      .withColumn("sim", round(cosineSim(col("a.e"), col("b.e")), 6))
      .filter(col("sim") >= 0.4 && !isnan(col("sim")))
      .select(explode(col("a.members")).as("av"), col("b.members").as("mb"),
        col("a.label").as("label"), col("sim"))
      .select(col("av"), explode(col("mb")).as("bv"), col("label"), col("sim"))
      .select(least(col("av"), col("bv")).as("a_id"),
        greatest(col("av"), col("bv")).as("b_id"), col("label"), col("sim"))
    val within = classes
      .withColumn("sim", round(cosineSim(col("e"), col("e")), 6))
      .filter(col("sim") >= 0.4 && !isnan(col("sim")) && size(col("members")) > 1)
      .select(explode(LlmOps.dupClassPairs(col("members"))).as("p"),
        col("label"), col("sim"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"), col("label"), col("sim"))
    cross.unionByName(within).orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** The pre-collapse quadratic form: label-blocked vector pairs with
    * cosine ≥ 0.4, kept for HubCollapseSpec's pair-set-equality pin; NOT
    * registered as a query. */
  private[graft] def llmEmbNeardupDirect(spark: SparkSession, dir: String): DataFrame =
    BlockedPairs.selfPairs(embDouble(spark, dir), Seq("label"), "vec_id")
      .withColumn("sim", round(cosineSim(col("a.e"), col("b.e")), 6))
      .filter(col("sim") >= 0.4 && !isnan(col("sim")))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), col("sim"))
      .orderBy(col("a_id").asc, col("b_id").asc)

  /** Hard-negative mining (round-8 addendum) — the contrastive-training
    * data step (SimCLR/DPR class): for every anchor, the single most
    * similar DIFFERENT-label vector (the "hardest negative") plus the
    * most similar same-label vector (the positive), and the margin
    * between them — negative-margin anchors are the ones whose nearest
    * neighbor crosses the class boundary, exactly the examples a
    * contrastive batch builder wants.
    *
    * Anchors are ONE TRAINING BATCH (vec_id < 256) mined against the
    * whole corpus — the shape contrastive training actually runs (a
    * batch's negatives are re-mined per step; nobody mines the full
    * cross product at once, and an unbounded anchor set made this the
    * suite's worst query at 7 s for exactly that reason). Both argmaxes
    * are conditional struct-max aggregates in a SINGLE groupBy: partial
    * aggregation reduces every map task to one row per anchor before the
    * shuffle, so however many candidates a pair generator emits the wire
    * carries O(anchors) rows. The candidate side here is the full
    * codebook-scale embedding table (same nested-loop class as
    * llm_cosine_knn/llm_knn_join); at real corpus scale the candidate
    * stream comes from the LSH sign-bucket or trained-IVF generators
    * (llm_ann_lsh / llm_ann_ivf) and this operator's aggregate is
    * UNCHANGED. Similarities round to 6dp before the argmax and ties
    * break on the lower candidate id via the struct's (sim, -b_id)
    * ordering, mirroring the oracle's (sim DESC, id ASC) row_number.
    *
    * Join orientation matters: the BATCH is the broadcast side and the
    * CORPUS is the streamed side — the r8-initial form let Spark build-
    * right on the corpus and stream the 256 anchors off a single-file
    * parquet scan, serializing every cosine plus the sort-aggregate into
    * ONE task (7.1 s in the bench; suite maximum). Streaming the
    * candidates also matches the scale story (a corpus, or an LSH/IVF
    * candidate stream, arrives partitioned; a training batch is a
    * broadcast-scale constant). At bench SF the single parquet file
    * yields one input split, so the candidate side is explicitly spread
    * across cores first — a 2000-row round-robin exchange, free at any
    * scale where it isn't already unnecessary. */
  def llmHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val a = e.filter(col("vec_id") < 256)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
      col("e").as("ae"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("e").as("be"))
      .repartition(spark.sparkContext.defaultParallelism)
    val sim = round(cosineSim(col("ae"), col("be")), 6)
    b.join(broadcast(a), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("a_label"), col("b_id"), col("b_label"),
        sim.as("sim"))
      .groupBy(col("a_id"), col("a_label"))
      .agg(
        max(when(col("a_label") =!= col("b_label"),
          struct(col("sim"), (-col("b_id")).as("nb"), col("b_label")))).as("hn"),
        max(when(col("a_label") === col("b_label"),
          struct(col("sim"), (-col("b_id")).as("nb")))).as("pos"))
      // an anchor whose label has no second member has no positive, and
      // one whose label covers the whole corpus has no negative — both
      // are excluded BY DEFINITION (mining needs the pair), matching the
      // oracle's inner join; the fixture's 10×50 labels hit neither case,
      // but the semantics must not depend on fixture shape
      .filter(col("hn").isNotNull && col("pos").isNotNull)
      .select(col("a_id").as("vec_id"), col("a_label").as("label"),
        (-col("hn.nb")).as("hn_id"), col("hn.b_label").as("hn_label"),
        col("hn.sim").as("hn_sim"),
        col("pos.sim").as("pos_sim"),
        round(col("pos.sim") - col("hn.sim"), 6).as("margin"))
      .orderBy(col("vec_id").asc)
  }

  /** IVF ANN with a TRAINED coarse codebook: 3 Lloyd's iterations of
    * spherical k-means (assign to argmax-cosine pivot, re-center each cell
    * at its member mean) from 16 seeded-Gaussian pivots (gauss(), base
    * 1<<20 — round 7; previously the corpus rows vec_id < 16 stood in);
    * each query then probes its 8 nearest cells and ranks only those
    * cells' vectors — searching nprobe/K of the corpus.
    *
    * Scale shape: the codebook is a k·d-sized CONSTANT of the query (16×64
    * doubles — the same class as llm_ann_lsh's planes), so it rides into
    * the plan as a LITERAL pivot array and assignment is a pure MAP-SIDE
    * fold: each vector picks its argmax-cosine cell locally, zero shuffle.
    * (Round 7 instead crossJoined a broadcast pivot frame and ran a
    * row_number window partitioned by vec_id — that shuffled 16× the
    * corpus per training pass, three corpus shuffles total, plus a
    * broadcast-build job each; the r8 job decomposition charged 19 jobs to
    * this operator, most of them those windows.) A training iteration is
    * now one distributed pass — map-side assignment, per-(cell,dim)
    * partial-agg means — ending in an O(k·d) collect (a codebook is by
    * construction a driver/broadcast-scale object; at 100 TB you train on
    * a deterministic sample, identical loop). The fold visits pivots in
    * p_id order and replaces only on STRICTLY greater rounded cosine, so
    * ties keep the lower p_id — bit-identical to the old window's
    * (psim DESC, p_id ASC) pick and to the SQL oracle's unrolled
    * iterations. Centroids and similarities are rounded to 6 decimals so
    * both engines' float sums agree; empty cells keep their previous
    * pivot. Recall vs brute force is unit-tested against llm_knn_join. */
  def llmAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    // ONE typed literal (a single plan constant holding the whole pivot
    // table), not array(struct(lit...))'s 16×64 unrolled literal nodes:
    // the unrolled form generated a fresh ~1000-node codegen class per
    // Lloyd iteration (pivot VALUES are baked into the source, so no two
    // iterations share a compiled class — measured ~1-2 s of janino per
    // iteration, the query's dominant fixed cost under a contended
    // scheduler). A complex-typed literal travels in the codegen
    // references array instead: the generated source is identical across
    // iterations, so janino compiles the assignment kernel ONCE and every
    // subsequent iteration is a codegen-cache hit. The cast only renames
    // the tuple fields and is constant-folded into the literal.
    def pivArr(pivots: Seq[(Long, Seq[Double])]) =
      typedlit(pivots.sortBy(_._1))
        .cast("array<struct<p_id:bigint,pe:array<double>>>")
    // argmax cosine over the literal pivots, tie → lower pivot id
    def best(vec: org.apache.spark.sql.Column,
             pivots: Seq[(Long, Seq[Double])]): org.apache.spark.sql.Column =
      aggregate(pivArr(pivots),
        struct(lit(-2.0).as("sim"), lit(-1L).as("cell")),
        (acc, p) => {
          val s = round(cosineSim(vec, p.getField("pe")), 6)
          when(s > acc.getField("sim"),
            struct(s.as("sim"), p.getField("p_id").as("cell"))).otherwise(acc)
        })
    def assignTo(pivots: Seq[(Long, Seq[Double])]): DataFrame =
      e.select(col("vec_id").as("n_id"),
        best(col("e"), pivots).getField("cell").as("cell"), col("e").as("ne"))
    var pivots: Seq[(Long, Seq[Double])] =
      gaussianVectors(16, 64, base = 1L << 20).zipWithIndex
        .map { case (v, j) => j.toLong -> v }
    // AQE off for the training collects: each Lloyd step is a fixed-shape
    // explode→hash-agg whose exchange AQE would materialize as an extra
    // job per iteration (MemoFrames.noAqe scaladoc: job count IS the
    // contended-driver cost); results are identical either way.
    for (_ <- 1 to 3) {
      // size-derived exchange count for the fixed-shape training collect
      // (round 17): the per-dim explode fans the scanned bytes out ×~8
      // in flight — stated via expand, clamped to the session conf
      val step = assignTo(pivots)
        .select(col("cell"), posexplode(col("ne")))
        .groupBy("cell", "pos").agg(round(avg("col"), 6).as("m"))
      val means = MemoFrames.noAqe(spark)(
        MemoFrames.withShufflePartitions(spark,
          MemoFrames.scaleParts(spark, step, expand = 8.0))(step.collect()))
      val byCell: Map[Long, Seq[Double]] = means
        .groupBy(_.getLong(0))
        .map { case (c, rs) => c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      pivots = pivots.map { case (id, old) => id -> byCell.getOrElse(id, old) }
    }
    val assign = assignTo(pivots)
    // probe list: 8 nearest pivots per query — the same literal-array
    // trick, sorted map-side ((-sim, p_id) struct order ≡ sim DESC,
    // p_id ASC), so the probe fan-out never touches a window
    val probes = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        explode(slice(array_sort(transform(pivArr(pivots), p =>
          struct((lit(0.0) - round(cosineSim(col("e"), p.getField("pe")), 6)).as("ns"),
            p.getField("p_id").as("cell")))), 1, 8)).as("pc"))
      .select(col("q_id"), col("qe"), col("pc.cell").as("cell"))
    // search only the probed cells
    val scored = probes.join(assign, "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", round(cosineSim(col("qe"), col("ne")), 6))
    topKRanked(scored, "q_id", "sim", "n_id", 5, "rnk")
      .select("q_id", "rnk", "n_id", "cell", "sim")
      .orderBy(col("q_id").asc, col("rnk").asc)
  }

  /** Product quantization (round-8 wave 19) — the OTHER half of the ANN
    * storage story next to llm_quantize's scalar int8: the 64-d vector
    * splits into M=8 subspaces of 8 dims, each with its own TRAINED
    * 16-centroid codebook (2 Lloyd iterations — all 8 subspaces train in
    * ONE corpus pass per iteration), and a vector encodes as 8 code
    * bytes — 64× smaller than raw float64, 8× smaller than int8, the
    * compression that lets an ANN index hold a 100 TB corpus's vectors
    * in memory (Jégou et al., PQ). Codebooks are driver-scale
    * (8×16×8 = 1024 doubles — the IVF-means legitimacy class) and travel
    * as ONE typed literal (llm_ann_ivf's codegen-cache lesson).
    *
    * The declared report is per label: vector count, RECONSTRUCTION
    * error (‖x − decode(encode(x))‖ = √Σ_m min_j d²(x_m, c_mj) — the min
    * distance IS the quantization error, no decode pass needed) and the
    * distinct-signature count (8-byte code collisions — the metric that
    * says whether the codebook resolution suffices for candidate
    * pruning). NO-ORACLE (trained k-means); the spec pins: error ≥ 0,
    * training strictly improves on the untrained codebook, codes lie in
    * range, and the assignment is partition-invariant. */
  /** The pre-materialization assignment/report chain (trains the codebook
    * as a side effect) — exposed as "llm_emb_pq#inner" in PlanSnapshotSpec
    * so the corpus-scale scan stays under the plan guards after the
    * round-17 materialize truncated the declared plan. */
  private[graft] def llmEmbPqPlan(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val cb = MemoFrames.noAqe(spark)(pqCodebook(spark, dir, iters = 2))
    val cbDf = cb.zipWithIndex.flatMap { case (sub, m) =>
      sub.zipWithIndex.map { case (cent, j) => (m, j.toLong, cent) } }
      .toDF("m", "j", "cent")
    pqAssign(spark, dir, cbDf)
      .groupBy("vec_id", "label")
      .agg(sqrt(sum(col("b.d2"))).as("err"),
        transform(array_sort(collect_list(struct(col("m"), col("b.j")))),
          x => x.getField("j")).cast("string").as("code"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("err"), 6).as("avg_err"),
        round(max("err"), 6).as("max_err"),
        countDistinct(col("code")).as("distinct_codes"))
  }

  def llmEmbPq(spark: SparkSession, dir: String): DataFrame =
    // label-grain result (bounded at any corpus size) materialized so the
    // assignment/report chain runs AQE-off at a SIZE-DERIVED partition
    // count (round 17): the plan's scan is the small embedding file but
    // the broadcast-join fans it out ×K=16 codebook rows per subspace —
    // expand=16 states that, so the exchange count tracks the real
    // in-flight volume at every scale instead of the session constant.
    MemoFrames.materialize(spark, "emb_pq_out", llmEmbPqPlan(spark, dir),
      expand = 16.0)
      .orderBy(col("label").asc)

  /** Per-(vector, subspace) argmin against the codebook: subvectors
    * explode to (vec, m, sub) rows, the 128-row codebook broadcasts, the
    * 8-dim distance runs as one flat zip_with fold, and min(struct(d2,j))
    * picks lowest distance with ties to the lower index. All relational
    * codegen'd operators — the earlier nested-HOF formulation evaluated
    * INTERPRETED lambdas three levels deep (~55 ms/row: the difference
    * between "expression" and "operator" shapes at scale). Volume is
    * n·M rows exploded, n·M·K after the broadcast join — linear in the
    * corpus with a fixed 128× constant, the canonical PQ assignment
    * shape. */
  private[graft] def pqAssign(spark: SparkSession, dir: String,
                       cbDf: DataFrame): DataFrame = {
    val subs = embDouble(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(transform(sequence(lit(0), lit(7)),
          m => slice(col("e"), m * 8 + 1, lit(8)))).as(Seq("m", "sub")))
    val d2 = aggregate(zip_with(col("sub"), col("cent"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
    subs.join(broadcast(cbDf), "m")
      .select(col("vec_id"), col("label"), col("m"),
        struct(d2.as("d2"), col("j")).as("c"), col("sub"))
      .groupBy("vec_id", "label", "m")
      // `sub` is CONSTANT within a (vec, m) group (the K codebook rows fan
      // out of one subvector row), so first() is value-deterministic here;
      // carrying it through the argmin lets the Lloyd mean step below read
      // the winning subvector straight off the assignment instead of
      // recomputing the corpus explode and joining back on (vec_id, m) —
      // one corpus pass and one shuffle join removed PER ITERATION
      // (round 17, guide §2.4).
      .agg(min(col("c")).as("b"), first(col("sub")).as("sub"))
  }

  /** Train the M=8 × K=16 codebooks: seeded-Gaussian init scaled to the
    * embedding coordinate spread (sigma = 0.125 [measured]), then `iters`
    * Lloyd steps — each step assigns via pqAssign and collects the
    * 1024 per-(m, j, t) means (driver-scale, the IVF legitimacy class).
    * Cells that capture no vectors keep their previous centroid. */
  private[graft] def pqCodebook(spark: SparkSession, dir: String,
                                    iters: Int): Seq[Seq[Seq[Double]]] = {
    val spark2 = spark
    import spark2.implicits._
    val g = gaussianVectors(16, 64, base = 1L << 21)
    var cb: Seq[Seq[Seq[Double]]] =
      (0 until 8).map(m => (0 until 16).map(j =>
        g(j).slice(m * 8, m * 8 + 8).map(x =>
          BigDecimal(x * 0.125).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)))
    for (_ <- 1 to iters) {
      val cbDf = cb.zipWithIndex.flatMap { case (sub, m) =>
        sub.zipWithIndex.map { case (cent, j) => (m, j.toLong, cent) } }
        .toDF("m", "j", "cent")
      // the winning subvector rides the assignment (pqAssign carries it
      // through the argmin — round 17), so the mean step needs no
      // re-attach join; the collect's exchanges run at the size-derived
      // count (×16 codebook fan-out stated explicitly)
      val assigned = pqAssign(spark, dir, cbDf)
        .select(col("m"), col("b.j").as("j"),
          posexplode(col("sub")).as(Seq("t", "x")))
        .groupBy("m", "j", "t").agg(round(avg("x"), 6).as("c"))
      val means = MemoFrames.withShufflePartitions(spark,
        MemoFrames.scaleParts(spark, assigned, expand = 16.0))(
        assigned.collect())
      val byCell = means.groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k, rs) =>
          k -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
      cb = cb.zipWithIndex.map { case (sub, m) =>
        sub.zipWithIndex.map { case (old, j) =>
          byCell.getOrElse((m, j.toLong), old) } }
    }
    cb
  }

  /** Int8 embedding quantization with per-vector min/max scaling, and the
    * reconstruction error it costs — the storage play that makes a 100 TB
    * embedding corpus hold 4× more vectors per byte. Bucket index uses
    * `floor` (identical semantics in both engines; `round`'s .5 ties are
    * engine-specific), dequantize at bucket midpoint. Entirely map-side:
    * one narrow projection, then a per-label hash agg. */
  def llmQuantize(spark: SparkSession, dir: String): DataFrame = {
    val withScale = embDouble(spark, dir)
      .withColumn("mn", array_min(col("e")))
      .withColumn("sc", (array_max(col("e")) - array_min(col("e"))) / 256.0)
    val deq = transform(col("e"), x =>
      col("mn") + (least(floor((x - col("mn")) / col("sc")), lit(255.0)) + 0.5) * col("sc"))
    val err = sqrt(aggregate(zip_with(col("e"), deq, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v))
    withScale
      .select(col("label"), err.as("err"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg("err"), 6).as("avg_err"),
        round(max("err"), 6).as("max_err"))
      .orderBy(col("label").asc)
  }

  /** Random-hyperplane LSH for cosine ANN — the second scale path next to
    * IVF (llm_ann_ivf): 8 hyperplanes (embeddings 16..23 as a
    * deterministic stand-in for sampled Gaussian planes) give every vector
    * an 8-bit sign bucket; queries rank only their own bucket.
    *
    * The planes are a k·d-sized CONSTANT of the query (like the IVF
    * codebook), so they are collected once and inlined as literals:
    * bucketing becomes a pure map-side expression over each vector row —
    * round 2's crossJoin + per-vector hash agg + join-back (three shuffles
    * of the corpus) are gone. The search is an equi-join on the bucket
    * id — no global pairwise anything. */
  def llmAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val ev = withLshBucket(spark, dir)
    val q = ev.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("bkt"))
    val n = ev.select(col("vec_id").as("n_id"), col("e").as("ne"), col("bkt"))
    val scored = q.join(n, "bkt")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim", round(cosineSim(col("qe"), col("ne")), 6))
    topKRanked(scored, "q_id", "sim", "n_id", 5, "rnk")
      .select("q_id", "rnk", "n_id", "bkt", "sim")
      .orderBy(col("q_id").asc, col("rnk").asc)
  }

  /** The embeddings table with its 8-bit random-hyperplane sign bucket —
    * shared by llm_ann_lsh and llm_semdedup. The planes are seeded
    * Gaussian vectors (gauss(): Box-Muller over Knuth-hash uniforms,
    * 6dp — round 7; previously corpus rows 16..23 stood in), a k·d-sized
    * CONSTANT inlined as literals, so bucketing is a pure map-side
    * expression over each vector row with no corpus read and no collect
    * at all. The dot is the same zip_with/aggregate fold as the HOF
    * formulation — identical accumulation order, identical sign
    * decisions, so the DuckDB oracles reproduce the buckets exactly from
    * the same generate_series arithmetic. */
  private def withLshBucket(spark: SparkSession, dir: String): DataFrame = {
    val e = embDouble(spark, dir)
    val dotLit = (v: Seq[Double]) =>
      aggregate(zip_with(col("e"), typedLit(v), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val planes: Seq[Seq[Double]] = gaussianVectors(8, 64, base = 0L)
    val bkt = planes.zipWithIndex
      .map { case (p, j) => when(dotLit(p) > 0, lit(1 << j)).otherwise(lit(0)) }
      .reduce(_ + _).cast("int")
    e.withColumn("bkt", bkt)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    * embedding space and dropping, within each cluster, every vector
    * cosine-similar to an earlier-id one — the embedding analog of the
    * keep-first near-dup policy. Clusters here are the map-side LSH sign
    * buckets (a real deployment swaps in the trained IVF codebook;
    * the plan — cluster assignment, within-cluster pairs, anti-join —
    * is identical). Pairs come from BlockedPairs' salted form: `bkt` is
    * a ~256-value key, exactly the low-cardinality block shape the
    * triangle salting exists for.
    * Kept/dropped per label is the report a corpus build publishes. */
  def llmSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val d = withLshBucket(spark, dir)
      .select(col("vec_id").as("id"), col("label"), col("bkt"), col("e"))
    val cos = cosineSim(col("a.e"), col("b.e"))
    val dropped = BlockedPairs.selfPairs(d, Seq("bkt"), "id",
        round(cos, 6) >= 0.25 && !isnan(cos), salted = true)
      .select(col("b.id").as("id")).distinct()
    d.join(dropped, Seq("id"), "left_anti")
      .groupBy("label").agg(count(lit(1)).as("kept"))
      .join(d.groupBy("label").agg(count(lit(1)).as("total")), Seq("label"))
      .select(col("label"), col("kept"), (col("total") - col("kept")).as("dropped"))
      .orderBy(col("label").asc)
  }

  /** Token counting, whitespace vs a BPE-ish pre-tokenizer regex (word /
    * digit-run / single non-space symbol — the GPT-style pre-tokenizer
    * shape, kept to POSIX-simple classes so both engines' regex dialects
    * agree). The per-doc counts are the unit every training-data budget
    * is denominated in. */
  def llmTokenize(spark: SparkSession, dir: String): DataFrame = {
    val ws = size(split(col("text"), " ")).cast("bigint")
    val bpe = regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("lang"), ws.as("ws"), bpe.as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        round(avg("bpe"), 6).as("avg_bpe"))
      .orderBy(col("lang").asc)
  }

  /** PII/denylist redaction pass — the masking step a corpus build runs
    * before training: match terms with word-boundary regexes, replace
    * with a fixed sentinel, report per-source hit rates and the size
    * delta. On this synthetic corpus the denylist is quasi-identifier
    * vocabulary ('customer'/'user'/'key' — the fixture has no digits, so
    * email/phone patterns would be vacuous no-ops); a real deployment
    * swaps the pattern, the plan is identical. Entirely map-side (one
    * regex pass per doc), then a per-source hash agg — the shape every
    * scrubbing pass needs at 100 TB. Both engines speak this regex
    * subset ('\b' word boundaries: Java regex and RE2 agree). */
  def llmPiiMask(spark: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|user|key)\\b"
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        regexp_count(col("text"), lit(pat)).cast("bigint").as("nred"),
        length(regexp_replace(col("text"), pat, "<pii>")).cast("bigint").as("len_after"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        count(when(col("nred") > 0, lit(1))).as("docs_hit"),
        sum("nred").as("redactions"),
        round(avg(col("len_after") - col("n_chars")), 6).as("avg_delta"))
      .orderBy(col("source").asc)
  }

  /** Duplicated-substring share: per document, the
    * fraction of its distinct 8-token shingles that also occur in at
    * least one OTHER document — the diagnostic behind substring-level
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): exact-dup docs score 1.0, boilerplate-heavy docs
    * score high, clean docs near 0. The 8-token grain matches
    * llm_fingerprint's winnowing shingles.
    *
    * Shape: one corpus map pass encodes each doc's DISTINCT shingle set
    * (xxhash64 longs — counts are hash-collision-exact, the same
    * concession every hash-keyed op here makes), checkpointed because it
    * feeds both the df aggregate and the join-back (the bigramDocLp
    * lesson). The shingle-df table is a partial-agg hash aggregate; the
    * join-back is keyed on the shingle hash, and its row volume is
    * exactly the occurrence stream (Σ per-doc distinct shingles — the
    * df² blowup of pairwise forms never appears, which is why this
    * diagnostic stays cheap where llm_ngram_jaccard needs its block
    * keys). Both sides shuffle once on h; per-doc re-aggregation
    * shuffles the occurrence stream once on doc_id. At 100 TB the only
    * watch item is a mega-df boilerplate shingle: it contributes df
    * join rows (linear, not quadratic) — harmless. */
  def llmSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val nsh = greatest(size(toksRaw) - 7, lit(1))
    val shingles = array_distinct(transform(sequence(lit(1), nsh),
      i => xxhash64(concat_ws(" ", slice(toksRaw, i, lit(8))))))
    // materialize, not .checkpoint(): both consumers re-shuffle occ on h
    // anyway, and an eager checkpoint would run the explode twice
    // (MemoFrames.materialize scaladoc)
    val occ = MemoFrames.materialize(spark, "substr_occ",
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism) // single-row-group file
        .select(col("doc_id"), explode(shingles).as("h")))
    val df = occ.groupBy("h").agg(count(lit(1)).as("df"))
    occ.join(df, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share",
        round(col("n_dup").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id").asc)
  }

  /** BM25 lexical retrieval over an inverted index —
    * the sparse-retrieval counterpart of the dense ANN family
    * (llm_ann_lsh / llm_ann_ivf) and the lookup shape contamination
    * checks and dedup candidates actually run at corpus scale: an 8-doc
    * query batch retrieves its top-3 BM25-scored documents (self
    * excluded) through a TERM equi-join against the posting list —
    * work ∝ postings sharing a query term, NEVER all query×doc pairs.
    *
    * Scale shape: the posting list (doc, term, tf) and doc lengths are
    * one explode + two hash aggregates off the corpus scan (map-side
    * partials); document frequencies and the query-term table are
    * vocabulary-sized and BROADCAST; the per-(query, doc) score is a
    * partial-aggregated sum keyed by the pair, so the shuffle carries
    * one row per scored pair; ranking is the bounded-heap per-query
    * top-k (`topKRanked`), so only ≤ 3 candidates per query per map task
    * reach its shuffle. In production the df table adds a max-df
    * stoplist cap so a universal term can't explode the candidate
    * stream — noted, not needed at fixture vocab.
    *
    * BM25 constants k1 = 1.2, b = 0.75 as literals; idf is the
    * Robertson-Sparck-Jones ln(1 + (N − df + 0.5)/(df + 0.5)) — always
    * positive, so dense fixture vocabularies can't produce negative
    * scores. Scores round at 6dp before ranking (sum of ≤ |vocab|
    * doubles; accumulation-order noise ≪ 0.5e-6) and ties break on the
    * lower candidate id, mirroring the oracle. */
  def llmBm25Retrieve(spark: SparkSession, dir: String): DataFrame =
    topKRanked(bm25Scored(spark, dir), "q_id", "score", "doc_id", 3, "rnk")
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("doc_id").as("hit_id"), col("score"))
      .orderBy(col("q_id").asc, col("rnk").asc)

  /** BM25-scored (q_id, doc_id, score) candidates for the shared 8-doc
    * query batch — the ONE scorer llm_bm25_retrieve, llm_hybrid_rrf,
    * and llm_retrieval_eval all consume (round-14 review deduped the
    * copy in lexRanks: the k1/b constants, idf formula, and 6dp
    * rounding must live in exactly one place).
    *
    * The posting list is MEMOIZED (MemoFrames): its consumers below
    * (scalars, query terms, the candidate join) would otherwise each
    * re-run the corpus explode+aggregate — 16 scheduled jobs for
    * one query. An inverted index is a persisted artifact in any real
    * retrieval system; the memo parquet is the single-node stand-in.
    * The index persists tf PLUS each row's doc length and term df
    * (round-8b: previously derived per query) — exactly what a
    * Lucene-class index stores. The two window passes cost two extra
    * exchanges in the ONE-TIME build; in exchange the per-query plan
    * below loses the lens aggregate, the df/idf aggregate, AND the
    * candidate-stream join on doc_id — on the contended driver that is
    * half the query's scheduled jobs (12 → ~6 measured warm). */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val post = bm25Post(spark, dir)
    // n_docs/avglen: one broadcast-sized agg over the index. avglen as
    // Σtf / n_docs divides the same exact integers the old avg-over-lens
    // form did — identical double, no per-doc dedup pass needed.
    val scalars = broadcast(post.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      (sum("tf").cast("double") / countDistinct(col("doc_id"))).as("avglen")))
    val qterms = post.filter(col("doc_id") < 8)
      .select(col("doc_id").as("q_id"), col("tok"))
    post
      .join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(scalars)
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("q_id"), col("doc_id"),
        (col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
          .as("c"))
      .groupBy("q_id", "doc_id").agg(round(sum("c"), 6).as("score"))
  }

  /** The BM25 leg's top-10 ranking for the shared 8-query batch —
    * (q_id, doc_id, lex_rnk ≤ 10). Factored for llm_hybrid_rrf and
    * llm_retrieval_eval; see llmHybridRrf for the determinism
    * discipline (6dp-rounded scores, doc-id tie-breaks). */
  private def lexRanks(spark: SparkSession, dir: String): DataFrame =
    topKRanked(bm25Scored(spark, dir), "q_id", "score", "doc_id", 10, "lex_rnk")
      .select(col("q_id"), col("doc_id"), col("lex_rnk").cast("long").as("lex_rnk"))

  /** The dense leg's top-10 cosine ranking for the same batch —
    * (q_id, doc_id, den_rnk ≤ 10); NaN sims excluded before ranking. */
  private def denRanks(spark: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(spark, dir)
    val qv = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val scored = emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        round(cosineSim(col("e"), col("qe")), 6).as("sim"))
      .filter(!isnan(col("sim")))
    topKRanked(scored, "q_id", "sim", "doc_id", 10, "den_rnk")
      .select(col("q_id"), col("doc_id"), col("den_rnk").cast("long").as("den_rnk"))
  }

  /** RRF fusion (k = 60) of the two legs, re-ranked —
    * (q_id, doc_id, fused, lex_rnk, den_rnk, rnk). */
  private def rrfFused(lex: DataFrame, den: DataFrame): DataFrame = {
    val wFuse = Window.partitionBy("q_id")
      .orderBy(col("fused").desc, col("doc_id").asc)
    lex.join(den, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("fused", round(
        coalesce(lit(1.0) / (lit(60) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("den_rnk")), lit(0.0)), 6))
      .withColumn("rnk", row_number().over(wFuse).cast("long"))
  }

  /** Hybrid retrieval fusion — reciprocal-rank fusion
    * (Cormack/Clarke/Buettcher SIGIR'09: score(d) =
    * Σ_lists 1/(k + rank_list(d)), k = 60) of the engine's two existing
    * retrieval paths over the SAME 8-query batch and the same id space
    * (vec_id ≡ doc_id by fixture construction): llm_bm25_retrieve's
    * lexical ranking and llm_cosine_knn's dense ranking. This is the
    * standard RAG-corpus hybrid shape — sparse catches exact-term
    * matches dense misses, dense catches paraphrase lexical misses, and
    * RRF needs no score calibration because it consumes only RANKS.
    *
    * Shape: the lexical leg re-runs the BM25 scorer off the MEMOIZED
    * posting artifact (term equi-join, pair-grain partial agg — work ∝
    * postings sharing a query term); the dense leg is one corpus pass
    * against the 8 broadcast query vectors through the codegen'd cosine
    * kernel. Each leg keeps its per-query top-10 through the bounded-heap
    * `topKRanked` (≤ 10 rows per query per map task shuffle), and the
    * fusion is a full-outer join of two ≤ 80-row frames — no new
    * corpus-scale shuffle beyond the two ranking passes. At 100 TB the
    * dense leg swaps to the IVF/LSH-bucketed candidate join (llm_ann_ivf)
    * with this exact fusion frame on top.
    *
    * Determinism discipline: both legs round their scores at 6dp BEFORE
    * ranking with doc-id ascending tie-breaks (the proven bm25/knn
    * convention), ranks are exact integers, and the fused score is a
    * sum of two rank-derived doubles rounded at 6dp — so the oracle
    * reproduces every rank and therefore every fused value bit-for-bit.
    * NaN cosines (zero-norm vectors) are excluded on both sides before
    * ranking, the llm_cosine_knn convention. */
  def llmHybridRrf(spark: SparkSession, dir: String): DataFrame =
    rrfFused(lexRanks(spark, dir), denRanks(spark, dir))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"),
        col("doc_id").as("hit_id"), col("fused"), col("lex_rnk"), col("den_rnk"))
      .orderBy(col("q_id").asc, col("rnk").asc)

  /** Retrieval-quality eval harness (round 14) — the IR-eval step a RAG
    * corpus build runs before trusting its index: score the lexical,
    * dense, and fused rankings against a deterministic relevance oracle
    * (relevant(q, d) ⇔ label(d) = label(q) — the embedding fixture's
    * cluster labels, doc_id ≡ vec_id by construction) and report, per
    * leg, macro-averaged MRR@10 and precision@10 over the 8-query
    * batch. Near-chance numbers on the synthetic Gaussian fixture are
    * the honest readout (llm_knn_classify's discipline) — the harness
    * measures, it does not flatter.
    *
    * Shape: the three rank frames are the ≤80-row leg outputs (see
    * llmHybridRrf — no corpus work beyond the two ranking passes);
    * labels join from one column-pruned embeddings scan; metrics are
    * exact integer-rank arithmetic (1/rank, hit counts) aggregated per
    * query then macro-averaged, rounded 6dp — rank-identical engines
    * produce identical doubles, so the oracle reproduces every value. */
  def llmRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val qLabels = labels.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    // build each leg ONCE and fuse from the same frames (round-14
    // review: re-calling the factories here re-executed the BM25
    // scoring pass and the dense corpus join a second time each)
    val lexR = lexRanks(spark, dir)
    val denR = denRanks(spark, dir)
    val lex = lexR
      .select(col("q_id"), col("doc_id"), col("lex_rnk").as("rnk"))
      .withColumn("leg", lit("lex"))
    val den = denR
      .select(col("q_id"), col("doc_id"), col("den_rnk").as("rnk"))
      .withColumn("leg", lit("dense"))
    val rrf = rrfFused(lexR, denR)
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("doc_id"), col("rnk"))
      .withColumn("leg", lit("rrf"))
    val perQuery = lex.unionByName(den).unionByName(rrf)
      .join(broadcast(qLabels), "q_id")
      .join(broadcast(labels.withColumnRenamed("vec_id", "doc_id")), "doc_id")
      .withColumn("rel", (col("label") === col("q_label")).cast("int"))
      .groupBy("leg", "q_id")
      .agg(
        // first relevant rank → reciprocal; no relevant in top-10 → 0
        coalesce(lit(1.0) / min(when(col("rel") === 1, col("rnk"))), lit(0.0))
          .as("rr"),
        (sum("rel") / 10.0).as("p10"))
    // (leg × query) spine: a query that produced NO rows in a leg's
    // top-10 (no shared term; all-NaN sims) must score rr = p10 = 0,
    // not silently shrink that leg's denominator (round-14 review —
    // the standard macro-metric convention)
    val legNames = spark.range(1)
      .select(explode(array(lit("lex"), lit("dense"), lit("rrf"))).as("leg"))
    val spine = qLabels.select(col("q_id")).crossJoin(broadcast(legNames))
    spine.join(perQuery, Seq("leg", "q_id"), "left")
      .select(col("leg"),
        coalesce(col("rr"), lit(0.0)).as("rr"),
        coalesce(col("p10"), lit(0.0)).as("p10"))
      .groupBy("leg")
      .agg(
        count(lit(1)).as("n_queries"),
        round(avg("rr"), 6).as("mrr_at_10"),
        round(avg("p10"), 6).as("precision_at_10"))
      .orderBy(col("leg").asc)
  }

  /** PCA / whitening over the embedding table (round-8 addendum) — the
    * dimensionality-reduction step SemDeDup-class pipelines run before
    * clustering, and the engine's demonstration of the numeric-linear-
    * algebra-on-Spark pattern: a DISTRIBUTED covariance pass feeds a
    * DRIVER-SCALE eigensolve (d×d = 64×64 — codebook class, same
    * legitimacy argument as the IVF means), and the projection back onto
    * the corpus is pure MAP-SIDE arithmetic. Implemented with spark.ml's
    * PCA (the idiomatic route — its fit() is exactly that
    * covariance + breeze eigensolve shape internally) via
    * `array_to_vector`, k = 8 components.
    *
    * Declared output is SIGN-INDETERMINACY-FREE: eigenvector signs are
    * solver-arbitrary, so the query reports per-component explained
    * variance (+ cumulative share) and the corpus mean squared
    * projection per component — quantities invariant under component
    * sign flips, stable across reruns on the same data. NO-ORACLE
    * (DuckDB has no eigensolver); Round8OpsSpec pins the spectral
    * properties instead: variances non-increasing, shares in (0, 1],
    * k-component reconstruction captures the cumulative-share fraction
    * of total variance, and the projection pass preserves Parseval's
    * inequality (mean ‖proj‖² ≤ mean ‖x − μ‖²). */
  def llmPca(spark: SparkSession, dir: String): DataFrame = {
    // Round-8b rewrite: ONE corpus pass instead of spark.ml PCA's fit +
    // transform pipeline (~9 scheduled jobs — RowMatrix mean/Gramian
    // actions plus the projection agg — on a query whose math needs a
    // single moment sweep; the contended driver charged it 9.9 s). A
    // treeAggregate accumulates the raw moments (n, Σx, Σxxᵀ) in
    // per-partition dense arrays — 64·65 doubles of state, BLAS-free —
    // then everything else is driver-scale linear algebra on 64×64:
    //   C = (Σxxᵀ − Σx Σxᵀ/n)/(n−1)      (sample covariance)
    //   eigSym(C)                          (breeze/LAPACK, d³ at d=64)
    //   var_share_i = λᵢ/tr(C)             (ML's explainedVariance)
    //   mean_sq_proj_i = vᵢᵀ(Σxxᵀ/n)vᵢ    (≡ avg over rows of (x·vᵢ)² —
    //     spark.ml PCA projects UNCENTERED x, and the quadratic-form
    //     identity makes the per-row projection pass unnecessary)
    // Output stays sign-indeterminacy-free: shares and quadratic forms
    // are invariant under eigenvector sign flips.
    val d = 64
    val moments = embDouble(spark, dir).select(col("e")).rdd
      .map(_.getSeq[Double](0))
      .treeAggregate((0L, new Array[Double](d), new Array[Double](d * d)))(
        seqOp = { case ((n, s, ss), x) =>
          var i = 0
          while (i < d) {
            val xi = x(i); s(i) += xi
            var j = i
            while (j < d) { ss(i * d + j) += xi * x(j); j += 1 }
            i += 1
          }
          (n + 1, s, ss)
        },
        combOp = { case ((n1, s1, ss1), (n2, s2, ss2)) =>
          var i = 0
          while (i < d) { s1(i) += s2(i); i += 1 }
          i = 0
          while (i < d * d) { ss1(i) += ss2(i); i += 1 }
          (n1 + n2, s1, ss1)
        }, depth = 2)
    val (n, s, ss) = moments
    val cov = breeze.linalg.DenseMatrix.tabulate(d, d) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      (ss(lo * d + hi) - s(i) * s(j) / n) / (n - 1).toDouble
    }
    val es = breeze.linalg.eigSym(cov)
    val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(8)
    val trace = (0 until d).map(i => cov(i, i)).sum
    val rows = order.zipWithIndex.scanLeft((0L, 0.0, 0.0, 0.0)) {
      case ((_, _, cum, _), (ei, k)) =>
        val share = es.eigenvalues(ei) / trace
        val v = es.eigenvectors(::, ei)
        // vᵀ (Σxxᵀ/n) v over the upper-triangular raw second moments
        var msq = 0.0
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) {
            msq += v(i) * (ss(math.min(i, j) * d + math.max(i, j)) / n) * v(j)
            j += 1
          }
          i += 1
        }
        (k + 1L, share, cum + share, msq)
    }.tail.map { case (c, sh, cum, msq) =>
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (c, r6(sh), r6(cum), r6(msq))
    }
    import spark.implicits._
    rows.toDF("component", "var_share", "cum_share", "mean_sq_proj")
      .orderBy(col("component").asc)
  }

  /** Embedding-table data-quality profile (round-8 addendum) — the
    * validation gate an embedding pipeline runs before ANN/clustering
    * consumes a batch: per label, vector count, dimensionality
    * consistency (distinct dims — should be 1), L2-norm distribution
    * (mean/min/max), degenerate-vector count (‖v‖ < 0.01 — zero vectors
    * poison cosine math) and non-finite element count. The dense-vector
    * analogue of dq_profile.
    *
    * Determinism: the per-row norm is a SEQUENTIAL left-fold over the
    * array (`aggregate` HOF in index order; DuckDB's list_sum folds the
    * same order) in DOUBLE — identical per-row doubles, only the
    * cross-row avg carries partition-order ulps (6dp absorbs). All
    * map-side per row + one label-grain hash agg; nothing but the one
    * corpus pass at any scale. */
  def llmEmbStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
      .withColumn("n_bad", expr(
        "size(filter(embedding, x -> isnan(x) OR x IS NULL))"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(size(col("embedding"))).as("n_dims"),
        round(avg("norm"), 6).as("mean_norm"),
        round(min("norm"), 6).as("min_norm"),
        round(max("norm"), 6).as("max_norm"),
        count(when(col("norm") < 0.01, 1)).as("n_degenerate"),
        sum("n_bad").as("n_nonfinite"))
      .orderBy(col("label").asc)

  /** ROUGE-2 overlap for dedup candidate pairs (round-8 addendum) —
    * the VALIDATION step after candidate generation: for every pair
    * the winnowing-fingerprint blocker surfaces, the exact distinct-
    * bigram precision/recall/F1 (ROUGE-2 with set semantics) that a
    * dedup threshold is actually tuned against. Closes the loop the
    * dedup family leaves open: llm_fingerprint proposes, this measures.
    *
    * Blocking reuses the MEMOIZED fingerprint frame (fph — same-min-
    * shingle pairs, the graph-query representative), so candidate
    * volume is the blocker's output, never n². The intersection is an
    * equi-join on the raw BIGRAM STRING (exact — no hash-collision
    * caveat in an oracle'd metric) between the two sides' distinct-
    * bigram explodes, counted per pair; set sizes join back from the
    * per-doc bigram census. All frames are candidate-pair × ~100
    * bigrams — bounded by the blocker. */
  def llmRougePairs(spark: SparkSession, dir: String): DataFrame =
    rougeFrame(spark, dir).orderBy(col("a").asc, col("b").asc)

  /** The scored candidate frame behind llm_rouge_pairs, MEMOIZED per
    * (session, dir): blocker-output-sized (never n²), and two consumers
    * read it — the per-pair listing and llm_dedup_sweep's threshold
    * table — so the bigram-intersection join runs once per session. */
  private[operators] def rougeFrame(spark: SparkSession, dir: String): DataFrame =
    MemoFrames.frame(spark, s"rouge_f1|$dir")(rougeBuild(spark, dir))

  private def rougeBuild(spark: SparkSession, dir: String): DataFrame = {
    val fp = fpFrame(spark, dir).select(col("doc_id"), col("fph"))
    val pairs = BlockedPairs.selfPairs(fp, Seq("fph"), "doc_id")
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))).as("bg"))
      .distinct()
    // each of a's distinct bigrams meets at most one equal b bigram, so
    // per pair the a-side rows count a's set size and the matches count
    // the intersection; a pair whose a has no bigram has no set to score
    pairs
      .join(bigrams.select(col("doc_id").as("a"), col("bg")), "a")
      .join(bigrams.select(col("doc_id").as("b"), col("bg"), lit(1).as("hit")),
        Seq("b", "bg"), "left")
      .groupBy("a", "b").agg(count(col("hit")).as("inter"), count(lit(1)).as("na"))
      .join(bigrams.groupBy(col("doc_id").as("b")).agg(count(lit(1)).as("nb")), "b")
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") / col("na"), 6).as("rouge2_p"),
        round(col("inter").cast("double") / col("nb"), 6).as("rouge2_r"),
        round(lit(2.0) * col("inter") / (col("na") + col("nb")), 6).as("rouge2_f"))
    // no orderBy here: the memo file is unordered, each consumer imposes
    // its own order (the declared listing sorts, the sweep aggregates)
  }

  /** The MEMOIZED BM25 inverted-index file (doc_id, tok, tf, len, df) —
    * built once per (session, dir), read by llm_bm25_retrieve's scorer
    * and llm_index_stats' health report. See llmBm25Retrieve for the
    * index-persists-len/df rationale. */
  private[operators] def bm25Post(spark: SparkSession, dir: String): DataFrame =
    MemoFrames.frame(spark, s"bm25_post|$dir") {
      val wd = Window.partitionBy("doc_id")
      val wt = Window.partitionBy("tok")
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .withColumn("len", sum("tf").over(wd))
        .withColumn("df", count(lit(1)).over(wt))
    }

  /** Inverted-index health report (round-8 wave 16) — the profile a
    * retrieval deployment checks before serving: vocabulary size, total
    * postings, indexed docs, the df distribution's max/p90, and the
    * singleton-term share (df = 1 terms bloat the dictionary but can
    * never match a multi-doc query — the classic prune candidate). Rides
    * the MEMOIZED BM25 posting file (df/len are index columns there); the
    * term-grain frame is vocabulary-sized, so the whole report is a
    * distinct + two aggs off one warm file scan. */
  def llmIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val post = bm25Post(spark, dir)
    post.select("tok", "df").distinct().createOrReplaceTempView("g_idx_terms")
    post.select("doc_id").distinct().createOrReplaceTempView("g_idx_docs")
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM g_idx_docs) AS n_docs,
        |  count(*) AS vocab,
        |  CAST(sum(df) AS BIGINT) AS postings,
        |  max(df) AS max_df,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY df) AS BIGINT) AS p90_df,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS singleton_share
        |FROM g_idx_terms""".stripMargin)
  }

  /** Dedup-threshold sweep (round-8 wave 14) — the tuning curve on top of
    * llm_rouge_pairs: for each candidate ROUGE-2 F1 threshold, how many
    * blocker-surfaced pairs count as duplicates and how many docs a
    * keep-first policy would drop. This is the table an engineer reads to
    * PICK the threshold the dedup family then applies — proposes
    * (llm_fingerprint), measures (llm_rouge_pairs), decides (this).
    * Candidate volume is the blocker's output; the 5-value literal spine
    * explodes map-side (no join), and n_dropped's countDistinct runs on
    * the ≤ candidates × 5 frame — all bounded by the blocker at any
    * corpus scale. Thresholds compare against the 6dp-pre-rounded F1,
    * so both engines cut identical pairs. */
  def llmDedupSweep(spark: SparkSession, dir: String): DataFrame = {
    val spine = array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)
    rougeFrame(spark, dir)
      .select(col("a"), col("b"), col("rouge2_f"), explode(spine).as("thr"))
      .groupBy("thr")
      .agg(count(lit(1)).as("candidates"),
        sum(when(col("rouge2_f") >= col("thr"), 1L).otherwise(0L)).as("n_dup_pairs"),
        countDistinct(when(col("rouge2_f") >= col("thr"), col("b"))).as("n_dropped"))
      .orderBy(col("thr").asc)
  }

  /** Cohen's kappa between two deterministic quality raters (round-9
    * wave 7) — chance-corrected inter-rater agreement, the label-quality
    * statistic an annotation pipeline reports before trusting its
    * raters: rater A flags docs with ≥500 chars, rater B flags docs
    * with ≥90 whitespace tokens (two cheap heuristic "annotators"
    * whose systematic correlation is exactly what raw percent-agreement
    * over-credits and kappa corrects). Emits the full 2×2 confusion
    * matrix plus p_o, p_e, and κ = (p_o − p_e)/(1 − p_e).
    *
    * Every probability divides exact integer counts (the matrix cells),
    * and κ is assembled from those bit-identical doubles in one
    * mirrored expression — no accumulation-order exposure. One corpus
    * pass: map-side flags → single 4-cell hash agg → 1-row pivot. */
  def llmRaterKappa(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select((col("n_chars") >= 500).cast("int").as("a"),
        (size(split(col("text"), " ")) >= 90).cast("int").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val m = cells.agg(
      sum("n").as("n"),
      sum(when(col("a") === 1 && col("b") === 1, col("n")).otherwise(0L)).as("n11"),
      sum(when(col("a") === 1 && col("b") === 0, col("n")).otherwise(0L)).as("n10"),
      sum(when(col("a") === 0 && col("b") === 1, col("n")).otherwise(0L)).as("n01"),
      sum(when(col("a") === 0 && col("b") === 0, col("n")).otherwise(0L)).as("n00"))
    val nd = col("n").cast("double")
    val po = (col("n11") + col("n00")) / nd
    val pe = ((col("n11") + col("n10")) / nd) * ((col("n11") + col("n01")) / nd) +
      ((col("n01") + col("n00")) / nd) * ((col("n10") + col("n00")) / nd)
    m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("p_o"), round(pe, 6).as("p_e"),
      // nullif: when chance agreement is total (every doc in one cell,
      // p_e = 1) kappa is undefined — NULL like the oracle's /0, never
      // an ANSI error (round-13 tiny sweep)
      round((po - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6).as("kappa"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_rater_kappa"   -> (llmRaterKappa _),
    "llm_rouge_pairs"   -> (llmRougePairs _),
    "llm_dedup_sweep"   -> (llmDedupSweep _),
    "llm_emb_stats"     -> (llmEmbStats _),
    "llm_pca"           -> (llmPca _),
    "llm_bm25_retrieve" -> (llmBm25Retrieve _),
    "llm_hybrid_rrf" -> (llmHybridRrf _),
    "llm_retrieval_eval" -> (llmRetrievalEval _),
    "llm_bloom_dedup"   -> (llmBloomDedup _),
    "llm_substring_dedup" -> (llmSubstringDedup _),
    "llm_pii_mask"      -> (llmPiiMask _),
    "llm_semdedup"      -> (llmSemdedup _),
    "llm_ngram_jaccard" -> (llmNgramJaccard _),
    "llm_tokenize"    -> (llmTokenize _),
    "llm_fingerprint" -> (llmFingerprint _),
    "llm_lang_id"     -> (llmLangId _),
    "llm_quality"     -> (llmQuality _),
    "llm_simhash"     -> (llmSimhash _),
    "llm_emb_neardup" -> (llmEmbNeardup _),
    "llm_ann_ivf"     -> (llmAnnIvf _),
    "llm_quantize"    -> (llmQuantize _),
    "llm_ann_lsh"       -> (llmAnnLsh _),
    "llm_hard_negatives" -> (llmHardNegatives _),
    "llm_cross_source_dup" -> (llmCrossSourceDup _),
    "llm_index_stats"   -> (llmIndexStats _),
    "llm_emb_pq"        -> (llmEmbPq _))

  val oracleSql: Map[String, String] = Map(
    "llm_rater_kappa" ->
      """WITH f AS (
        |  SELECT CAST(n_chars >= 500 AS INT) AS a,
        |    CAST(len(string_split(text, ' ')) >= 90 AS INT) AS b
        |  FROM documents),
        |m AS (
        |  SELECT count(*) AS n,
        |    count(*) FILTER (WHERE a = 1 AND b = 1) AS n11,
        |    count(*) FILTER (WHERE a = 1 AND b = 0) AS n10,
        |    count(*) FILTER (WHERE a = 0 AND b = 1) AS n01,
        |    count(*) FILTER (WHERE a = 0 AND b = 0) AS n00
        |  FROM f)
        |SELECT n, n11, n10, n01, n00,
        |  round((n11 + n00) / CAST(n AS DOUBLE), 6) AS p_o,
        |  round(((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
        |    + ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE)), 6) AS p_e,
        |  round(((n11 + n00) / CAST(n AS DOUBLE)
        |      - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
        |         + ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE))))
        |    / (1.0 - (((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
        |         + ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE)))), 6) AS kappa
        |FROM m""".stripMargin,
    "llm_index_stats" ->
      """WITH post AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |terms AS (SELECT tok, count(*) AS df FROM post GROUP BY tok)
        |SELECT (SELECT count(DISTINCT doc_id) FROM post) AS n_docs,
        |  count(*) AS vocab,
        |  CAST(sum(df) AS BIGINT) AS postings,
        |  max(df) AS max_df,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY df) AS p90_df,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS singleton_share
        |FROM terms""".stripMargin,
    "llm_cross_source_dup" ->
      """WITH f AS (
        |  SELECT doc_id, list_min(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |    i -> md5(array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))) AS fp
        |  FROM documents),
        |g AS (
        |  SELECT f.fp, d.source, CAST(count(*) AS BIGINT) AS n
        |  FROM f JOIN documents d ON f.doc_id = d.doc_id
        |  GROUP BY f.fp, d.source),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
        |         ELSE a.n * b.n END AS np
        |  FROM g a JOIN g b ON a.fp = b.fp AND a.source <= b.source)
        |SELECT src_a, src_b, CAST(sum(np) AS BIGINT) AS n_pairs,
        |  count(*) AS n_fps
        |FROM p WHERE np > 0
        |GROUP BY src_a, src_b ORDER BY src_a ASC, src_b ASC""".stripMargin,
    "llm_dedup_sweep" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text,' ')) - 7, 1)),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))) AS fp
        |  FROM documents),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id),
        |bg AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM (
        |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM (
        |      SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |      WHERE len(string_split(text, ' ')) >= 2))),
        |sizes AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY doc_id),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS inter
        |  FROM pairs p
        |  JOIN bg ba ON ba.doc_id = p.a
        |  JOIN bg bb ON bb.doc_id = p.b AND bb.bg = ba.bg
        |  GROUP BY p.a, p.b),
        |scored AS (
        |  SELECT p.a, p.b,
        |    round(2.0 * COALESCE(i.inter, 0) / (sa.nb + sb.nb), 6) AS f1
        |  FROM pairs p
        |  LEFT JOIN inter i ON p.a = i.a AND p.b = i.b
        |  JOIN sizes sa ON sa.doc_id = p.a
        |  JOIN sizes sb ON sb.doc_id = p.b),
        |thr AS (SELECT unnest([0.5e0, 0.6e0, 0.7e0, 0.8e0, 0.9e0]) AS thr)
        |SELECT thr, count(*) AS candidates,
        |  CAST(sum(CASE WHEN f1 >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
        |  count(DISTINCT CASE WHEN f1 >= thr THEN b END) AS n_dropped
        |FROM scored CROSS JOIN thr
        |GROUP BY thr ORDER BY thr ASC""".stripMargin,
    "llm_rouge_pairs" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text,' ')) - 7, 1)),
        |      i -> array_to_string(list_slice(string_split(text,' '), i, i + 7), ' '))) AS fp
        |  FROM documents),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id),
        |bg AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS bg FROM (
        |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM (
        |      SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |      WHERE len(string_split(text, ' ')) >= 2))),
        |sizes AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY doc_id),
        |inter AS (
        |  SELECT p.a, p.b, count(*) AS inter
        |  FROM pairs p
        |  JOIN bg ba ON ba.doc_id = p.a
        |  JOIN bg bb ON bb.doc_id = p.b AND bb.bg = ba.bg
        |  GROUP BY p.a, p.b)
        |SELECT p.a, p.b, COALESCE(i.inter, 0) AS inter,
        |  sa.nb AS na, sb.nb AS nb,
        |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE) / sa.nb, 6) AS rouge2_p,
        |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE) / sb.nb, 6) AS rouge2_r,
        |  round(2.0 * COALESCE(i.inter, 0) / (sa.nb + sb.nb), 6) AS rouge2_f
        |FROM pairs p
        |LEFT JOIN inter i ON p.a = i.a AND p.b = i.b
        |JOIN sizes sa ON sa.doc_id = p.a
        |JOIN sizes sb ON sb.doc_id = p.b
        |ORDER BY p.a ASC, p.b ASC""".stripMargin,
    "llm_emb_stats" ->
      """WITH v AS (
        |  SELECT label, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
        |    len(list_filter(embedding, x -> isnan(x) OR x IS NULL)) AS n_bad
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  count(DISTINCT len(embedding)) AS n_dims,
        |  round(avg(norm), 6) AS mean_norm,
        |  round(min(norm), 6) AS min_norm,
        |  round(max(norm), 6) AS max_norm,
        |  count(CASE WHEN norm < 0.01 THEN 1 END) AS n_degenerate,
        |  CAST(sum(n_bad) AS BIGINT) AS n_nonfinite
        |FROM v GROUP BY label ORDER BY label ASC""".stripMargin,
    "llm_bm25_retrieve" ->
      """WITH post AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM post GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, avg(len) AS avglen FROM lens),
        |dfi AS (
        |  SELECT tok, ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf,
        |    avglen
        |  FROM post, stats GROUP BY tok, n_docs, avglen),
        |q AS (SELECT doc_id AS q_id, tok FROM post WHERE doc_id < 8),
        |scored AS (
        |  SELECT q.q_id, p.doc_id,
        |    round(sum(dfi.idf * p.tf * 2.2 /
        |      (p.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avglen))), 6) AS score
        |  FROM post p
        |  JOIN q ON p.tok = q.tok AND p.doc_id <> q.q_id
        |  JOIN dfi ON p.tok = dfi.tok
        |  JOIN lens ON p.doc_id = lens.doc_id
        |  CROSS JOIN stats
        |  GROUP BY q.q_id, p.doc_id),
        |r AS (
        |  SELECT q_id, doc_id, score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, doc_id ASC) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, doc_id AS hit_id, score
        |FROM r WHERE rnk <= 3 ORDER BY q_id ASC, rnk ASC""".stripMargin,
    "llm_hybrid_rrf" ->
      """WITH post AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM post GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, avg(len) AS avglen FROM lens),
        |dfi AS (
        |  SELECT tok, ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf,
        |    avglen
        |  FROM post, stats GROUP BY tok, n_docs, avglen),
        |q AS (SELECT doc_id AS q_id, tok FROM post WHERE doc_id < 8),
        |scored AS (
        |  SELECT q.q_id, p.doc_id,
        |    round(sum(dfi.idf * p.tf * 2.2 /
        |      (p.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avglen))), 6) AS score
        |  FROM post p
        |  JOIN q ON p.tok = q.tok AND p.doc_id <> q.q_id
        |  JOIN dfi ON p.tok = dfi.tok
        |  JOIN lens ON p.doc_id = lens.doc_id
        |  CROSS JOIN stats
        |  GROUP BY q.q_id, p.doc_id),
        |lex AS (
        |  SELECT q_id, doc_id, lex_rnk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, doc_id ASC) AS lex_rnk
        |    FROM scored) WHERE lex_rnk <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |densim AS (
        |  SELECT qe.vec_id AS q_id, n.vec_id AS doc_id,
        |    round(list_cosine_similarity(qe.ve, n.ve), 6) AS sim
        |  FROM e qe JOIN e n ON qe.vec_id < 8 AND n.vec_id <> qe.vec_id),
        |den AS (
        |  SELECT q_id, doc_id, den_rnk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, doc_id ASC) AS den_rnk
        |    FROM densim WHERE NOT isnan(sim)) WHERE den_rnk <= 10),
        |fused AS (
        |  SELECT coalesce(l.q_id, d.q_id) AS q_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    l.lex_rnk, d.den_rnk,
        |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rnk), 0) +
        |          coalesce(CAST(1 AS DOUBLE) / (60 + d.den_rnk), 0), 6) AS fused
        |  FROM lex l FULL OUTER JOIN den d
        |    ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY fused DESC, doc_id ASC) AS rnk
        |  FROM fused)
        |SELECT q_id, rnk, doc_id AS hit_id, fused, lex_rnk, den_rnk
        |FROM r WHERE rnk <= 3 ORDER BY q_id ASC, rnk ASC""".stripMargin,
    "llm_retrieval_eval" ->
      """WITH post AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM post GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, avg(len) AS avglen FROM lens),
        |dfi AS (
        |  SELECT tok, ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf,
        |    avglen
        |  FROM post, stats GROUP BY tok, n_docs, avglen),
        |q AS (SELECT doc_id AS q_id, tok FROM post WHERE doc_id < 8),
        |scored AS (
        |  SELECT q.q_id, p.doc_id,
        |    round(sum(dfi.idf * p.tf * 2.2 /
        |      (p.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avglen))), 6) AS score
        |  FROM post p
        |  JOIN q ON p.tok = q.tok AND p.doc_id <> q.q_id
        |  JOIN dfi ON p.tok = dfi.tok
        |  JOIN lens ON p.doc_id = lens.doc_id
        |  CROSS JOIN stats
        |  GROUP BY q.q_id, p.doc_id),
        |lex AS (
        |  SELECT q_id, doc_id, lex_rnk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, doc_id ASC) AS lex_rnk
        |    FROM scored) WHERE lex_rnk <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
        |densim AS (
        |  SELECT qe.vec_id AS q_id, n.vec_id AS doc_id,
        |    round(list_cosine_similarity(qe.ve, n.ve), 6) AS sim
        |  FROM e qe JOIN e n ON qe.vec_id < 8 AND n.vec_id <> qe.vec_id),
        |den AS (
        |  SELECT q_id, doc_id, den_rnk FROM (
        |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, doc_id ASC) AS den_rnk
        |    FROM densim WHERE NOT isnan(sim)) WHERE den_rnk <= 10),
        |fused AS (
        |  SELECT coalesce(l.q_id, d.q_id) AS q_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lex_rnk), 0) +
        |          coalesce(CAST(1 AS DOUBLE) / (60 + d.den_rnk), 0), 6) AS fused
        |  FROM lex l FULL OUTER JOIN den d
        |    ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
        |rrf AS (
        |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY fused DESC, doc_id ASC) AS rnk
        |  FROM fused),
        |legs AS (
        |  SELECT 'lex' AS leg, q_id, doc_id, lex_rnk AS rnk FROM lex
        |  UNION ALL
        |  SELECT 'dense', q_id, doc_id, den_rnk FROM den
        |  UNION ALL
        |  SELECT 'rrf', q_id, doc_id, rnk FROM rrf WHERE rnk <= 10),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |ql AS (SELECT vec_id AS q_id, label AS q_label FROM lab WHERE vec_id < 8),
        |rel AS (
        |  SELECT lg.leg, lg.q_id, lg.rnk,
        |    CASE WHEN d.label = ql.q_label THEN 1 ELSE 0 END AS rel
        |  FROM legs lg JOIN ql ON lg.q_id = ql.q_id
        |  JOIN lab d ON lg.doc_id = d.vec_id),
        |pq AS (
        |  SELECT leg, q_id,
        |    coalesce(CAST(1 AS DOUBLE) / min(CASE WHEN rel = 1 THEN rnk END), 0) AS rr,
        |    CAST(sum(rel) AS DOUBLE) / 10 AS p10
        |  FROM rel GROUP BY leg, q_id),
        |legnames AS (SELECT unnest(['lex', 'dense', 'rrf']) AS leg),
        |spine AS (SELECT ln.leg, ql.q_id FROM legnames ln CROSS JOIN ql),
        |filled AS (
        |  SELECT s.leg, coalesce(pq.rr, 0) AS rr, coalesce(pq.p10, 0) AS p10
        |  FROM spine s LEFT JOIN pq ON s.leg = pq.leg AND s.q_id = pq.q_id)
        |SELECT leg, count(*) AS n_queries, round(avg(rr), 6) AS mrr_at_10,
        |  round(avg(p10), 6) AS precision_at_10
        |FROM filled GROUP BY leg ORDER BY leg ASC""".stripMargin,
    "llm_bloom_dedup" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |      i -> md5(array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))) AS fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
        |fresh AS (SELECT doc_id, lang, fp FROM f WHERE doc_id % 10 = 0)
        |SELECT lang, count(*) AS batch,
        |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM hist) THEN 0 ELSE 1 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM hist) THEN 1 ELSE 0 END) AS BIGINT) AS dropped
        |FROM fresh GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_substring_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ')))) AS sh
        |  FROM documents),
        |d AS (SELECT sh, count(*) AS df FROM p GROUP BY sh)
        |SELECT p.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_share
        |FROM p JOIN d ON p.sh = d.sh
        |GROUP BY p.doc_id ORDER BY p.doc_id ASC""".stripMargin,
    "llm_pii_mask" ->
      """SELECT source, count(*) AS docs,
        |  count(*) FILTER (len(regexp_extract_all(text, '\b(customer|user|key)\b')) > 0) AS docs_hit,
        |  CAST(sum(len(regexp_extract_all(text, '\b(customer|user|key)\b'))) AS BIGINT) AS redactions,
        |  round(avg(len(regexp_replace(text, '\b(customer|user|key)\b', '<pii>', 'g')) - n_chars), 6) AS avg_delta
        |FROM documents GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars // 100 AS band,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac
        |FROM d a JOIN d b ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.3
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,
    "llm_tokenize" ->
      """SELECT lang, count(*) AS docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        | CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
        | round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6) AS avg_bpe
        |FROM documents GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text,' ')) - 7, 1)),
        |      i -> md5(array_to_string(list_slice(string_split(text,' '), i, i + 7), ' ')))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_sharing
        |FROM f ORDER BY doc_id ASC""".stripMargin,
    "llm_lang_id" -> {
      val o = (m: String) => s"(length(text) - length(replace(text, '$m', '')))"
      s"""SELECT lang,
         | CASE
         |  WHEN ${o("the")} >= ${o("der")} AND ${o("the")} >= ${o("los")}
         |   AND ${o("the")} >= ${o("les")} AND ${o("the")} >= ${o("的")} THEN 'en'
         |  WHEN ${o("der")} >= ${o("los")} AND ${o("der")} >= ${o("les")}
         |   AND ${o("der")} >= ${o("的")} THEN 'de'
         |  WHEN ${o("los")} >= ${o("les")} AND ${o("los")} >= ${o("的")} THEN 'es'
         |  WHEN ${o("les")} >= ${o("的")} THEN 'fr'
         |  ELSE 'zh' END AS predicted,
         | count(*) AS n
         |FROM documents GROUP BY lang, predicted ORDER BY lang ASC, predicted ASC""".stripMargin
    },
    "llm_quality" ->
      """WITH q AS (
        |  SELECT lang,
        |    0.5 * least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100, 1.0) +
        |    0.3 * (1.0 - CAST(len(list_filter(string_split(text,' '), t -> t = 'a' OR t = 'the')) AS DOUBLE)
        |                 / len(string_split(text,' '))) +
        |    0.2 * least((CAST(n_chars AS DOUBLE) - (len(string_split(text,' ')) - 1))
        |                / len(string_split(text,' ')) / 6, 1.0) AS q
        |  FROM documents)
        |SELECT lang, CAST(floor(q * 10) AS INT) AS bucket, count(*) AS n, round(avg(q), 6) AS avg_q
        |FROM q GROUP BY lang, bucket ORDER BY lang ASC, bucket ASC""".stripMargin,
    "llm_emb_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |  AND NOT isnan(list_cosine_similarity(a.v, b.v))
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,
    "llm_quantize" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, label, v, list_min(v) AS mn,
        |         (list_max(v) - list_min(v)) / 256.0 AS sc
        |  FROM e),
        |d AS (
        |  SELECT label, sqrt(list_sum(list_transform(v, x ->
        |    pow(x - (mn + (least(floor((x - mn) / sc), 255) + 0.5) * sc), 2)))) AS err
        |  FROM m)
        |SELECT label, count(*) AS n, round(avg(err), 6) AS avg_err,
        |  round(max(err), 6) AS max_err
        |FROM d GROUP BY label ORDER BY label ASC""".stripMargin,
    "llm_semdedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planes AS (
        |  SELECT j AS p_id, list_transform(generate_series(1, 64), i ->
        |    round(sqrt(-2 * ln((((j*64 + i) % 1000003) * 2654435761 % 1000003 + 1) / 1000004e0))
        |      * cos(2 * pi() * ((((j*64 + i) % 1000003) * 2246822519 % 1000003 + 1) / 1000004e0)), 6)) AS pv
        |  FROM generate_series(0, 7) AS s(j)),
        |bkt AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
        |      THEN (1 << CAST(p.p_id AS INT)) ELSE 0 END) AS INT) AS bkt
        |  FROM e CROSS JOIN planes p GROUP BY e.vec_id),
        |ev AS (SELECT e.vec_id, e.label, e.v, bkt.bkt FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
        |drp AS (
        |  SELECT DISTINCT y.vec_id FROM ev x JOIN ev y
        |    ON x.bkt = y.bkt AND x.vec_id < y.vec_id
        |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.25
        |    AND NOT isnan(list_cosine_similarity(x.v, y.v)))
        |SELECT label,
        |  count(*) FILTER (drp.vec_id IS NULL) AS kept,
        |  count(*) FILTER (drp.vec_id IS NOT NULL) AS dropped
        |FROM ev LEFT JOIN drp ON ev.vec_id = drp.vec_id
        |GROUP BY label ORDER BY label ASC""".stripMargin,
    "llm_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS a_id, a.label AS a_label,
        |    b.vec_id AS b_id, b.label AS b_label,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM e a JOIN e b ON a.vec_id < 256 AND a.vec_id <> b.vec_id),
        |hn AS (
        |  SELECT a_id, a_label, b_id, b_label, sim,
        |    row_number() OVER (PARTITION BY a_id
        |      ORDER BY sim DESC, b_id ASC) AS rn
        |  FROM p WHERE a_label <> b_label),
        |pos AS (
        |  SELECT a_id, sim,
        |    row_number() OVER (PARTITION BY a_id
        |      ORDER BY sim DESC, b_id ASC) AS rn
        |  FROM p WHERE a_label = b_label)
        |SELECT hn.a_id AS vec_id, hn.a_label AS label,
        |  hn.b_id AS hn_id, hn.b_label AS hn_label, hn.sim AS hn_sim,
        |  pos.sim AS pos_sim,
        |  round(pos.sim - hn.sim, 6) AS margin
        |FROM hn JOIN pos ON hn.a_id = pos.a_id AND hn.rn = 1 AND pos.rn = 1
        |ORDER BY vec_id ASC""".stripMargin,
    "llm_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planes AS (
        |  SELECT j AS p_id, list_transform(generate_series(1, 64), i ->
        |    round(sqrt(-2 * ln((((j*64 + i) % 1000003) * 2654435761 % 1000003 + 1) / 1000004e0))
        |      * cos(2 * pi() * ((((j*64 + i) % 1000003) * 2246822519 % 1000003 + 1) / 1000004e0)), 6)) AS pv
        |  FROM generate_series(0, 7) AS s(j)),
        |bkt AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
        |      THEN (1 << CAST(p.p_id AS INT)) ELSE 0 END) AS INT) AS bkt
        |  FROM e CROSS JOIN planes p GROUP BY e.vec_id),
        |ev AS (SELECT e.vec_id, e.v, bkt.bkt FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
        |ranked AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, n.bkt,
        |    round(list_cosine_similarity(q.v, n.v), 6) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, n.vec_id ASC) AS rnk
        |  FROM ev q JOIN ev n ON q.bkt = n.bkt AND n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 3)
        |SELECT q_id, rnk, n_id, bkt, sim FROM ranked WHERE rnk <= 5
        |ORDER BY q_id ASC, rnk ASC""".stripMargin,
    "llm_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p0 AS (
        |  SELECT j AS p_id, list_transform(generate_series(1, 64), i ->
        |    round(sqrt(-2 * ln((((1048576 + j*64 + i) % 1000003) * 2654435761 % 1000003 + 1) / 1000004e0))
        |      * cos(2 * pi() * ((((1048576 + j*64 + i) % 1000003) * 2246822519 % 1000003 + 1) / 1000004e0)), 6)) AS pv
        |  FROM generate_series(0, 15) AS s(j)),
        |a1 AS (
        |  SELECT cell, nv FROM (
        |    SELECT p.p_id AS cell, e.v AS nv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, p.p_id ASC) AS rn
        |    FROM e CROSS JOIN p0 p) t WHERE rn = 1),
        |c1 AS (
        |  SELECT cell, list(m ORDER BY i) AS cv FROM (
        |    SELECT cell, i, round(avg(nv[i]), 6) AS m
        |    FROM a1 CROSS JOIN generate_series(1, 64) AS g(i)
        |    GROUP BY cell, i) s GROUP BY cell),
        |p1 AS (SELECT p0.p_id, coalesce(c1.cv, p0.pv) AS pv
        |       FROM p0 LEFT JOIN c1 ON p0.p_id = c1.cell),
        |a2 AS (
        |  SELECT cell, nv FROM (
        |    SELECT p.p_id AS cell, e.v AS nv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, p.p_id ASC) AS rn
        |    FROM e CROSS JOIN p1 p) t WHERE rn = 1),
        |c2 AS (
        |  SELECT cell, list(m ORDER BY i) AS cv FROM (
        |    SELECT cell, i, round(avg(nv[i]), 6) AS m
        |    FROM a2 CROSS JOIN generate_series(1, 64) AS g(i)
        |    GROUP BY cell, i) s GROUP BY cell),
        |p2 AS (SELECT p1.p_id, coalesce(c2.cv, p1.pv) AS pv
        |       FROM p1 LEFT JOIN c2 ON p1.p_id = c2.cell),
        |a3 AS (
        |  SELECT cell, nv FROM (
        |    SELECT p.p_id AS cell, e.v AS nv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, p.p_id ASC) AS rn
        |    FROM e CROSS JOIN p2 p) t WHERE rn = 1),
        |c3 AS (
        |  SELECT cell, list(m ORDER BY i) AS cv FROM (
        |    SELECT cell, i, round(avg(nv[i]), 6) AS m
        |    FROM a3 CROSS JOIN generate_series(1, 64) AS g(i)
        |    GROUP BY cell, i) s GROUP BY cell),
        |piv AS (SELECT p2.p_id, coalesce(c3.cv, p2.pv) AS pv
        |        FROM p2 LEFT JOIN c3 ON p2.p_id = c3.cell),
        |asg AS (
        |  SELECT n_id, cell, nv FROM (
        |    SELECT e.vec_id AS n_id, p.p_id AS cell, e.v AS nv,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, p.p_id ASC) AS rn
        |    FROM e CROSS JOIN piv p) t WHERE rn = 1),
        |probes AS (
        |  SELECT q_id, qv, cell FROM (
        |    SELECT e.vec_id AS q_id, e.v AS qv, p.p_id AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, p.pv), 6) DESC, p.p_id ASC) AS rn
        |    FROM e CROSS JOIN piv p WHERE e.vec_id < 3) t WHERE rn <= 8),
        |ranked AS (
        |  SELECT q_id, n_id, cell, sim, row_number() OVER (
        |      PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rnk
        |  FROM (
        |    SELECT pr.q_id, a.n_id, a.cell,
        |      round(list_cosine_similarity(pr.qv, a.nv), 6) AS sim
        |    FROM probes pr JOIN asg a ON pr.cell = a.cell
        |    WHERE a.n_id <> pr.q_id) s)
        |SELECT q_id, rnk, n_id, cell, sim FROM ranked WHERE rnk <= 5
        |ORDER BY q_id ASC, rnk ASC""".stripMargin)
}
