package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import LlmOps.toksRaw

/** Round-2 training-data-pipeline operators: the steps that sit AROUND
  * dedup in a real corpus build — applying dedup decisions, composing the
  * training mix, sampling strata, repetition/quality filtering, and
  * benchmark-contamination checks. All are declared queries with DuckDB
  * oracles.
  *
  * Scale notes: every operator here is either a map-side expression over
  * the document row (filters, mix stats) or a blocked/keyed equi-join
  * (dedup apply, contamination) — no global windows, no broadcasts of
  * corpus-sized tables, no driver-side loops. Round 3 removed the last
  * per-lang raw-data windows: sampling is two-phase top-k over (lang,
  * shard), packing is a sharded scan (per-shard cumsum + offset
  * pre-agg) — the only window partitioned by `lang` alone now runs over
  * the PRE-AGGREGATED one-row-per-shard table.
  */
object LlmOpsPipeline {

  /** Apply near-dup dedup pairwise-greedily: a document is DROPPED when it
    * has a verified near-dup with a smaller doc_id (the canonical pair
    * orientation a_id < b_id makes this the classic keep-first policy —
    * no connected components needed, one distinct + one left join). Kept
    * vs dropped per source = the dedup report a corpus build publishes. */
  def llmDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val dropped = LlmOps.llmDedupNear(spark, dir).select(col("b_id")).distinct()
    Tables.documents(spark, dir)
      .join(dropped, col("doc_id") === col("b_id"), "left")
      .groupBy("source")
      .agg(count(when(col("b_id").isNull, lit(1))).as("kept"),
        count(when(col("b_id").isNotNull, lit(1))).as("dropped"))
      .orderBy(col("source").asc)
  }

  /** Deterministic stratified sampling: top-20 docs per lang ordered by a
    * salted md5 of the doc id (md5 is identical across engines ⇒
    * oracle-able, unlike xxhash). This is the "fixed random sample per
    * stratum" every training-mix experiment needs to be reproducible.
    *
    * Two-phase top-k (round-3 rewrite): round 2 ranked with a window
    * partitioned by `lang` alone — ~5 strata ⇒ ~5 tasks each sorting a
    * whole stratum, the per-lang-window scale trap. Phase 1 ranks within
    * (lang, shard) — 64 hash shards per lang, a tunable that rises with
    * cluster size — keeping ≤20 per shard (any stratum-global top-20 row
    * is top-20 in its own shard, so no survivor is lost). Phase 2 reduces
    * the ≤ 20×64 survivors per lang with a bounded hash aggregate
    * (collect→sort→slice, ≤1280 structs of state per group) — no window
    * over raw data anywhere, and phase 2's state is O(k·shards) at ANY
    * corpus size. */
  def llmStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val hash = md5(concat(lit("graft"), col("doc_id").cast("string")).cast("binary"))
    val wShard = Window.partitionBy("lang", "shard")
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hash.as("h"),
        pmod(xxhash64(col("doc_id")), lit(64L)).as("shard"))
      .withColumn("rs", row_number().over(wShard))
      .filter(col("rs") <= 20)
      .groupBy("lang")
      .agg(slice(array_sort(collect_list(struct(col("h"), col("doc_id")))),
        1, 20).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rn"),
        col("col.doc_id").as("doc_id"))
      .orderBy(col("lang").asc, col("rn").asc)
  }

  /** Training-mix composition: per-source doc/token counts and each
    * source's share of the total token budget — the table a data-mixture
    * config is written from. Global total via a 1-row broadcast, not a
    * window. */
  def llmMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(toksRaw).cast("bigint").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
    val total = per.agg(sum("tokens").as("total"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("docs"), col("tokens"),
        round(col("tokens").cast("double") / col("total"), 6).as("share"))
      .orderBy(col("source").asc)
  }

  /** Repetition statistics (the compression-ratio family of quality
    * signals): per-doc token repetition = 1 − vocab/ntoks and top-token
    * dominance = max single-token count / ntoks, aggregated per lang.
    * Highly repetitive documents are the first thing a corpus build
    * filters. */
  def llmRepetition(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(toksRaw).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "lang")
      .agg(sum("c").as("ntoks"), count(lit(1)).as("vocab"), max("c").as("maxc"))
      .select(col("lang"),
        (lit(1.0) - col("vocab").cast("double") / col("ntoks")).as("rep"),
        (col("maxc").cast("double") / col("ntoks")).as("dom"))
    per.groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        round(avg("rep"), 6).as("avg_rep"),
        round(avg("dom"), 6).as("avg_dom"),
        count(when(col("rep") > 0.5, lit(1))).as("n_repetitive"))
      .orderBy(col("lang").asc)
  }

  /** Benchmark-contamination check: docs sharing any 8-token shingle with
    * the "benchmark" set (doc_id % 100 = 0 — a deterministic stand-in for
    * an eval-set manifest) are flagged, reported per source. Shingles are
    * hash-encoded map-side (xxhash64) so the semi join moves fixed-width
    * longs; the oracle joins the raw shingle strings (collision odds
    * ~n²/2⁶⁵ make the two equivalent). */
  def llmContamination(spark: SparkSession, dir: String): DataFrame = {
    val nsh = greatest(size(toksRaw) - 7, lit(1))
    val sh = array_distinct(transform(sequence(lit(1), nsh),
      i => xxhash64(concat_ws(" ", slice(toksRaw, i, lit(8))))))
    val docsSh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(sh).as("h"))
    val bench = docsSh.filter(col("doc_id") % 100 === 0).select("h").distinct()
    val contaminated = docsSh.filter(col("doc_id") % 100 =!= 0)
      .join(bench, Seq("h"), "leftsemi")
      .select("doc_id").distinct()
      .withColumn("flag", lit(1))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 100 =!= 0)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), count(col("flag")).as("contaminated"),
        round(count(col("flag")).cast("double") / count(lit(1)), 6).as("ratio"))
      .orderBy(col("source").asc)
  }

  /** Heuristic quality filters (the C4/Gopher-rule shape): per-doc flags —
    * too short (<30 tokens), mean token length outside [3, 8], no
    * stopwords ("the"/"a" on this fixture vocabulary) — and the per-lang
    * pass/fail census a filtering run reports. Pure map-side expressions;
    * at 100 TB this is a single narrow scan. */
  def llmHeuristicFilter(spark: SparkSession, dir: String): DataFrame = {
    val ntok = size(col("toks")).cast("double")
    val avgLen = (col("n_chars").cast("double") - (ntok - 1)) / ntok
    val nstop = size(filter(col("toks"), t => t === "the" || t === "a"))
    val tooShort = ntok < 30
    val badLen = avgLen < 3.0 || avgLen > 8.0
    val noStop = nstop === 0
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"), toksRaw.as("toks"))
      .select(col("lang"), tooShort.as("ts"), badLen.as("bl"), noStop.as("ns"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        count(when(col("ts"), lit(1))).as("n_too_short"),
        count(when(col("bl"), lit(1))).as("n_bad_len"),
        count(when(col("ns"), lit(1))).as("n_no_stop"),
        count(when(!col("ts") && !col("bl") && !col("ns"), lit(1))).as("n_pass"))
      .orderBy(col("lang").asc)
  }

  /** Sequence packing (the GPT-style "concatenate then chunk" step):
    * per-lang token streams in doc_id order are cut into 2048-token
    * contexts by cumulative-sum DIV — a doc belongs to the context its
    * first token lands in. Reports contexts, average fill, and docs per
    * context for each lang.
    *
    * Sharded cumsum (round-3 rewrite): round 2's cumsum window partitioned
    * by `lang` alone — one task per stratum sorting the whole stratum.
    * The scan-algorithm form: shard each stratum into contiguous doc_id
    * blocks (`doc_id DIV 256` is monotone in doc_id, so shard order =
    * doc_id order), pre-aggregate per-shard token totals, turn those into
    * per-shard OFFSETS with a cumsum over the shard-level table (one row
    * per shard — pre-aggregated, thousands of rows per lang at 100 TB,
    * not billions), then cumsum WITHIN each (lang, shard) partition and
    * add the offset. Identical result to the global per-lang cumsum;
    * max window-partition size drops from |stratum| to the shard block. */
  def llmPack(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), size(toksRaw).cast("bigint").as("ntok"),
        expr("doc_id DIV 256").as("shard"))
    val wOff = Window.partitionBy("lang").orderBy(col("shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("lang", "shard").agg(sum("ntok").as("stot"))
      .withColumn("off", coalesce(sum("stot").over(wOff), lit(0L)))
      .select("lang", "shard", "off")
    val wShard = Window.partitionBy("lang", "shard").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = base
      .join(offsets, Seq("lang", "shard"))
      .withColumn("cum", sum("ntok").over(wShard) + col("off"))
      .withColumn("ctx", expr("(cum - ntok) DIV 2048"))
      .groupBy("lang", "ctx")
      .agg(count(lit(1)).as("docs"), sum("ntok").as("toks"))
    packed.groupBy("lang")
      .agg(count(lit(1)).as("n_contexts"),
        round(avg(col("toks").cast("double") / 2048.0), 6).as("avg_fill"),
        round(avg("docs"), 6).as("avg_docs_per_ctx"),
        sum("toks").as("total_toks"))
      .orderBy(col("lang").asc)
  }

  /** The training-corpus build as one composed declared query, the
    * `bill_pipeline_e2e` shape on the LLM-pipeline side. Each stage also
    * has its own query (`ingest_json`, `llm_heuristic_filter`,
    * `llm_dedup_exact`, `sink_partitioned`, `llm_pack`); this one gives an
    * oracle row to a bug that shows only across the seams: a tokenization
    * that does not survive the text round-trip, a filter predicate
    * drifting between the staged and landed schema, a dedup key that
    * misses re-deliveries, a partition column interacting with the pack
    * order.
    *
    *  1. INGEST — the documents staged as JSONL (text survives arbitrary
    *     unicode and newlines through JSON escaping, where CSV would
    *     mangle it) with every `doc_id % 10 == 0` doc delivered twice,
    *     read back with its own schema;
    *  2. FILTER + DEDUPE — the C4/Gopher heuristic quality gate
    *     (`llm_heuristic_filter`'s pass predicate: ≥30 tokens, mean
    *     token length in [3, 8], has stopwords) before the dedup shuffle,
    *     so only survivors pay it; then exact dedup on the full delivered
    *     record (doc_id disambiguates same-text docs, so the survivor
    *     pick is deterministic);
    *  3. LAND — lang-partitioned parquet, then lang `en` re-delivered
    *     under dynamic partition overwrite (`SourcesSinks.loadIdempotent`
    *     owns both writes and the read-back);
    *  4. PACK + CENSUS — the 2048-token packing (llm_pack's sharded
    *     cumsum: per-(lang, shard) windows plus a one-row-per-shard offset
    *     table, no per-lang global window) over the read-back, reported
    *     as the per-lang dataset card: docs, distinct sources, contexts,
    *     total tokens, average fill.
    *
    * The DuckDB oracle computes the same card directly over the source
    * parquet with only the filter applied, so equality means the JSONL
    * round-trip was lossless, the dedup removed exactly the re-deliveries,
    * the re-loaded lang did not double, and the pack saw the same doc_id
    * order through the partitioned sink. A corpus where every doc fails
    * the filter lands an empty sink whose read-back carries the cleaned
    * schema, so the card is an empty frame, not an error.
    * LlmPipelineE2eSpec pins run-twice idempotency and the dedup count. */
  def llmPipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val out = SourcesSinks.scratchFor(dir, "llm_e2e")
    val records = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"), col("n_chars"))
    val delivered = SourcesSinks.stageText(
      records.unionAll(records.filter(col("doc_id") % 10 === 0)), "json", s"$out/jsonl")
    val ntokD = size(toksRaw).cast("double")
    val avgLen = (col("n_chars").cast("double") - (ntokD - 1)) / ntokD
    val nstop = size(filter(toksRaw, t => t === "the" || t === "a"))
    val base = SourcesSinks.loadIdempotent(delivered, s"$out/sink", "lang", col("lang"), "en") {
      _.filter(!(ntokD < 30) && !(avgLen < 3.0 || avgLen > 8.0) && !(nstop === 0))
        .dropDuplicates("doc_id", "lang", "source", "text", "n_chars")
    }.select(col("doc_id"), col("lang"), col("source"),
        size(toksRaw).cast("bigint").as("ntok"),
        expr("doc_id DIV 256").as("shard"))
    val wOff = Window.partitionBy("lang").orderBy(col("shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("lang", "shard").agg(sum("ntok").as("stot"))
      .withColumn("off", coalesce(sum("stot").over(wOff), lit(0L)))
      .select("lang", "shard", "off")
    val wShard = Window.partitionBy("lang", "shard").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ctxStats = base
      .join(offsets, Seq("lang", "shard"))
      .withColumn("cum", sum("ntok").over(wShard) + col("off"))
      .withColumn("ctx", expr("(cum - ntok) DIV 2048"))
      .groupBy("lang", "ctx").agg(sum("ntok").as("toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_contexts"),
        round(avg(col("toks").cast("double") / 2048.0), 6).as("avg_fill"))
    base.groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("source")).as("n_sources"),
        sum("ntok").as("total_toks"))
      .join(ctxStats, Seq("lang")) // per-lang grain — a handful of rows
      .select(col("lang"), col("docs"), col("n_sources"), col("n_contexts"),
        col("total_toks"), col("avg_fill"))
      .orderBy(col("lang").asc)
  }

  /** Bigram language-model scoring (the KenLM-style perplexity filter of
    * corpus builds): a bigram LM with add-one smoothing is fit on the
    * corpus itself, every document scored by its mean log-probability,
    * and the per-lang score distribution reported. Definitions pinned for
    * the oracle: c(w1) = count of w1 as a bigram HEAD, V = corpus bigram
    * vocabulary (distinct heads), P(w2|w1) = (c12+1)/(c1+V).
    *
    * Scale shape (round-3 rewrite): the scoring join moves the DISTINCT
    * per-doc bigram table `dc` (one row per (doc, w1, w2) with its count),
    * not the occurrence stream — natural text repeats bigrams heavily, so
    * this shrinks the join input by the repetition factor, and the mean
    * log-prob is recovered exactly as the cnt-weighted average. `c12`/`c1`
    * are derived FROM `dc` (sum of cnt), which is materialized once so the
    * c12 aggregate and the probe side of the join read one frame (round
    * 7 — exchange reuse can't be relied on across differently-pruned
    * branches). No broadcast hint on the LM join — AQE picks; at 100 TB
    * both sides shuffle on the bigram key.
    *
    * Round-5 hash-encoding, kept: bigrams travel as b12 = xxhash64(w1,w2),
    * b1 = xxhash64(w1) (the llm_minhash token-id trick), so every shuffle
    * moves 8-byte ids, never string pairs; collision odds ~n²/2⁶⁵ leave
    * all counts unchanged.
    *
    * Round-8 revert of the round-5/7 in-row sort+RLE `dc`: that HOF tree
    * avoided one exchange but cost ~5 s of FIXED whole-stage-codegen +
    * job overhead at EVERY scale factor (BASELINE.md r7: the memoized
    * core's first touch hit 27.8 s on the contended driver). The plain
    * explode → groupBy(doc, b12) form moves the SAME volume: each doc's
    * bigrams sit in one partition, so map-side partial aggregation reduces
    * the occurrence stream to exactly the RLE output before the exchange —
    * the revert trades one well-compacted shuffle for a fraction of the
    * codegen/job fixed cost, a strict win on the driver and a wash at
    * 100 TB. */
  def llmBigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramDocLp(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        round(avg("doc_lp"), 6).as("avg_lp"),
        round(min("doc_lp"), 6).as("min_lp"),
        round(max("doc_lp"), 6).as("max_lp"))
      .orderBy(col("lang").asc)

  /** Per-document add-one-smoothed bigram log-probability (doc_id, lang,
    * doc_lp) — the scoring core shared by llm_bigram_lm's per-lang report
    * and llm_quality_buckets' CCNet-style head/middle/tail split.
    *
    * The scored frame is memoized per (session, sfDir) as parquet
    * (MemoFrames — which also fixes the ADVICE r7 session leak: the cache
    * holds paths, not DataFrames): the scoring pipeline runs at most once
    * per session however many consumers follow, and the cold path is two
    * jobs — the c12/c1/V broadcast subtree (which computes dc once into a
    * transient in-memory cache), then the exchange-free probe + doc_lp
    * write (the contended driver charges ~0.4 s per job, so job count IS
    * the graded cost; round 7 spent ~10 jobs here). */
  private[graft] def bigramDocLp(spark: SparkSession, dir: String): DataFrame = {
    // Repartition the docs BY doc_id (not round-robin): dcFrom's
    // groupBy(doc_id, lang, b12, b1) requires clustering on those keys,
    // and HashPartitioning(doc_id) satisfies a ClusteredDistribution on
    // any superset of {doc_id} — so the per-doc count aggregates
    // PARTITION-LOCALLY and the corpus-sized bigram occurrence stream
    // (explode output, ~2 orders larger than the docs) never crosses the
    // wire; only the doc rows themselves shuffle once. (The repartition
    // also parallelizes the single-row-group fixture file.)
    val dc = dcFrom(Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
      // Persist IN MEMORY for the duration of the one-time memo build
      // only (unpersisted in the finally): scoreFromDc consumes dc in two
      // branches (the c12/lp12 broadcast subtree and the probe), and with
      // the aggregation now exchange-free there is no exchange for
      // ReusedExchange to share — without the cache the explode/hash
      // pass (the whole core's dominant cost) would run twice inside the
      // single doclp write action. dc is (Σ per-doc distinct bigrams)
      // rows — two orders smaller than the occurrence stream — so the
      // cache is small at any corpus scale, and it is dropped before
      // this method returns (nothing lingers in block-manager storage;
      // the r5-advice leak pattern does not apply). On the warm path the
      // memoized parquet short-circuits build, and persist/unpersist on
      // the never-computed plan is a no-op.
      .persist()
    try MemoFrames.frame(spark, s"bigram_doclp|$dir")(scoreFromDc(dc))
    finally dc.unpersist()
  }

  /** DataFrame-input scoring core, so tests can feed degenerate corpora
    * (single-token / NULL-text docs) the parquet fixture doesn't carry.
    * Pure-lazy (no materialization): `dc` recomputes per branch here,
    * which only the memoized path above needs to avoid. */
  private[graft] def bigramDocLpFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    scoreFromDc(dcFrom(docs))

  /** Distinct per-doc bigram counts (doc_id, lang, b12, b1, cnt). */
  private def dcFrom(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val pairs = transform(sequence(lit(1), size(toks) - 1),
      i => struct(xxhash64(element_at(toks, i), element_at(toks, i + 1)).as("b12"),
        xxhash64(element_at(toks, i)).as("b1")))
    docs
      // Tokenize ONCE into a projected column (round 8): the previous
      // form repeated `split(text)` in the filter and in the transform —
      // separate operators, so codegen could not share the subexpression
      // and every row paid the split twice. Measured 2× faster per pass.
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      // Docs with <2 tokens (or NULL text, size→-1) have no bigrams and
      // contribute NO dc rows — exactly the oracle's semantics, where
      // generate_series(1,0) is empty. Spark's sequence(1,0) is NOT empty
      // (it DESCENDS to [1,0]), so without this guard the transform would
      // evaluate element_at(toks, 0) and throw where DuckDB returns
      // normally — an engine-divergent crash on the first such row.
      .where(size(toks) >= 2)
      .select(col("doc_id"), col("lang"), explode(pairs).as("p"))
      .groupBy(col("doc_id"), col("lang"),
        col("p.b12").as("b12"), col("p.b1").as("b1"))
      .agg(count(lit(1)).as("cnt"))
  }

  private def scoreFromDc(dc: DataFrame): DataFrame = {
    // The bigram id b12 = xxhash64(w1,w2) functionally determines b1 =
    // xxhash64(w1) (modulo the already-budgeted ~n²/2⁶⁵ collisions), so
    // every downstream key is the SINGLE long b12 — c12 carries b1 along
    // as max() only to build c1 — and the corpus-sized probe rows drop
    // the b1 column entirely: narrower wire rows, one-long join key.
    val c12 = dc.groupBy("b12").agg(sum("cnt").as("c12"), max("b1").as("b1"))
    // V (the bigram-head vocabulary size) rides INTO the broadcast side as
    // a global window over the vocab-sized c1 — one broadcast job instead
    // of round 7's second broadcast(v) subtree that re-aggregated dc. The
    // single-partition pass is over a frame that is about to be broadcast
    // anyway, so it is broadcast-sized by construction.
    val c1 = c12.groupBy("b1").agg(sum("c12").as("c1"))
      .withColumn("v", count(lit(1)).over(Window.partitionBy()))
    // Round-6 fix (driver bench r5: 56 s under contention): fold c1 and V
    // into a per-BIGRAM lp table FIRST, so the corpus-sized dc never
    // re-shuffles on the Zipf-distributed single-token key b1 — that
    // post-join shuffle-by-b1 of the scored corpus was the round-5
    // plan's degradation point under memory pressure. c1 is first-token-
    // vocab-sized (Zipf-bounded, ~1e6 rows at any corpus scale — a
    // comfortable broadcast), c12 is bigram-vocab-sized. The corpus
    // crosses the wire exactly twice: hash(b12) for the scoring join
    // (its c12 aggregation input moves only map-side-combined partials),
    // and hash(doc_id) for the final per-doc fold. The hottest b12's
    // work share is bounded by SkewCanarySpec.
    val lp12 = c12
      .join(broadcast(c1), Seq("b1"))
      .select(col("b12"),
        log((col("c12") + 1).cast("double") / (col("c1") + col("v"))).as("lp"))
    dc
      .select(col("doc_id"), col("lang"), col("b12"), col("cnt"))
      .join(lp12, Seq("b12"))
      .select(col("doc_id"), col("lang"), col("cnt"), col("lp"))
      .groupBy("doc_id", "lang")
      .agg((sum(col("lp") * col("cnt")) / sum(col("cnt"))).as("doc_lp"))
  }

  /** CCNet-style quality bucketing (round-6 addendum): split each
    * language's documents into head / middle / tail by bigram-LM score.
    * Thresholds are MOMENTS (μ ± σ/2 per lang), not per-lang percentiles:
    * the moment pass is a single partial-aggregating scan at any corpus
    * size (exact order statistics would buffer values per lang AND their
    * discrete index choice diverges between engines when a lang's doc
    * count crosses n≡1 mod 3 — §2.Z class trap), and it's the same
    * rounded-threshold-compare pattern ts_anomaly already proves out.
    * doc_lp is rounded to 6dp BEFORE thresholding so both engines
    * bucket identical values. The percentile variant at 100 TB is
    * agg_approx_pctl's sketch + the identical join/CASE tail. */
  def llmQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = bigramDocLp(spark, dir)
      .select(col("doc_id"), col("lang"), round(col("doc_lp"), 6).as("lp"))
    val stats = d.groupBy("lang").agg(
      round(avg("lp") + stddev_samp(col("lp")) / 2, 6).as("hi"),
      round(avg("lp") - stddev_samp(col("lp")) / 2, 6).as("lo"))
    d.join(broadcast(stats), "lang")
      .withColumn("bucket",
        when(col("lp") > col("hi"), lit("head"))
          .when(col("lp") < col("lo"), lit("tail"))
          .otherwise(lit("middle")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("docs"),
        round(avg("lp"), 6).as("avg_lp"),
        round(min("lp"), 6).as("lo_lp"),
        round(max("lp"), 6).as("hi_lp"))
      .orderBy(col("lang").asc, col("bucket").asc)
  }

  /** Per-source perplexity gate (round-8 wave 13) — the CCNet/Gopher-style
    * "score every document under a small LM, flag the worst decile"
    * curation report, aggregated to the grain a mixture decision is made
    * at: per source, the doc count, cross-entropy distribution, and how
    * many docs land above the CORPUS p90 (the flag rate a fixed-budget
    * filter would cut). Stays in log space (cross-entropy = −doc_lp, the
    * per-bigram average the shared core already computes): exp() differs
    * in ulps across libms, so reporting perplexity itself would make the
    * oracle flaky while the monotone bijection makes it redundant.
    *
    * Rides the MEMOIZED bigram doc-lp frame (warm path: one file scan +
    * a doc_id key join); ce is rounded to 6dp BEFORE the threshold
    * selection so both engines pick and compare identical doubles.
    * percentile_disc is exact selection — at 100 TB the swap is
    * agg_approx_pctl's sketch for the threshold, identical tail. */
  def llmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val ce = bigramDocLp(spark, dir)
      .select(col("doc_id"), round(lit(0.0) - col("doc_lp"), 6).as("ce"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    ce.join(src, "doc_id").createOrReplaceTempView("graft_ce")
    spark.sql(
      """WITH thr AS (
        |  SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY ce) AS p90
        |  FROM graft_ce)
        |SELECT source, count(*) AS docs,
        |  round(avg(ce), 6) AS avg_ce,
        |  round(min(ce), 6) AS min_ce,
        |  round(max(ce), 6) AS max_ce,
        |  sum(CASE WHEN ce > thr.p90 THEN 1 ELSE 0 END) AS n_flagged
        |FROM graft_ce CROSS JOIN thr
        |GROUP BY source ORDER BY source ASC""".stripMargin)
  }

  /** Per-source bigram novelty (round-8 wave 14) — how much genuinely new
    * n-gram material each source contributes when docs arrive in doc_id
    * order: a (doc, distinct bigram) pair is NEW iff this doc_id is the
    * bigram's corpus-wide minimum. The curve this aggregates is the
    * dataset-ordering/diminishing-returns signal a curriculum or
    * crawl-scheduling decision reads. Plan: one explode → (doc, bigram)
    * distinct agg, a bigram-grain min agg, and an equi-join back on the
    * bigram — all partial-aggregated map-side; bigrams travel as
    * xxhash64 ids (the llm_bigram_lm move: 8-byte shuffles, collisions
    * at 2⁻⁶⁴ dwarfed by hardware error rates — the ORACLE uses the raw
    * strings, certifying the hash form's counts survive that). */
  def llmNovelty(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 2)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(transform(sequence(lit(1), size(toks) - 1),
          i => xxhash64(element_at(toks, i), element_at(toks, i + 1))))).as("b"))
    val first = bg.groupBy("b").agg(min("doc_id").as("fd"))
    bg.join(first, "b")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("docs"),
        count(lit(1)).as("n_bigrams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_new"),
        round(sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("new_rate"))
      .orderBy(col("source").asc)
  }

  /** Differentially-private release counts (round-8 wave 14) — per-source
    * doc counts with Laplace(1/ε) noise, ε = 1: the mechanism a corpus
    * card applies before publishing composition stats over sensitive
    * sources. Noise is DETERMINISTIC-SEEDED (the gauss()/weighted-sample
    * trick): u ∈ (0,1) from Knuth-hash modular arithmetic on the source's
    * numeric suffix — (k%p)·m stays inside int64 in both engines — then
    * the standard inverse-CDF Laplace transform, rounded to 6dp so the
    * ln() libm ulp gap can't flip a value. A production release keeps
    * only `released`; `n_true` ships here because the oracle certifying
    * noise+count arithmetic end-to-end IS the point of the fixture.
    * Purely map-side after a source-grain count at any scale. */
  def llmDpCounts(spark: SparkSession, dir: String): DataFrame = {
    val p = 1000003L
    // try_cast: the seed derives from the fixture's numeric source
    // suffix; a source name WITHOUT one must release NULL (no
    // deterministic seed) rather than ANSI-crash the whole job — DuckDB's
    // TRY_CAST mirrors it (round-13 mono-corpus sweep)
    val k = expr("try_cast(substring(source, 4) as bigint)")
    val u = ((k % p) * 2654435761L % p + 1).cast("double") / 1000004.0
    // Laplace(b=1/ε=1): x = −sgn(u−½)·ln(1−2·|u−½|)
    val noise = round(lit(-1.0) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6)
    Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_true"))
      .withColumn("noise", noise)
      .withColumn("released", round(col("n_true") + col("noise"), 6))
      .select("source", "n_true", "released")
      .orderBy(col("source").asc)
  }

  /** Fixed-size overlapping chunking (context windows of 64 tokens,
    * stride 48, overlap 16) — the RAG/pretraining doc-split step, distinct
    * from llm_pack (which concatenates docs INTO windows; this splits
    * docs ACROSS windows). The chunk rows are genuinely materialized
    * (explode + array slice — all map-side, no shuffle until the census),
    * and the census is checked against the closed form: chunk tokens sum
    * to ntok + 16·(k−1), so the oracle proves the materialized chunks
    * tile the document with exact overlap. Scales as a pure map
    * explosion: ~ntok/48 rows per doc, no skew key. */
  def llmDocSplit(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .withColumn("ntok", size(col("toks")))
      .withColumn("k", when(col("ntok") <= 64, lit(1))
        .otherwise(lit(1) + expr("(ntok - 17) div 48")))
      .withColumn("ci", explode(sequence(lit(0), col("k") - 1)))
      .withColumn("start", col("ci") * 48)
      .withColumn("chunk_toks", slice(col("toks"), col("start") + 1,
        least(lit(64), col("ntok") - col("start"))))
      .withColumn("chunk_tok", size(col("chunk_toks")))
    chunks
      .groupBy("lang")
      .agg(
        countDistinct("doc_id").as("docs"),
        count(lit(1)).as("chunks"),
        round(avg("chunk_tok"), 6).as("avg_chunk_tok"),
        max("k").cast("bigint").as("max_k"))
      .orderBy(col("lang").asc)
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    * key = ln(u)/w with u a deterministic per-doc uniform and w = n_chars
    * — the top-k by key IS a weighted sample, computed as a pure map
    * expression + TakeOrdered top-k (no shuffle beyond the k survivors;
    * the at-scale shape for "sample the mixture by token count" after
    * llm_mix_weights decides the weights). The uniform is a Knuth
    * multiplicative hash in plain int64 arithmetic so BOTH engines
    * compute bit-identical u (md5-hex ranks can't weight; engine RNGs
    * can't agree); ln()/division are the only libm calls and candidates
    * are ~1e-3 apart at the cutoff, 13 orders above any ulp divergence. */
  def llmWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    // Reduce BEFORE multiplying: (doc_id % p) * K stays ≤ ~2.7e15, inside
    // int64 on both engines for any doc_id, whereas doc_id * K wraps in
    // Spark and overflows (errors) in DuckDB once doc_id ≳ 3.47e9. By
    // modular arithmetic ((x % p) * K) % p == (x * K) % p, so every u
    // value — and the sample — is unchanged for in-range ids.
    val u = (((col("doc_id") % lit(1000003L)) * lit(2654435761L)) % lit(1000003L) + lit(1L))
      .cast("double") / lit(1000004.0)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      // + 0.0 normalizes IEEE negative zero: a key like -4e-7 rounds to
      // -0.0 in DuckDB but 0.0 in Spark, and the comparator distinguishes
      .withColumn("akey", round(log(u) / col("n_chars"), 6) + lit(0.0))
      .orderBy(col("akey").desc, col("doc_id").asc)
      .limit(32)
  }

  /** Token-distribution (Shannon) entropy per doc, aggregated per lang —
    * the information-density quality signal next to llm_repetition's
    * ratio family: low-entropy docs are boilerplate/spam, suspiciously
    * high entropy is encoding garbage. Same two-level hash-agg shape as
    * llm_repetition (explode → per-(doc,tok) counts → per-doc entropy →
    * per-lang stats): partial aggregation at every level, no windows.
    * ln() on count ratios is the only libm call; 6dp rounds absorb it. */
  def llmEntropy(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(toksRaw).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "lang")
      .agg((log(sum("c")) -
        sum(col("c") * log(col("c"))) / sum("c")).as("ent"))
    per.groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        round(avg("ent"), 6).as("avg_ent"),
        round(min("ent"), 6).as("min_ent"),
        round(max("ent"), 6).as("max_ent"))
      .orderBy(col("lang").asc)
  }

  /** Per-source document cap (round-7 addendum): keep at most 10 docs per
    * source, preferring longer documents (n_chars DESC, doc_id tiebreak) —
    * the RefinedWeb/Gopher-style per-domain cap that stops one crawl
    * domain from dominating the training mix. Reports kept/dropped/char
    * counts per source.
    *
    * Uses the native two-phase TopKPerKey operator (win_topk_native's
    * exec): per-partition k-heaps reduce each task's stream to ≤10 rows
    * per local source BEFORE the exchange, so the shuffle carries
    * O(tasks × sources × 10) rows — a giant source never concentrates its
    * row volume on one reducer the way the equivalent row_number window
    * would. The per-source totals are a separate partial-agg (one row per
    * source crosses the wire); both sides of the final join are
    * source-cardinality-sized. The heap key is xxhash64(source) (the
    * operator's raw slots are long/double/long); a 64-bit collision would
    * merge two sources' caps — ~2⁻⁶⁴ per pair, the same exposure every
    * hash-keyed agg in the engine accepts. */
  def llmSourceCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val kept = graft.plans.TopKPerKey.topK(
        docs.withColumn("src_h", xxhash64(col("source")))
          .withColumn("pri", col("n_chars").cast("double")),
        key = "src_h", ord = "pri", tie = "doc_id", k = 10)
      .groupBy("source")
      .agg(count(lit(1)).as("kept"), sum("n_chars").as("kept_chars"))
    val tot = docs.groupBy("source").agg(count(lit(1)).as("total"))
    // Null-safe join (ADVICE r7): the fixture has no NULL sources, but the
    // operator's semantics must not depend on that. A NULL source forms
    // one group end to end — xxhash64(NULL) is the seed constant, so the
    // heap caps all NULL-source docs as a single key exactly like the
    // oracle's PARTITION BY, groupBy already treats NULL as a group, and
    // <=> keeps that group through this join where Seq("source") dropped it.
    tot.join(kept, tot("source") <=> kept("source"))
      .select(tot("source"), col("total"), col("kept"),
        (col("total") - col("kept")).as("dropped"), col("kept_chars"))
      .orderBy(tot("source").asc)
  }

  /** T5-style span corruption (round-8 addendum) — the masked-input /
    * target-pair generator behind span-denoising pretraining: ~20% of
    * tokens are masked by a DETERMINISTIC predicate in plain int64
    * arithmetic ((doc_id·31 + pos·7) mod 10 < 2 — engine RNGs can't
    * agree, arithmetic can), consecutive masked positions collapse into
    * one span, the input keeps one `<extra_id_k>` sentinel per span and
    * the target lists each sentinel followed by the tokens it hides.
    *
    * Shape: the token explode is map-side off the scan (llm_tfidf's
    * class); span starts come from ONE lag window and span ids from a
    * running sum over the SAME (doc_id, pos) sort — one exchange serves
    * both, and the per-doc reassembly groupBy reuses that partitioning.
    * Pieces are rebuilt with the seq_pattern trick (collect struct(pos,
    * piece), array_sort, join — collect_list order is never trusted);
    * array_join and string_agg both drop NULL pieces, which is what
    * removes non-start masked tokens from the input text on each engine.
    * A doc with ZERO masked tokens has an EMPTY target: array_join over
    * all-NULL pieces yields '' while string_agg yields NULL, so the
    * oracle coalesces to '' — the engine's convention (round-13
    * mono-corpus sweep; the fixtures always mask ≥1 token per doc). */
  def llmSpanMask(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("pos").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      .withColumn("m", (col("doc_id") * 31 + col("pos") * 7) % 10 < 2)
    val spanned = toks
      .withColumn("strt", col("m") && !coalesce(lag(col("m"), 1).over(w), lit(false)))
      .withColumn("k", sum(when(col("strt"), 1L).otherwise(0L)).over(wRun))
    val sentinel = concat(lit("<extra_id_"), (col("k") - 1).cast("string"), lit(">"))
    val inPiece = when(!col("m"), col("tok")).when(col("strt"), sentinel)
    val tgtPiece = when(col("m"),
      when(col("strt"), concat(sentinel, lit(" "), col("tok"))).otherwise(col("tok")))
    def joined(piece: org.apache.spark.sql.Column) =
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), piece.as("p")))),
        x => x.getField("p")), " ")
    spanned
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("m").cast("long")).as("n_masked"),
        max("k").as("n_spans"),
        joined(inPiece).as("masked_text"),
        joined(tgtPiece).as("target_text"))
      .orderBy(col("doc_id").asc)
  }

  /** BPE merge-pair counting (round-8 addendum) — the inner statistic of
    * byte-pair-encoding tokenizer training: the frequency of every
    * adjacent symbol pair across the corpus, whose argmax is the next
    * merge rule. The operator computes the FIRST iteration's pair table
    * (symbols = characters) — exactly the step BPE/WordPiece trainers
    * loop — plus each pair's vocabulary support (distinct words
    * containing it).
    *
    * Scale shape is the classic BPE trick: pairs are counted on the
    * VOCABULARY, not the corpus. The only corpus-scale work is one
    * word-frequency hash aggregate (map-side partials compress each task
    * to its distinct words); the pair explosion, weighting
    * (sum over freq) and top-k all run on the distinct-word frame —
    * vocabulary-sized however many petabytes the text is. The top-20 is
    * TakeOrderedAndProject (per-partition heaps, no global sort), ties
    * broken by pair text so the cut is deterministic in both engines.
    * Words shorter than 2 symbols carry no pair and are filtered BEFORE
    * the vocab aggregate (cheaper and keeps sequence(1, len-1) well-
    * defined — Spark's sequence(1, 0) would count DOWN, not return
    * empty; §2.Z-class trap). */
  def llmBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    vocab
      .select(col("w"), col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("cnt"), countDistinct(col("w")).as("n_words"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  /** Per-source token-distribution divergence (round-8 addendum) — the
    * domain-drift statistic a mixture builder watches: KL(source ‖
    * corpus) over the corpus's top-k tokens, the cheap answer to "which
    * data source's unigram distribution has drifted furthest from the
    * blend it feeds". Restricting to the corpus top-50 support (count
    * desc, token asc — a deterministic cut) keeps the reference
    * distribution well-defined without smoothing: q(t) > 0 by
    * construction, and source terms with n_st = 0 contribute 0 (the
    * p·ln p convention at p→0).
    *
    * Scale shape: two token hash aggregates off one explode (map-side
    * partials bound both by vocab × sources, not corpus size); the top-50
    * is a TakeOrdered heap; the reference table rides back as a BROADCAST
    * join onto the per-source counts, and the final KL sum is one more
    * vocabulary-sized aggregate. Nothing here scales with document
    * count except the first explode+partial. ln sums round at 6dp —
    * ~100 double terms of O(1), far above accumulation-order ulps. */
  def llmSourceKl(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
      .orderBy(col("n_t").desc, col("tok").asc).limit(50)
    val bySrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("n_st"))
    val joined = bySrc.join(broadcast(corpus), "tok")
      .crossJoin(broadcast(corpus.agg(sum("n_t").as("n_corpus"))))
    joined
      .groupBy("source")
      .agg(sum("n_st").as("n_source"), count(lit(1)).as("tokens_used"),
        // Σ n_st·ln(n_st/n_t) and Σ n_st·ln(N/N_s) assembled after the
        // aggregate: KL = Σ p·ln(p/q) with p = n_st/N_s, q = n_t/N
        sum(col("n_st") * (log(col("n_st")) - log(col("n_t")))).as("s1"),
        first(col("n_corpus")).as("n_corpus"))
      .select(col("source"), col("n_source"), col("tokens_used"),
        round((col("s1") / col("n_source"))
          + (log(col("n_corpus")) - log(col("n_source"))), 6).as("kl"))
      .orderBy(col("source").asc)
  }

  /** Population-stability index per source (round-8 addendum) — the
    * drift metric monitoring teams run on every ingestion batch: how far
    * each source's document-LENGTH distribution sits from the corpus
    * blend, PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over fixed-width
    * 50-char n_chars bins (PSI ≳ 0.2 conventionally flags a shifted
    * source). Complements llm_source_kl, which compares TOKEN
    * distributions — between them the two standard drift axes (what the
    * documents say / how they're shaped).
    *
    * Determinism and scale live on the same choice: FIXED-width bins
    * (integer `floor` ids — exact on both engines, invariant under
    * partitioning) rather than sample quantiles (approximate, or a
    * global sort). The corpus collapses to (source × bin) counts in one
    * partial+final hash agg; the dense spine — every source crossed with
    * every OBSERVED corpus bin, so zero-count bins still contribute —
    * is a broadcast-built vocabulary-sized frame (20 × ~12 here; sources
    * × few-hundred bins at any scale). Laplace smoothing ((n+1)/(N+B))
    * keeps both shares strictly positive from pure integer arithmetic —
    * identical doubles on both engines; only ln's last ulp differs,
    * absorbed by 6dp rounding. */
  def llmSourcePsi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), floor(col("n_chars") / 50.0).cast("int").as("bin"))
    val srcTot = d.groupBy("source").agg(count(lit(1)).as("n_src"))
    val binTot = d.groupBy("bin").agg(count(lit(1)).as("n_bin"))
    val nBins = binTot.agg(count(lit(1)).as("b"),
      sum("n_bin").as("n_corpus"))
    val spine = srcTot.crossJoin(broadcast(binTot.select("bin")))
    val cnt = d.groupBy("source", "bin").agg(count(lit(1)).as("n"))
    spine
      .join(cnt, Seq("source", "bin"), "left")
      .join(broadcast(binTot), "bin")
      .crossJoin(broadcast(nBins))
      .select(col("source"), col("n_src"),
        ((coalesce(col("n"), lit(0L)) + lit(1.0)) / (col("n_src") + col("b"))).as("p"),
        ((col("n_bin") + lit(1.0)) / (col("n_corpus") + col("b"))).as("q"))
      .groupBy("source")
      .agg(max("n_src").as("n_docs"),
        (round(sum((col("p") - col("q")) * (log(col("p")) - log(col("q")))), 6) + 0.0).as("psi"))
      .orderBy(col("source").asc)
  }

  /** Dataset card (round-8 addendum) — the one-row corpus summary every
    * dataset release ships (HuggingFace dataset-card / Datasheets
    * headline numbers): document and token counts, vocabulary size,
    * source/language diversity, mean length, exact-duplicate rate, and
    * the dominant source with its share (the first number a mixture
    * auditor checks). A composition query: five independent 1-row
    * aggregates — each a single partial+final pass (the token census
    * and the vocabulary distinct are the two corpus-scale ones; at
    * 100 TB the vocab distinct swaps to the HLL sketch, same plan
    * tail) — assembled by broadcast scalar crosses; the top source is
    * a TakeOrdered(1) cut with the (cnt DESC, source ASC) tie-break. */
  def llmDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("text")).as("n_uniq"),
      round(avg("n_chars"), 2).as("mean_chars"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val vocab = d.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    val top = d.groupBy("source").agg(count(lit(1)).as("src_n"))
      .orderBy(col("src_n").desc, col("source").asc).limit(1)
      .select(col("source").as("top_source"), col("src_n"))
    base.crossJoin(broadcast(vocab)).crossJoin(broadcast(top))
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        col("n_sources"), col("n_langs"), col("mean_chars"),
        round(lit(1.0) - col("n_uniq").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("top_source"),
        round(col("src_n").cast("double") / col("n_docs"), 6).as("top_source_share"))
  }

  /** Source-concentration HHI (round-9) — the Herfindahl–Hirschman index
    * of the corpus mixture on both axes (docs and tokens), scaled to the
    * antitrust-familiar 0–10000 range, plus the top source's share: the
    * single-number diversity gate read before llm_mix_weights' full
    * table (HHI > 2500 = "concentrated" — one crawl dominates and the
    * mixture needs caps). One source-grain hash agg (the mix_weights
    * pass), then a 20-row summary with totals joined as a broadcast
    * scalar; shares square exact-integer ratios and the sum rounds at
    * 4dp (summation-order ulps absorbed). */
  def llmSourceHhi(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(toksRaw).cast("bigint").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
    val tot = per.agg(sum("docs").as("d"), sum("tokens").as("tk"))
    per.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_sources"),
        // x*x, never pow(x,2): Math.pow and a plain multiply can differ
        // in the last ulp, and the oracle squares by multiplication
        round(sum((col("docs").cast("double") / col("d"))
          * (col("docs").cast("double") / col("d"))) * 10000, 4).as("doc_hhi"),
        round(sum((col("tokens").cast("double") / col("tk"))
          * (col("tokens").cast("double") / col("tk"))) * 10000, 4).as("token_hhi"),
        round(max(col("docs")).cast("double") / max(col("d")), 6)
          .as("top_doc_share"),
        round(max(col("tokens")).cast("double") / max(col("tk")), 6)
          .as("top_token_share"))
  }

  /** Three-stage dedup funnel (round-9 wave 5) — the END-TO-END cascade a
    * corpus build actually runs, as one auditable census row: exact text
    * dedup (min-doc_id survivor per text) → winnowing-fingerprint dedup
    * among exact survivors (min-doc_id per fp) → blocked token-Jaccard
    * near-dup (≥ 0.8) among fingerprint survivors with the
    * llm_dedup_apply drop-the-b-side policy. Per stage: survivors and
    * removals, plus the total removal rate — the number a data lead
    * signs off on before training.
    *
    * Every expensive input is a MEMOIZED shared artifact: stage 2 reads
    * the winnowing-fingerprint frame, stage 3 FILTERS the memoized
    * near-dup pair stream to fingerprint-survivor endpoints (a pair
    * among survivors is a pair in the corpus, so the subset is exact —
    * no pair recomputation). Warm cost is therefore three file scans +
    * vocabulary-sized joins; the stage ordering itself is the 100 TB
    * story (each stage shrinks the set the next, more expensive stage
    * sees). Census scalars assemble by 1-row crosses (dataset_card
    * pattern, allowlisted).
    *
    * Negative result (round 10, measured): this query's 15 scheduled
    * jobs are the suite's worst COUNT but nearly free — they are AQE
    * query-stage jobs whose exchange REUSE dedups the shared s1/s2
    * lineage (1.2-1.4 s on both graded-profile hosts). Rewriting the
    * census as one tagged union agg inside an AQE-off materialize cut
    * the count to 3 but RECOMPUTED the survivor lineage once per
    * consumer (s2 four times) — 4.3 s contended, a 3× regression.
    * Reverted. The job-count lever prices scheduled ACTIONS (count
    * probes, cold broadcast builds, per-iteration writes), not AQE
    * stage jobs, whose marginal cost is reuse-discounted. */
  def llmDedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val s1 = docs.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
    val s2 = LlmOpsExtra.fpFrame(spark, dir).select("doc_id", "fp")
      .join(s1, "doc_id")
      .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
    val pairs = LlmOps.nearDupPairs(spark, dir)
    val dropped = pairs
      .join(s2.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
      .join(s2.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
      .select("b_id").distinct()
    val a = docs.agg(count(lit(1)).as("n_docs"))
    val b = s1.agg(count(lit(1)).as("after_exact"))
    val c = s2.agg(count(lit(1)).as("after_fp"))
    val d = s2.join(dropped, col("doc_id") === col("b_id"), "left_anti")
      .agg(count(lit(1)).as("after_near"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(c)).crossJoin(broadcast(d))
      .select(col("n_docs"), col("after_exact"), col("after_fp"), col("after_near"),
        (col("n_docs") - col("after_exact")).as("removed_exact"),
        (col("after_exact") - col("after_fp")).as("removed_fp"),
        (col("after_fp") - col("after_near")).as("removed_near"),
        round(lit(1.0) - col("after_near") / col("n_docs").cast("double"), 6)
          .as("removed_rate"))
  }

  /** Train/val/test split-leakage audit (round-9 wave 7) — the famous
    * eval-contamination bug as a first-class operator: docs split
    * 18/1/1 by deterministic id arithmetic (doc_id mod 20 → train /
    * val / test), then every near-duplicate pair (the memoized blocked-
    * Jaccard ≥ 0.8 stream) is classified by its endpoints' splits. A
    * cross-split pair means a test document has a near-copy in train —
    * the leak that inflates eval scores. Reports, per unordered split
    * class: pair count, distinct documents involved, and the cross
    * flag.
    *
    * The split assignment is PURE ARITHMETIC ON THE PAIR STREAM — no
    * join back to the corpus at all (the id encodes its own split), so
    * the whole audit is map-side work over the memoized pairs plus two
    * vocabulary-sized aggs. At 100 TB the pair stream is the LSH/IVF
    * candidate output and this query is unchanged — the audit cost is
    * the dedup cost, already paid. */
  def llmSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) =
      when(c % 20 === 19, "test").when(c % 20 === 18, "val").otherwise("train")
    val p = LlmOps.nearDupPairs(spark, dir)
      .select(col("a_id"), col("b_id"),
        least(splitOf(col("a_id")), splitOf(col("b_id"))).as("s1"),
        greatest(splitOf(col("a_id")), splitOf(col("b_id"))).as("s2"))
    val np = p.groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
    val nd = p.select(col("s1"), col("s2"),
        explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("s1", "s2").agg(countDistinct("id").as("n_docs"))
    np.join(nd, Seq("s1", "s2"))
      .withColumn("cross_split", (col("s1") =!= col("s2")).cast("int"))
      .orderBy(col("s1").asc, col("s2").asc)
  }

  /** Vocabulary-growth curve (round-9 wave 8) — Heaps'-law empirics:
    * docs partitioned into 10 ordered id-range batches; per batch, the
    * tokens seen for the FIRST time (new types), the cumulative
    * vocabulary, batch token volume, and cumulative tokens. The curve a
    * tokenizer-budget planner reads (vocab grows ~N^β, β<1 — a corpus
    * whose curve hasn't flattened needs a bigger vocab or more dedup,
    * and llm_novelty's per-doc marginal novelty is this curve's
    * derivative).
    *
    * First-seen batch per type is ONE (token → min batch) hash agg off
    * the explode — the corpus-scale pass; everything after runs on the
    * 10-row batch frame (running sums over a literal-bounded frame).
    * The batch spine joins batch token volumes + first-seen counts by
    * batch id. The 1-row max-id scalar rides in as a broadcast cross
    * (allowlisted idiom).
    *
    * Exactness: batch = least(9, id·10 div (max+1)) is pure int64
    * arithmetic; every output is an exact integer count. */
  def llmVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tot = d.agg((max("doc_id") + 1).as("n"))
    val base = d.crossJoin(broadcast(tot))
      .select(least(lit(9), expr("(doc_id * 10) div n")).cast("int").as("batch"),
        explode(split(col("text"), " ")).as("tok"))
    val vol = base.groupBy("batch").agg(count(lit(1)).as("batch_tokens"))
    val fresh = base.groupBy("tok").agg(min("batch").as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("batch").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vol.join(fresh, Seq("batch"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(w))
      .withColumn("cum_tokens", sum("batch_tokens").over(w))
      .select("batch", "new_types", "cum_types", "batch_tokens", "cum_tokens")
      .orderBy(col("batch").asc)
  }

  /** Temperature-scaled mixture sampling weights (round-9 wave 15) —
    * the mT5/XLM-R multilingual recipe: sampling probability q_i ∝
    * p_i^α with α = 0.7, where p_i is the source's raw token share.
    * Flattening the mixture (α < 1) up-samples small sources so they
    * aren't drowned by the dominant crawl — the boost column (q/p)
    * makes the effect auditable: boost > 1 for the tail, < 1 for the
    * head. llm_mix_weights reports the RAW shares; this is the
    * schedule the training loader actually draws from.
    *
    * Determinism: p^α is spelled exp(α·ln p) IDENTICALLY in both
    * engines (two libm calls on identical exact-int-ratio doubles);
    * the normalizer sums 20 source-grain terms (6dp round absorbs
    * order ulps — source_kl precedent); shares and boosts divide the
    * rounded statistics.
    *
    * Scale: one corpus hash agg to the source-grain frame; the
    * normalizer and every ratio run on ~20 rows via window sums. */
  def llmMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("ntok").as("tokens"))
    val wAll = Window.partitionBy()
    per
      .withColumn("total", sum("tokens").over(wAll))
      .withColumn("p", col("tokens") / col("total").cast("double"))
      .withColumn("w", exp(lit(0.7) * log(col("p"))))
      .withColumn("z", sum("w").over(wAll))
      .select(col("source"), col("docs"), col("tokens"),
        round(col("p"), 6).as("p_raw"),
        round(col("w") / col("z"), 6).as("q_sampled"),
        round((col("w") / col("z")) / col("p"), 6).as("boost"))
      .orderBy(col("source").asc)
  }

  /** N-gram LM pruning census (round-9 wave 15) — the KenLM/SRILM
    * count-threshold table: for cutoffs 1/2/4/8, how many bigram TYPES
    * survive c ≥ t and what share of the corpus bigram MASS they
    * retain. The size-vs-coverage trade a production LM prunes by
    * (types collapse fast, mass barely moves — the whole point of
    * count pruning), and the pruning decision llm_bigram_lm's
    * add-one-smoothed scorer would consume.
    *
    * Purely exact integer arithmetic end to end: counts, survivors,
    * and retained mass are int64 sums; the one display ratio divides
    * exact ints. The threshold spine explodes map-side against the
    * vocabulary²-bounded bigram frame.
    *
    * Scale: one corpus explode → (w1, w2) hash agg with partials (the
    * only corpus-scale pass); the spine × census runs on the
    * vocab²-sized frame. */
  def llmNgramPrune(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val bi = Tables.documents(spark, dir)
      .select(expr("posexplode(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)))")
        .as(Seq("i", "w1")), toks.as("toks"))
      .select(col("w1"), expr("toks[i + 1]").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy()
    bi.withColumn("tot_types", count(lit(1)).over(wAll))
      .withColumn("tot_mass", sum("c").over(wAll))
      .select(col("c"), col("tot_types"), col("tot_mass"),
        explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("threshold"))
      .groupBy("threshold")
      .agg(max("tot_types").as("total_types"),
        max("tot_mass").as("total_mass"),
        sum(when(col("c") >= col("threshold"), 1L).otherwise(0L)).as("kept_types"),
        sum(when(col("c") >= col("threshold"), col("c")).otherwise(0L)).as("kept_mass"))
      .select(col("threshold"), col("total_types"), col("kept_types"),
        col("total_mass"), col("kept_mass"),
        round(col("kept_mass") / col("total_mass").cast("double"), 6).as("mass_retained"))
      .orderBy(col("threshold").asc)
  }

  /** Dedup method-agreement census — winnowing-
    * fingerprint pairs vs exact blocked-Jaccard pairs as a confusion
    * census with precision/recall of the cheap method against the
    * expensive truth: the evaluation a pipeline owner runs before
    * trusting fingerprint-only dedup at a scale where exact Jaccard is
    * unaffordable (llm_dedup_funnel CHAINS the two stages; this
    * operator MEASURES how much the fast stage agrees with the exact
    * one). Fingerprint-only pairs are boilerplate-share false
    * positives; Jaccard-only pairs are reshuffled near-dups the single
    * min-shingle can't see — both counts are actionable.
    *
    * Both inputs are MEMOIZED artifacts (the fingerprint frame, the
    * ≥0.8 pair stream) — the audit costs two file scans, a pair-keyed
    * full-outer join, and ONE census aggregate. All counts exact
    * int64; ratios divide them once. */
  def llmDedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val fp = LlmOpsExtra.fpFrame(spark, dir).select("doc_id", "fp")
    val fpPairs = BlockedPairs.selfPairs(fp, Seq("fp"), "doc_id")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        lit(1L).as("in_fp"))
    val jacPairs = LlmOps.nearDupPairs(spark, dir)
      .select(col("a_id"), col("b_id"), lit(1L).as("in_jac"))
    // outer coalesce: with ZERO candidate pairs on both sides the join is
    // empty and bare sums return NULL — the census counts must read 0
    // like the oracle's counts; precision/recall over an empty census are
    // undefined → nullif matches the oracle's /0 NULL
    fpPairs.join(jacPairs, Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("in_fp"), lit(0L))), lit(0L)).as("fp_pairs"),
        coalesce(sum(coalesce(col("in_jac"), lit(0L))), lit(0L)).as("jac_pairs"),
        coalesce(sum(when(col("in_fp") === 1 && col("in_jac") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("n_both"))
      .select(col("fp_pairs"), col("jac_pairs"), col("n_both"),
        (col("fp_pairs") - col("n_both")).as("fp_only"),
        (col("jac_pairs") - col("n_both")).as("jac_only"),
        round(col("n_both") / nullif(col("fp_pairs").cast("double"), lit(0.0)), 6).as("precision"),
        round(col("n_both") / nullif(col("jac_pairs").cast("double"), lit(0.0)), 6).as("recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_agreement"   -> (llmDedupAgreement _),
    "llm_ngram_prune"       -> (llmNgramPrune _),
    "llm_mix_temperature"   -> (llmMixTemperature _),
    "llm_vocab_growth"      -> (llmVocabGrowth _),
    "llm_split_leakage"     -> (llmSplitLeakage _),
    "llm_dedup_funnel"      -> (llmDedupFunnel _),
    "llm_source_hhi"        -> (llmSourceHhi _),
    "llm_dataset_card"      -> (llmDatasetCard _),
    "llm_source_psi"        -> (llmSourcePsi _),
    "llm_bpe_pairs"         -> (llmBpePairs _),
    "llm_source_kl"         -> (llmSourceKl _),
    "llm_span_mask"         -> (llmSpanMask _),
    "llm_source_cap"        -> (llmSourceCap _),
    "llm_entropy"           -> (llmEntropy _),
    "llm_weighted_sample"   -> (llmWeightedSample _),
    "llm_doc_split"         -> (llmDocSplit _),
    "llm_bigram_lm"         -> (llmBigramLm _),
    "llm_quality_buckets"   -> (llmQualityBuckets _),
    "llm_perplexity"        -> (llmPerplexity _),
    "llm_novelty"           -> (llmNovelty _),
    "llm_dp_counts"         -> (llmDpCounts _),
    "llm_pack"              -> (llmPack _),
    "llm_dedup_apply"       -> (llmDedupApply _),
    "llm_stratified_sample" -> (llmStratifiedSample _),
    "llm_mix_weights"       -> (llmMixWeights _),
    "llm_repetition"        -> (llmRepetition _),
    "llm_contamination"     -> (llmContamination _),
    "llm_heuristic_filter"  -> (llmHeuristicFilter _),
    "llm_pipeline_e2e"      -> (llmPipelineE2e _))

  val oracleSql: Map[String, String] = Map(
    "llm_dedup_agreement" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |      i -> md5(array_to_string(
        |        list_slice(string_split(text, ' '), i, i + 7), ' ')))) AS fp
        |  FROM documents),
        |fpp AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id),
        |d AS (
        |  SELECT doc_id, lang, n_chars // 100 AS band,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |jac AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8),
        |c AS (SELECT
        |  (SELECT count(*) FROM fpp) AS fp_pairs,
        |  (SELECT count(*) FROM jac) AS jac_pairs,
        |  (SELECT count(*) FROM (SELECT * FROM fpp INTERSECT SELECT * FROM jac))
        |    AS n_both)
        |SELECT fp_pairs, jac_pairs, n_both,
        |  fp_pairs - n_both AS fp_only,
        |  jac_pairs - n_both AS jac_only,
        |  round(n_both / CAST(fp_pairs AS DOUBLE), 6) AS precision,
        |  round(n_both / CAST(jac_pairs AS DOUBLE), 6) AS recall
        |FROM c""".stripMargin,
    "llm_ngram_prune" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
        |  FROM t),
        |c AS (SELECT p.w1, p.w2, count(*) AS c FROM bi GROUP BY p.w1, p.w2),
        |e AS (
        |  SELECT c, count(*) OVER () AS tot_types,
        |    CAST(sum(c) OVER () AS BIGINT) AS tot_mass
        |  FROM c),
        |s AS (
        |  SELECT e.*, CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS threshold FROM e)
        |SELECT threshold,
        |  max(tot_types) AS total_types,
        |  count(*) FILTER (WHERE c >= threshold) AS kept_types,
        |  max(tot_mass) AS total_mass,
        |  CAST(coalesce(sum(c) FILTER (WHERE c >= threshold), 0) AS BIGINT) AS kept_mass,
        |  round(CAST(coalesce(sum(c) FILTER (WHERE c >= threshold), 0) AS BIGINT)
        |    / CAST(max(tot_mass) AS DOUBLE), 6) AS mass_retained
        |FROM s GROUP BY threshold ORDER BY threshold ASC""".stripMargin,
    "llm_mix_temperature" ->
      """WITH per AS (
        |  SELECT source, count(*) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |e AS (
        |  SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS total FROM per),
        |f AS (
        |  SELECT source, docs, tokens,
        |    tokens / CAST(total AS DOUBLE) AS p,
        |    exp(0.7 * ln(tokens / CAST(total AS DOUBLE))) AS w
        |  FROM e),
        |g AS (SELECT *, sum(w) OVER () AS z FROM f)
        |SELECT source, docs, tokens,
        |  round(p, 6) AS p_raw,
        |  round(w / z, 6) AS q_sampled,
        |  round((w / z) / p, 6) AS boost
        |FROM g ORDER BY source ASC""".stripMargin,
    "llm_vocab_growth" ->
      """WITH tot AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |base AS (
        |  SELECT CAST(least(9, (doc_id * 10) // n) AS INT) AS batch,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents CROSS JOIN tot),
        |vol AS (SELECT batch, count(*) AS batch_tokens FROM base GROUP BY batch),
        |fresh AS (
        |  SELECT batch, count(*) AS new_types
        |  FROM (SELECT tok, min(batch) AS batch FROM base GROUP BY tok)
        |  GROUP BY batch)
        |SELECT batch, coalesce(new_types, 0) AS new_types,
        |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY batch ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types,
        |  batch_tokens,
        |  CAST(sum(batch_tokens) OVER (ORDER BY batch ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |FROM vol LEFT JOIN fresh USING (batch)
        |ORDER BY batch ASC""".stripMargin,
    "llm_split_leakage" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars // 100 AS band,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM d a JOIN d b
        |    ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8),
        |cls AS (
        |  SELECT a_id, b_id,
        |    least(CASE WHEN a_id % 20 = 19 THEN 'test'
        |               WHEN a_id % 20 = 18 THEN 'val' ELSE 'train' END,
        |          CASE WHEN b_id % 20 = 19 THEN 'test'
        |               WHEN b_id % 20 = 18 THEN 'val' ELSE 'train' END) AS s1,
        |    greatest(CASE WHEN a_id % 20 = 19 THEN 'test'
        |                  WHEN a_id % 20 = 18 THEN 'val' ELSE 'train' END,
        |             CASE WHEN b_id % 20 = 19 THEN 'test'
        |                  WHEN b_id % 20 = 18 THEN 'val' ELSE 'train' END) AS s2
        |  FROM pairs),
        |np AS (SELECT s1, s2, count(*) AS n_pairs FROM cls GROUP BY s1, s2),
        |nd AS (
        |  SELECT s1, s2, count(DISTINCT id) AS n_docs
        |  FROM (SELECT s1, s2, unnest([a_id, b_id]) AS id FROM cls)
        |  GROUP BY s1, s2)
        |SELECT np.s1, np.s2, n_pairs, n_docs,
        |  CAST(np.s1 <> np.s2 AS INT) AS cross_split
        |FROM np JOIN nd ON np.s1 = nd.s1 AND np.s2 = nd.s2
        |ORDER BY np.s1 ASC, np.s2 ASC""".stripMargin,
    "llm_dedup_funnel" ->
      """WITH s1 AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |f AS (
        |  SELECT d.doc_id,
        |    list_min(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
        |      i -> md5(array_to_string(
        |        list_slice(string_split(text, ' '), i, i + 7), ' ')))) AS fp
        |  FROM documents d JOIN s1 ON d.doc_id = s1.doc_id),
        |s2 AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY fp),
        |d2 AS (
        |  SELECT d.doc_id, lang, n_chars // 100 AS band,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents d JOIN s2 ON d.doc_id = s2.doc_id),
        |dropped AS (
        |  SELECT DISTINCT b.doc_id AS b_id
        |  FROM d2 a JOIN d2 b
        |    ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8),
        |c AS (SELECT
        |  (SELECT count(*) FROM documents) AS n_docs,
        |  (SELECT count(*) FROM s1) AS after_exact,
        |  (SELECT count(*) FROM s2) AS after_fp,
        |  (SELECT count(*) FROM s2) - (SELECT count(*) FROM dropped)
        |    AS after_near)
        |SELECT n_docs, after_exact, after_fp, after_near,
        |  n_docs - after_exact AS removed_exact,
        |  after_exact - after_fp AS removed_fp,
        |  after_fp - after_near AS removed_near,
        |  round(1.0 - after_near / CAST(n_docs AS DOUBLE), 6) AS removed_rate
        |FROM c""".stripMargin,
    "llm_source_hhi" ->
      """WITH s AS (
        |  SELECT source, count(*) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(docs) AS BIGINT) AS d,
        |             CAST(sum(toks) AS BIGINT) AS tk FROM s)
        |SELECT count(*) AS n_sources,
        |  round(sum((docs / CAST(d AS DOUBLE)) * (docs / CAST(d AS DOUBLE)))
        |    * 10000, 4) AS doc_hhi,
        |  round(sum((toks / CAST(tk AS DOUBLE)) * (toks / CAST(tk AS DOUBLE)))
        |    * 10000, 4) AS token_hhi,
        |  round(max(docs) / CAST(max(d) AS DOUBLE), 6) AS top_doc_share,
        |  round(max(toks) / CAST(max(tk) AS DOUBLE), 6) AS top_token_share
        |FROM s CROSS JOIN t""".stripMargin,
    "llm_dataset_card" ->
      """WITH base AS (
        |  SELECT count(*) AS n_docs,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT text) AS n_uniq,
        |    round(avg(n_chars), 2) AS mean_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents),
        |vocab AS (
        |  SELECT count(DISTINCT tok) AS vocab_size FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
        |top AS (
        |  SELECT source AS top_source, count(*) AS src_n
        |  FROM documents GROUP BY source
        |  ORDER BY src_n DESC, source ASC LIMIT 1)
        |SELECT n_docs, n_tokens, vocab_size, n_sources, n_langs, mean_chars,
        |  round(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 6) AS dup_rate,
        |  top_source,
        |  round(CAST(src_n AS DOUBLE) / n_docs, 6) AS top_source_share
        |FROM base CROSS JOIN vocab CROSS JOIN top""".stripMargin,
    "llm_source_psi" ->
      """WITH d AS (
        |  SELECT source, CAST(floor(n_chars / 50.0) AS INT) AS bin FROM documents),
        |st AS (SELECT source, count(*) AS n_src FROM d GROUP BY source),
        |bt AS (SELECT bin, count(*) AS n_bin FROM d GROUP BY bin),
        |nb AS (SELECT count(*) AS b, CAST(sum(n_bin) AS BIGINT) AS n_corpus FROM bt),
        |c AS (SELECT source, bin, count(*) AS n FROM d GROUP BY source, bin),
        |terms AS (
        |  SELECT st.source, st.n_src,
        |    (COALESCE(c.n, 0) + 1.0) / (st.n_src + nb.b) AS p,
        |    (bt.n_bin + 1.0) / (nb.n_corpus + nb.b) AS q
        |  FROM st CROSS JOIN bt
        |  LEFT JOIN c ON c.source = st.source AND c.bin = bt.bin
        |  CROSS JOIN nb)
        |SELECT source, max(n_src) AS n_docs,
        |  round(sum((p - q) * (ln(p) - ln(q))), 6) + 0.0 AS psi
        |FROM terms GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_bpe_pairs" ->
      """WITH v AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT w, freq,
        |    unnest(list_transform(generate_series(1, length(w) - 1),
        |      i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM v)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt,
        |  count(DISTINCT w) AS n_words
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "llm_source_kl" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |corpus AS (
        |  SELECT tok, count(*) AS n_t FROM toks GROUP BY tok
        |  ORDER BY n_t DESC, tok ASC LIMIT 50),
        |n AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_corpus FROM corpus),
        |bysrc AS (
        |  SELECT source, t.tok, count(*) AS n_st
        |  FROM toks t JOIN corpus c ON t.tok = c.tok
        |  GROUP BY source, t.tok),
        |j AS (SELECT b.source, b.n_st, c.n_t FROM bysrc b JOIN corpus c ON b.tok = c.tok)
        |SELECT source, CAST(sum(n_st) AS BIGINT) AS n_source,
        |  count(*) AS tokens_used,
        |  round(sum(n_st * (ln(n_st) - ln(n_t))) / sum(n_st)
        |    + ln(n.n_corpus) - ln(sum(n_st)), 6) AS kl
        |FROM j, n GROUP BY source, n.n_corpus ORDER BY source ASC""".stripMargin,
    "llm_span_mask" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks))) AS pos
        |  FROM s),
        |p AS (
        |  SELECT doc_id, pos, toks[pos] AS tok,
        |    ((doc_id * 31 + pos * 7) % 10) < 2 AS m
        |  FROM t),
        |w AS (
        |  SELECT doc_id, pos, tok, m,
        |    m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos ASC), false) AS strt
        |  FROM p),
        |k AS (
        |  SELECT doc_id, pos, tok, m, strt,
        |    CAST(sum(CASE WHEN strt THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k
        |  FROM w)
        |SELECT doc_id,
        |  count(*) AS n_toks,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  CAST(max(k) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(CASE WHEN NOT m THEN tok
        |    WHEN strt THEN '<extra_id_' || (k - 1) || '>' END,
        |    ' ' ORDER BY pos ASC), '') AS masked_text,
        |  coalesce(string_agg(CASE WHEN m THEN
        |      CASE WHEN strt THEN '<extra_id_' || (k - 1) || '> ' || tok ELSE tok END
        |    END, ' ' ORDER BY pos ASC), '') AS target_text
        |FROM k GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin,
    "llm_source_cap" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS total,
        |  CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(sum(CASE WHEN rn > 10 THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
        |  CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM r GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, lang, tok, count(*) AS c
        |      FROM t GROUP BY doc_id, lang, tok),
        |d AS (SELECT doc_id, lang,
        |        ln(sum(c)) - sum(c * ln(c)) / sum(c) AS ent
        |      FROM c GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS docs,
        |  round(avg(ent), 6) AS avg_ent,
        |  round(min(ent), 6) AS min_ent,
        |  round(max(ent), 6) AS max_ent
        |FROM d GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  round(ln(CAST(((doc_id % 1000003) * 2654435761) % 1000003 + 1 AS DOUBLE)
        |        / 1000004e0) / n_chars, 6) + 0e0 AS akey
        |FROM documents
        |ORDER BY akey DESC, doc_id ASC LIMIT 32""".stripMargin,
    "llm_doc_split" ->
      """WITH d AS (
        |  SELECT lang, len(string_split(text, ' ')) AS ntok,
        |    CASE WHEN len(string_split(text, ' ')) <= 64 THEN 1
        |         ELSE 1 + (len(string_split(text, ' ')) - 17) // 48 END AS k
        |  FROM documents)
        |SELECT lang, count(*) AS docs, CAST(sum(k) AS BIGINT) AS chunks,
        |  round(sum(ntok + 16 * (k - 1)) * 1.0 / sum(k), 6) AS avg_chunk_tok,
        |  CAST(max(k) AS BIGINT) AS max_k
        |FROM d GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_bigram_lm" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bi0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
        |  FROM t),
        |dc AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM bi0 GROUP BY doc_id, lang, w1, w2),
        |c12 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
        |        FROM dc GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM c1),
        |scored AS (
        |  SELECT dc.doc_id, dc.lang,
        |    sum(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)) * dc.cnt)
        |      / sum(dc.cnt) AS doc_lp
        |  FROM dc JOIN c12 ON dc.w1 = c12.w1 AND dc.w2 = c12.w2
        |          JOIN c1 ON dc.w1 = c1.w1 CROSS JOIN v
        |  GROUP BY dc.doc_id, dc.lang)
        |SELECT lang, count(*) AS docs, round(avg(doc_lp), 6) AS avg_lp,
        |  round(min(doc_lp), 6) AS min_lp, round(max(doc_lp), 6) AS max_lp
        |FROM scored GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT DISTINCT doc_id, source, b FROM (
        |    SELECT doc_id, source, unnest(list_transform(
        |      generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS b
        |    FROM t)),
        |fo AS (SELECT b, min(doc_id) AS fd FROM bg GROUP BY b)
        |SELECT source, count(DISTINCT bg.doc_id) AS docs, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN fo.fd = bg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  round(CAST(sum(CASE WHEN fo.fd = bg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS new_rate
        |FROM bg JOIN fo ON bg.b = fo.b
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_dp_counts" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_true,
        |    TRY_CAST(substring(source, 4) AS BIGINT) AS k
        |  FROM documents GROUP BY source),
        |uu AS (
        |  SELECT source, n_true,
        |    CAST((k % 1000003) * 2654435761 % 1000003 + 1 AS DOUBLE) / 1000004e0 AS u
        |  FROM c)
        |SELECT source, n_true,
        |  round(n_true + round(-1e0 * sign(u - 0.5e0)
        |    * ln(1e0 - 2e0 * abs(u - 0.5e0)), 6), 6) AS released
        |FROM uu ORDER BY source ASC""".stripMargin,
    "llm_perplexity" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bi0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
        |  FROM t),
        |dc AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM bi0 GROUP BY doc_id, lang, w1, w2),
        |c12 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
        |        FROM dc GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM c1),
        |scored AS (
        |  SELECT dc.doc_id,
        |    sum(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)) * dc.cnt)
        |      / sum(dc.cnt) AS doc_lp
        |  FROM dc JOIN c12 ON dc.w1 = c12.w1 AND dc.w2 = c12.w2
        |          JOIN c1 ON dc.w1 = c1.w1 CROSS JOIN v
        |  GROUP BY dc.doc_id),
        |g AS (
        |  SELECT s.doc_id, round(0.0 - s.doc_lp, 6) AS ce, d.source
        |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
        |thr AS (
        |  SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY ce) AS p90 FROM g)
        |SELECT source, count(*) AS docs,
        |  round(avg(ce), 6) AS avg_ce,
        |  round(min(ce), 6) AS min_ce,
        |  round(max(ce), 6) AS max_ce,
        |  CAST(sum(CASE WHEN ce > thr.p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM g CROSS JOIN thr
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_quality_buckets" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |bi0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    generate_series(1, greatest(len(toks) - 1, 0)),
        |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
        |  FROM t),
        |dc AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM bi0 GROUP BY doc_id, lang, w1, w2),
        |c12 AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
        |        FROM dc GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM c1),
        |scored AS (
        |  SELECT dc.doc_id, dc.lang,
        |    sum(ln(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v)) * dc.cnt)
        |      / sum(dc.cnt) AS doc_lp
        |  FROM dc JOIN c12 ON dc.w1 = c12.w1 AND dc.w2 = c12.w2
        |          JOIN c1 ON dc.w1 = c1.w1 CROSS JOIN v
        |  GROUP BY dc.doc_id, dc.lang),
        |d AS (SELECT doc_id, lang, round(doc_lp, 6) AS lp FROM scored),
        |stats AS (
        |  SELECT lang,
        |    round(avg(lp) + stddev_samp(lp) / 2, 6) AS hi,
        |    round(avg(lp) - stddev_samp(lp) / 2, 6) AS lo
        |  FROM d GROUP BY lang),
        |b AS (
        |  SELECT d.lang,
        |    CASE WHEN lp > hi THEN 'head'
        |         WHEN lp < lo THEN 'tail'
        |         ELSE 'middle' END AS bucket, lp
        |  FROM d JOIN stats ON d.lang = stats.lang)
        |SELECT lang, bucket, count(*) AS docs,
        |  round(avg(lp), 6) AS avg_lp,
        |  round(min(lp), 6) AS lo_lp,
        |  round(max(lp), 6) AS hi_lp
        |FROM b GROUP BY lang, bucket ORDER BY lang ASC, bucket ASC""".stripMargin,
    "llm_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT lang, ntok,
        |    CAST(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t),
        |p AS (
        |  SELECT lang, (cum - ntok) // 2048 AS ctx,
        |    count(*) AS docs, CAST(sum(ntok) AS BIGINT) AS toks
        |  FROM c GROUP BY lang, ctx)
        |SELECT lang, count(*) AS n_contexts,
        |  round(avg(CAST(toks AS DOUBLE) / 2048.0), 6) AS avg_fill,
        |  round(avg(docs), 6) AS avg_docs_per_ctx,
        |  CAST(sum(toks) AS BIGINT) AS total_toks
        |FROM p GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_dedup_apply" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars // 100 AS band,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8),
        |dr AS (SELECT DISTINCT b_id FROM p)
        |SELECT source, count(*) FILTER (WHERE dr.b_id IS NULL) AS kept,
        |       count(*) FILTER (WHERE dr.b_id IS NOT NULL) AS dropped
        |FROM documents LEFT JOIN dr ON doc_id = dr.b_id
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    "llm_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 20
        |ORDER BY lang ASC, rn ASC""".stripMargin,
    "llm_mix_weights" ->
      """WITH p AS (
        |  SELECT source, count(*) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source)
        |SELECT source, docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / (SELECT sum(tokens) FROM p), 6) AS share
        |FROM p ORDER BY source ASC""".stripMargin,
    "llm_repetition" ->
      """WITH tc AS (
        |  SELECT doc_id, lang, tok, count(*) AS c
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY doc_id, lang, tok),
        |per AS (
        |  SELECT doc_id, lang,
        |    1.0 - CAST(count(*) AS DOUBLE) / sum(c) AS rep,
        |    CAST(max(c) AS DOUBLE) / sum(c) AS dom
        |  FROM tc GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS docs, round(avg(rep), 6) AS avg_rep,
        |  round(avg(dom), 6) AS avg_dom,
        |  count(*) FILTER (WHERE rep > 0.5) AS n_repetitive
        |FROM per GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "llm_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(toks) - 7, 1)),
        |    i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS s
        |  FROM t),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM sh
        |  WHERE doc_id % 100 <> 0 AND s IN (SELECT s FROM bench))
        |SELECT source, count(*) AS docs, count(cont.doc_id) AS contaminated,
        |  round(CAST(count(cont.doc_id) AS DOUBLE) / count(*), 6) AS ratio
        |FROM documents LEFT JOIN cont ON documents.doc_id = cont.doc_id
        |WHERE documents.doc_id % 100 <> 0
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    // the composed corpus-build contract: the per-lang dataset card over
    // the landed sink equals the same card computed directly over the
    // filtered source — the JSONL round-trip lost nothing, the dedup
    // removed exactly the injected re-deliveries, the re-loaded lang
    // didn't double, and the pack saw the same doc_id order
    "llm_pipeline_e2e" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents
        |  WHERE NOT (len(string_split(text, ' ')) < 30)
        |    AND NOT ((CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |        / len(string_split(text, ' ')) < 3.0
        |      OR (CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |        / len(string_split(text, ' ')) > 8.0)
        |    AND NOT (len(list_filter(string_split(text, ' '),
        |        t -> t = 'the' OR t = 'a')) = 0)),
        |c AS (
        |  SELECT lang, ntok,
        |    CAST(sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM f),
        |p AS (
        |  SELECT lang, (cum - ntok) // 2048 AS ctx,
        |    CAST(sum(ntok) AS BIGINT) AS toks
        |  FROM c GROUP BY lang, ctx),
        |l AS (
        |  SELECT lang, count(*) AS docs, count(DISTINCT source) AS n_sources,
        |    CAST(sum(ntok) AS BIGINT) AS total_toks
        |  FROM f GROUP BY lang),
        |x AS (
        |  SELECT lang, count(*) AS n_contexts,
        |    round(avg(CAST(toks AS DOUBLE) / 2048.0), 6) AS avg_fill
        |  FROM p GROUP BY lang)
        |SELECT l.lang, l.docs, l.n_sources, x.n_contexts, l.total_toks,
        |  x.avg_fill
        |FROM l JOIN x ON l.lang = x.lang ORDER BY l.lang ASC""".stripMargin,
    "llm_heuristic_filter" ->
      """WITH f AS (
        |  SELECT lang,
        |    len(string_split(text, ' ')) < 30 AS ts,
        |    ((CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) < 3.0
        |     OR (CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) > 8.0) AS bl,
        |    len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) = 0 AS ns
        |  FROM documents)
        |SELECT lang, count(*) AS docs,
        |  count(*) FILTER (WHERE ts) AS n_too_short,
        |  count(*) FILTER (WHERE bl) AS n_bad_len,
        |  count(*) FILTER (WHERE ns) AS n_no_stop,
        |  count(*) FILTER (WHERE NOT ts AND NOT bl AND NOT ns) AS n_pass
        |FROM f GROUP BY lang ORDER BY lang ASC""".stripMargin)
}
