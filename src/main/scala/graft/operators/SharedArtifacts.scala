package graft.operators

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-shared memoized artifacts Bench builds in its untimed
  * warm-up. Each is a declared pipeline artifact (production materializes
  * it between stages, like the parquet fixtures), and a cold one would put
  * its whole build on whichever consumer runs first in the timed suite.
  *
  * Each touch is `limit(1).count()` on the memoized frame: the first call
  * runs the build, the count is one cheap job on its result. Producers come
  * before their consumers (ccLabels reads nearDupPairs, rougeFrame reads
  * fpFrame, graphEdges reads graphPairs), so each timing is its own build's. */
object SharedArtifacts {

  /** (artifact name, memoized frame accessor) — every MemoFrames.frame
    * key with more than one consumer (or more than one consumer CALL:
    * superstep lineage re-reads count too). */
  private[graft] def artifacts(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = Seq(
    "winnow_fp"     -> (() => LlmOpsExtra.fpFrame(spark, dir)),
    "neardup_pairs" -> (() => LlmOps.nearDupPairs(spark, dir)),
    "cc_labels"     -> (() => Clustering.ccLabels(spark, dir)),
    "graph_pairs"   -> (() => Clustering.graphPairs(spark, dir)),
    "graph_edges"   -> (() => Clustering.graphEdges(spark, dir)),
    "ngram3_sh"     -> (() => LlmOpsExtra.ngramShFrame(spark, dir)),
    "rouge_f1"      -> (() => LlmOpsExtra.rougeFrame(spark, dir)),
    "bm25_post"     -> (() => LlmOpsExtra.bm25Post(spark, dir)),
    "bigram_doclp"  -> (() => LlmOpsPipeline.bigramDocLp(spark, dir)),
    // staged streaming input drops (MemoFrames.stagedPath): the builder is
    // the write; the returned scan's limit(1) touch is one cheap job
    "stream_incr"   -> (() => { val (p, s) = Streaming.incrStage(spark, dir)
                                spark.read.schema(s).parquet(p) }),
    "stream_ddw"    -> (() => { val (p, s) = Streaming.ddwStage(spark, dir)
                                spark.read.schema(s).parquet(p) }),
    // the trained BPE merge table a tokenizer training run ships;
    // llm_bpe_encode reads it
    "bpe_merges"    -> (() => BpeTrain.mergeTable(spark, dir)),
    // the DPP fact/dim staging: a declared pipeline input (the partitioned
    // table pre-exists in production; scan_dpp times only the DPP read).
    // Builder = the two writes; the touch reads one fact row.
    "dpp_stage"     -> (() => SourcesSinks.dppStage(spark, dir)._1))

  /** Build every shared artifact for (spark, dir), logging per-artifact
    * wall time to stderr. A failed build is non-fatal: its consumers
    * rebuild (and re-fail) it visibly in the timed region. Returns the
    * per-artifact seconds, −1.0 marking a failed build, so the bench JSON
    * records what its warm-up kept out of the totals and what failed. */
  def warm(spark: SparkSession, dir: String): Seq[(String, Double)] =
    artifacts(spark, dir).map { case (name, f) =>
      val t0 = System.nanoTime()
      try {
        f().limit(1).count()
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"BENCH WARMUP artifact $name%-13s $secs%.3f s")
        name -> secs
      } catch { case NonFatal(e) =>
        System.err.println(s"BENCH WARMUP artifact $name FAILED " +
          s"(first consumer will build it cold): ${e.getClass.getSimpleName}: ${e.getMessage}")
        name -> -1.0
      }
    }
}
