package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** `llm_pipeline_e2e`: the training-corpus build composed — JSONL
  * ingest (with duplicate re-delivery) → heuristic quality filter →
  * exact content dedup → lang-partitioned idempotent landing → pack +
  * dataset-card census over the read-back. The DuckDB oracle checks the
  * card against the filtered source; this suite pins what the oracle
  * equality rides on: the card survives a FULL double-run (overwrite
  * semantics at every seam), the dedup stage removed the manufactured
  * re-deliveries (doc counts match the filtered source, not the inflated
  * drop), and multibyte text crosses the JSONL seam byte for byte.
  */
class LlmPipelineE2eSpec extends AnyFunSuite {
  import TestSpark._

  private def run() = operators.LlmOpsPipeline.llmPipelineE2e(spark, sf0001)
    .collect().map(_.toSeq).toSeq

  private def filteredSource = {
    val toks = split(col("text"), " ")
    val ntok = size(toks).cast("double")
    val avgLen = (col("n_chars").cast("double") - (ntok - 1)) / ntok
    val nstop = size(filter(toks, t => t === "the" || t === "a"))
    Tables.documents(spark, sf0001)
      .filter(!(ntok < 30) && !(avgLen < 3.0 || avgLen > 8.0) && !(nstop === 0))
  }

  test("per-lang docs/sources/tokens equal the filtered source (seams lossless)") {
    val got = run()
    val want = filteredSource
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(size(split(col("text"), " ")).cast("bigint")).as("total_toks"))
      .orderBy(col("lang").asc)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val gotCard = got.map(r => (r(0), r(1), r(2), r(4)))
    assert(gotCard === want.map(t => (t._1, t._2, t._3, t._4)))
    // the 10% re-delivery really was dropped: doc total = filtered source
    val totalDocs = got.map(_(1).asInstanceOf[Long]).sum
    assert(totalDocs === filteredSource.count())
  }

  test("run-twice idempotency: a second full pipeline run reproduces identical rows") {
    val first = run()
    val second = run()
    assert(second === first)
  }

  test("multibyte text survives the JSONL seam byte-for-byte") {
    // The fixture corpus is ASCII at every SF, so the oracle equality
    // can't certify the one property the JSONL staging exists for:
    // arbitrary unicode text crossing the ingest seam losslessly (the
    // census alone can't either — a deterministic mangling preserves
    // counts). Craft a corpus whose multibyte docs PASS the filter and
    // whose ids hit the % 10 re-delivery, then read the staged JSONL
    // back and compare the text verbatim.
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_llm_e2e_uni_").toFile
    try {
      val toks = Seq("the", "café", "naïve", "日本語", "😀😀😀", "עברית",
        "Türkçe") ++ Seq.tabulate(30)(i => s"tök$i")
      val t1 = toks.mkString(" ")
      val t2 = t1 + " extra"
      val docs = Seq((10L, t1, "en", "web", t1.length.toLong),
        (20L, t2, "fr", "wiki", t2.length.toLong))
      spark.createDataFrame(docs).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = operators.LlmOpsPipeline.llmPipelineE2e(spark, tmp.toString)
        .collect().map(_.toSeq).toSeq
      // both docs pass (37-38 tokens, stopword present, mean len ~4.7)
      // and both re-deliveries (ids 10, 20) were deduped away
      assert(got.map(_(1).asInstanceOf[Long]).sum === 2L)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("text", StringType),
        StructField("n_chars", LongType)))
      val stagedTexts = spark.read.schema(schema)
        .json(s"${operators.SourcesSinks.scratchFor(tmp.toString, "llm_e2e")}/jsonl")
        .select("text").distinct().collect().map(_.getString(0)).sorted.toSeq
      assert(stagedTexts === Seq(t1, t2).sorted)
    } finally operators.ScratchDirs.deleteRecursively(tmp)
  }
}
