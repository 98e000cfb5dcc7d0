package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import graft.plans.{FinalTopKExec, PartialTopKExec, TopKPerKey}

/** Contract of the native per-key top-k operator: (1) results identical
  * to the window row_number formulation, under any input partitioning;
  * (2) the plan really has the map-side partial phase BELOW the exchange
  * (the whole point — only per-task survivors shuffle), in every declared
  * retrieval query too; (3) ties on the order value break by the tie key,
  * deterministically, and order values rank as Spark's DESC sort ranks
  * them (NaN first). */
class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark._

  private def windowed(k: Int) = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("native top-k = window top-k, for k = 1 and 3, any partitioning") {
    for (k <- Seq(1, 3); parts <- Seq(1, 7)) {
      val in = Tables.orders(spark, sf0001)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .repartition(parts)
      val native = collectSet(TopKPerKey.topK(in, "o_custkey", "o_totalprice", "o_orderkey", k))
      assert(native == collectSet(windowed(k)), s"k=$k parts=$parts")
    }
  }

  /** Checks that every FinalTopKExec in `plan` reads a hash exchange (or
    * a reuse of one) fed directly by its PartialTopKExec; returns how many
    * finals the plan holds. */
  private def twoPhase(what: String, plan: SparkPlan): Int = {
    val finals = plan.collect { case f: FinalTopKExec => f }
    finals.foreach { f =>
      val exchange = f.child match {
        case e: ShuffleExchangeExec => e
        case ReusedExchangeExec(_, e: ShuffleExchangeExec) => e
        case _ => fail(s"$what: no exchange between partial and final in:\n$plan")
      }
      assert(exchange.child.isInstanceOf[PartialTopKExec],
        s"$what: PartialTopKExec not found below the shuffle in:\n$plan")
    }
    finals.size
  }

  test("partial phase sits below the shuffle, final above it") {
    // static plan (AQE off) — the adaptive form wraps each stage in
    // QueryStage leaves that hide the operators from collect()
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    val df = TopKPerKey.topK(
      Tables.orders(session, sf0001).select("o_custkey", "o_orderkey", "o_totalprice"),
      "o_custkey", "o_totalprice", "o_orderkey", 3)
    assert(twoPhase("orders top-3", df.queryExecution.executedPlan) == 1)
    // every per-query retrieval ranking runs through the operator: one
    // final per ranking leg (hybrid fuses two legs; the eval reads each
    // leg twice, its second read a reused exchange)
    val legs = Seq("llm_knn_join" -> 1, "llm_knn_classify" -> 1, "llm_ann_ivf" -> 1,
      "llm_ann_lsh" -> 1, "llm_bm25_retrieve" -> 1, "llm_hybrid_rrf" -> 2,
      "llm_retrieval_eval" -> 4)
    for ((q, n) <- legs) {
      val plan = SparkEntry.queries(q)(session, sf0001).queryExecution.executedPlan
      assert(twoPhase(q, plan) == n, s"$q: expected $n FinalTopKExec in:\n$plan")
    }
  }

  test("ties on the order value break by the tie key ascending") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 5.0), (1L, 7L, 5.0), (1L, 9L, 5.0), (1L, 8L, 1.0),
      (2L, 3L, 2.0), (2L, 4L, 2.0)
    ).toDF("k", "id", "v")
    def top2(in: DataFrame) = TopKPerKey.topK(in, "k", "v", "id", 2)
      .orderBy(col("k").asc, col("v").desc, col("id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top2(df) == Seq((1L, 7L), (1L, 9L), (2L, 3L), (2L, 4L)))
    // NaN ranks above every number, as in Spark's DESC sort (kNN
    // classification keeps NaN similarities), and -0.0 ties 0.0
    val nan = Seq(
      (3L, 1L, 0.9), (3L, 2L, Double.NaN), (3L, 3L, Double.NaN), (3L, 4L, 1.0),
      (4L, 5L, -0.0), (4L, 6L, 0.0), (4L, 7L, 0.0), (4L, 8L, Double.NaN)
    ).toDF("k", "id", "v")
    assert(top2(nan).toSet == Set((3L, 2L), (3L, 3L), (4L, 8L), (4L, 5L)))
    // the ranked helper keeps the window's rows and gives its ranks
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id").asc)
    def ranks(ranked: DataFrame) =
      ranked.select("k", "id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (in <- Seq(df, nan)) {
      assert(ranks(operators.LlmOps.topKRanked(in, "k", "v", "id", 2, "rnk")) ==
        ranks(in.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)))
    }
  }
}
