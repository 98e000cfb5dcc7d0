package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Semantics checks for the round-1 additions: advanced joins, SQL-surface
  * reshaping, time-series fill, and clustering. */
class OperatorSemantics2Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("theta-band pairs are canonical and within the band") {
    val parts = Seq((1L, "B1", 10), (2L, "B1", 11), (3L, "B1", 20), (4L, "B2", 10))
      .toDF("p_partkey", "p_brand", "p_size")
    val a = parts.select(col("p_partkey").as("a_key"), col("p_brand").as("brand"), col("p_size").as("a_size"))
    val b = parts.select(col("p_partkey").as("b_key"), col("p_brand").as("b_brand"), col("p_size").as("b_size"))
    val pairs = a.join(b, col("brand") === col("b_brand") &&
      col("a_key") < col("b_key") && abs(col("a_size") - col("b_size")) <= 2)
      .select("a_key", "b_key").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L))) // 3 out of band; 4 other brand; canonical order
  }

  test("interval self-join counts events in [ts, ts+1h) including self") {
    val counts = JoinsAdvanced.joinInterval(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ >= 1), "every event sees at least itself")
    assert(counts.size === 1000)
  }

  test("gap-fill carries the last value forward and zero-fills leading gaps") {
    val out = TimeSeries.tsGapfill(spark, sf0001).collect()
    var last = 0.0
    out.foreach { r =>
      val rev = Option(r.get(1)).map(_.asInstanceOf[Double])
      val filled = r.getDouble(2)
      rev match {
        case Some(v) => assert(filled === v); last = v
        case None    => assert(filled === last, s"gap at ${r.get(0)} must carry $last")
      }
    }
    assert(out.exists(r => r.get(1) == null), "the sparse series must actually have gaps")
  }

  test("connected components separate disjoint near-dup groups") {
    // two triangles + one isolated pair, expressed directly over the
    // label-propagation code path via a tiny documents-like frame
    val out = Clustering.llmDedupClusters(spark, sf0001)
    val clusters = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // cluster id is the min member; every member's cluster <= its own id
    assert(clusters.forall { case (doc, cl, _) => cl <= doc })
    // csize agrees with actual membership
    val sizes = clusters.groupBy(_._2).map { case (cl, xs) => cl -> xs.length }
    assert(clusters.forall { case (_, cl, cs) => sizes(cl) === cs })
    // clusters are consistent with the edge set: every near-dup pair lands
    // in the same cluster
    val lbl = clusters.map(c => c._1 -> c._2).toMap
    val edges = LlmOps.llmDedupNear(spark, sf0001)
      .select("a_id", "b_id").collect()
    assert(edges.forall(r => lbl(r.getLong(0)) === lbl(r.getLong(1))))
  }

  test("unpivot inverts pivot") {
    val p = SqlOps.aggPivot(spark, sf0001)
    val melted = p.unpivot(Array(col("user_id")),
      Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
      "event_type", "n")
      .filter(col("n") > 0)
    val direct = Tables.events(spark, sf0001)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    assert(melted.orderBy("user_id", "event_type").collect().toSeq ===
      direct.orderBy("user_id", "event_type").collect().toSeq)
  }

  test("lateral top-2 equals the window-function top-2") {
    val lateral = SparkEntry.queries("join_lateral")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val windowed = Tables.orders(spark, sf0001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lateral === windowed)
  }

  test("hll union rollup: sketch-merged estimate within 5% of exact distinct") {
    val est = Aggregates.aggHllUnion(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val e = est(k)
      assert(math.abs(e - ex).toDouble / ex <= 0.05,
        s"$k: sketch-union estimate $e vs exact $ex drifts > 5%")
    }
  }
}
