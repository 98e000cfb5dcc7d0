package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesized-scale stress fixture generator (VERDICT r10 task 5): the
  * driver's fixtures stop at sf0.1, so "safe well past fixture scale"
  * scaladoc claims were un-measurable. This main builds a ~K× frame by
  * KEY-OFFSET UNIONS of an existing fixture dir — copy i shifts every key
  * family by i × a per-family stride that clears the real key range, so
  * all FK joins (orders⋈customer, lineitem⋈part/supplier/orders,
  * events⋈customer, …) stay exactly K-fold, degree distributions and
  * group cardinalities scale K-fold, and per-key group SIZES stay
  * constant (the honest "more customers", not "bigger customers",
  * scale-up). Text/embedding payloads repeat verbatim — fine for the
  * plan-shape and shuffle-volume questions STRESS.md asks, wrong for
  * recall-quality questions, which stay on the real fixtures.
  *
  * Output lands in Tables layout (<out>/<table>.parquet dirs), so every
  * SparkEntry query and every `graft.Tool` subcommand runs unmodified
  * against it. region/nation (domain tables) keep one copy.
  * Deterministic: no RNG, no clock.
  *
  * Usage: [SPARK_GRAFT_CPUS=n] runMain graft.StressGen <srcDir> <outDir> <K>
  */
object StressGen {
  // strides: comfortably above every sf0.1 max key, far below 2^52 so
  // downstream long arithmetic (node encodings, cents sums) stays exact
  private val S = 100000000L // 1e8, one stride unit

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val k = args(2).toInt
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until k).map { i =>
        shifts.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"STRESSGEN $name done")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", copies(Tables.customer(spark, src), Map("c_custkey" -> S)))
    write("supplier", copies(Tables.supplier(spark, src), Map("s_suppkey" -> S)))
    write("part", copies(Tables.part(spark, src), Map("p_partkey" -> S)))
    write("orders", copies(Tables.orders(spark, src),
      Map("o_orderkey" -> S, "o_custkey" -> S)))
    write("lineitem", copies(Tables.lineitem(spark, src),
      Map("l_orderkey" -> S, "l_partkey" -> S, "l_suppkey" -> S)))
    write("events", copies(Tables.events(spark, src),
      Map("event_id" -> S, "user_id" -> S)))
    write("documents", copies(Tables.documents(spark, src), Map("doc_id" -> S)))
    write("embeddings", copies(Tables.embeddings(spark, src), Map("vec_id" -> S)))
    spark.stop()
  }
}
