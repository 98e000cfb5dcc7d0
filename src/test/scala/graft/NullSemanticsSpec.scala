package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** subquery_not_in's three-valued-logic contract: the declared query's
  * nullable-but-null-free subquery must behave exactly like the plain
  * anti join, while a single LIVE null in the subquery must empty the
  * result entirely — the SQL-standard behavior a plain anti-join
  * rewrite would get wrong. */
class NullSemanticsSpec extends AnyFunSuite {
  import TestSpark._

  test("null-free NOT IN equals the anti join; one NULL empties it") {
    Tables.registerAll(spark, sf0001)
    val declared = SparkEntry.queries("subquery_not_in")(spark, sf0001)
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
    val anti = Tables.customer(spark, sf0001)
      .join(Tables.orders(spark, sf0001).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
    assert(declared === anti)
    assert(declared.nonEmpty, "the declared census must be non-trivial")
    // flip the guard to a LIVE status: one NULL in the subquery makes
    // `NOT IN` unknown for every row — the whole result must vanish
    val poisoned = spark.sql(
      """SELECT c_nationkey, count(*) AS n
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN NULL ELSE o_custkey END
        |  FROM orders WHERE o_totalprice > 300000)
        |GROUP BY c_nationkey""".stripMargin)
    assert(poisoned.count() === 0L, "a live NULL must empty NOT IN")
  }
}
