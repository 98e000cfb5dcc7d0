package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.JdbcSink

/** The JDBC round-trip must be lossless: whatever the aggregate computes
  * is exactly what comes back out of the embedded Derby database —
  * values, types, and row count. A second run must overwrite cleanly
  * (the idempotent-reload property a warehouse loader needs). */
class JdbcSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def direct = Tables.orders(spark, sf0001)
    .groupBy(col("o_orderpriority"))
    .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
    .orderBy(col("o_orderpriority").asc)
    .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

  test("jdbc_sink: write → read-back equals the direct aggregate") {
    val got = JdbcSink.jdbcSink(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.sameElements(direct))
  }

  test("jdbc_sink: overwrite reload is idempotent") {
    val first = JdbcSink.jdbcSink(spark, sf0001).collect().length
    val second = JdbcSink.jdbcSink(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(second.length == first)
    assert(second.sameElements(direct))
  }
}
