package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** FIXTURES.md golden values at sf0.001 — catches loader regressions,
  * especially the events ns-timestamp path (SURVEY §5.2.5). */
class GoldenSmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("golden row counts at sf0.001") {
    val expected = Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 150L, "supplier" -> 10L,
      "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L, "events" -> 1000L,
      "documents" -> 500L, "embeddings" -> 500L)
    expected.foreach { case (t, n) =>
      assert(Tables.byName(spark, sf0001, t).count() === n, s"table $t")
    }
  }

  test("events loader produces real timestamps in the 2024-01 window") {
    val mm = Tables.events(spark, sf0001)
      .agg(min("ts").cast("string"), max("ts").cast("string")).head()
    assert(mm.getString(0).startsWith("2024-01-"))
    assert(mm.getString(1).startsWith("2024-01-"))
  }

  test("events loader normalizes ts to TimestampType without the legacy ns flag") {
    // The 2026-08-13 fixture generation writes ts as naive timestamp[us],
    // which Spark reads as TIMESTAMP_NTZ with no legacy flag needed; the
    // loader must hand every consumer the TimestampType they were built on.
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val df = Tables.events(bare, sf0001)
    assert(df.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(df.select(max("ts").cast("string")).head().getString(0).startsWith("2024-01-"))
  }

  test("distinct event types and embedding dimensionality") {
    assert(Tables.events(spark, sf0001).select("event_type").distinct().count() === 5)
    val dims = Tables.embeddings(spark, sf0001)
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSet
    assert(dims === Set(64))
  }

  test("flagship entry returns the 6 q1 groups with positive counts") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length === 6)
    assert(rows.map(_.getAs[Long]("count_order")).forall(_ > 0))
  }
}
