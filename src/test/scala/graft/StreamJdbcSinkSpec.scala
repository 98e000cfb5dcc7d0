package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming → warehouse exactly-once: the declared `stream_jdbc_sink`
  * query is oracled against the batch census; this suite additionally
  * proves the BATCH-ID IDEMPOTENCE the oracle equality rides on — a query
  * killed mid-backlog and resumed on the same checkpoint re-offers a batch
  * id to foreachBatch, and the delete-and-insert transaction replaces
  * rather than double-counts it.
  */
class StreamJdbcSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def batchCensus() = Tables.events(spark, sf0001)
    .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
    .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
    .orderBy(col("day").asc, col("event_type").asc)
    .collect().map(_.toSeq).toSeq

  test("declared stream_jdbc_sink census equals the batch census") {
    val got = operators.Streaming.queries("stream_jdbc_sink")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === batchCensus())
  }

  test("replayed batch id is replaced, not double-counted (the idempotence primitive)") {
    val url = operators.JdbcSink.jdbcUrl
    val table = "stream_load_replay"
    operators.Streaming.resetLoadTable(url, table)
    val mk = (day: String, n: Long, s: Double) =>
      org.apache.spark.sql.Row(day, "click", n, s)
    // first offer of batch 7: a PARTIAL landing a crash could have left
    operators.Streaming.landBatch(url, table, 7L, Array(mk("1995-01-01", 10L, 1.5)))
    // re-offer of batch 7 with the full census: must REPLACE the partial
    operators.Streaming.landBatch(url, table, 7L,
      Array(mk("1995-01-01", 12L, 2.0), mk("1995-01-02", 3L, 0.5)))
    // a different batch id lands beside it untouched
    operators.Streaming.landBatch(url, table, 8L, Array(mk("1995-01-01", 5L, 1.0)))
    val got = operators.JdbcSink.read(spark, table)
      .groupBy("day").agg(sum("n").as("n"), round(sum("s"), 2).as("s"))
      .orderBy(col("day").asc)
      .collect().map(_.toSeq).toSeq
    assert(got === Seq(Seq("1995-01-01", 17L, 3.0), Seq("1995-01-02", 3L, 0.5)))
  }

  test("kill mid-backlog + resume on one checkpoint: warehouse holds each row exactly once") {
    val (src, schema) = operators.Streaming.incrStage(spark, sf0001)
    val url = operators.JdbcSink.jdbcUrl
    val table = "stream_load_kill"
    operators.Streaming.resetLoadTable(url, table)
    val tmp = operators.ScratchDirs.tempDir("graft_jsink_kill_")
    try {
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // one day per micro-batch → a long backlog
        .parquet(src)
        .select(col("day").cast("string").as("day"), col("event_type"), col("value"))
        .writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          operators.Streaming.landBatch(url, table, id,
            b.groupBy("day", "event_type")
              .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).collect())
        }
        .start()
      val q1 = start()
      val deadline = System.nanoTime() + 60L * 1000000000
      while (q1.isActive && System.nanoTime() < deadline &&
          !q1.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(50)
      val life1Batches = q1.recentProgress.count(_.numInputRows > 0)
      q1.stop()
      val q2 = start() // second life, same checkpoint: must resume, not replay-and-double
      try { assert(q2.awaitTermination(120000)) } finally q2.stop()
      val got = operators.JdbcSink.read(spark, table)
        .groupBy(col("day"), col("event_type"))
        .agg(sum("n").as("n"), round(sum("s"), 2).as("val"))
        .orderBy(col("day").asc, col("event_type").asc)
        .collect().map(_.toSeq).toSeq
      assert(got === batchCensus(),
        s"warehouse diverges from batch after a mid-backlog kill " +
          s"(life 1 landed $life1Batches batch(es) before the stop)")
    } finally operators.ScratchDirs.deleteRecursively(tmp)
  }
}
