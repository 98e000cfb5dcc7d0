package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Exactly-once parquet file sink: the declared
  * `stream_file_sink` query is oracled against the batch census; this
  * suite additionally proves the MANIFEST mechanism the oracle equality
  * rides on — a query killed mid-backlog and resumed on the same
  * checkpoint lands every input row in the sink exactly once, because
  * `_spark_metadata` gates which files a read sees (task output from
  * uncommitted batches is invisible).
  */
class StreamFileSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def batchCensus() = Tables.events(spark, sf0001)
    .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
    .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
    .orderBy(col("day").asc, col("event_type").asc)
    .collect().map(_.toSeq).toSeq

  test("declared stream_file_sink census equals the batch census") {
    val got = operators.Streaming.queries("stream_file_sink")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got === batchCensus())
  }

  test("kill mid-backlog + resume on one checkpoint: manifest read-back is exactly-once") {
    val (src, schema) = operators.Streaming.incrStage(spark, sf0001)
    // staged under the swept io root, so a crashed run's dir is reaped
    val tmp = operators.ScratchDirs.tempDir("graft_fsink_kill_")
    val out = s"$tmp/out"
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one day per micro-batch → a long backlog
      .parquet(src)
      .select(col("day").cast("string").as("day"), col("event_type"), col("value"))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      val q1 = start()
      // kill as soon as at least one batch committed (and, on the fixture's
      // ~90-day backlog, long before all of them have)
      val deadline = System.nanoTime() + 60L * 1000000000
      while (q1.isActive && System.nanoTime() < deadline &&
          !q1.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(50)
      val life1Batches = q1.recentProgress.count(_.numInputRows > 0)
      q1.stop()
      val q2 = start() // second life, same checkpoint: must resume, not replay
      try assert(q2.awaitTermination(120000), "life 2 timed out mid-backlog")
      finally q2.stop()
      val manifest = new java.io.File(out, "_spark_metadata")
      assert(manifest.isDirectory, "file sink must write a _spark_metadata manifest")
      val got = spark.read.parquet(out)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
        .orderBy(col("day").asc, col("event_type").asc)
        .collect().map(_.toSeq).toSeq
      // exactly-once across the kill: no missing rows, no duplicated rows
      assert(got === batchCensus(),
        s"manifest read-back diverges from batch after a mid-backlog kill " +
          s"(life 1 committed $life1Batches batch(es) before the stop)")
    } finally operators.ScratchDirs.deleteRecursively(tmp)
  }
}
