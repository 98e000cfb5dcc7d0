package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** `bill_pipeline_e2e`: the reference's composed dataflow — CSV ingest
  * (with duplicate re-delivery) → normalize → exact dedup →
  * month-partitioned idempotent landing → read-back census. The DuckDB
  * oracle checks the census against the source; this suite pins what the
  * oracle equality rides on: the census survives a FULL double-run
  * (overwrite semantics at every seam), the dedup stage removed the
  * manufactured re-deliveries (row counts match the source, not the
  * inflated drop), and the load writes exactly three times — the drop,
  * the landing of every month and the re-delivery of one. The write plans
  * run eagerly inside the query, so the read-back's plan fingerprint
  * cannot see them.
  */
class BillPipelineE2eSpec extends AnyFunSuite {
  import TestSpark._

  private def run() = operators.Billing.billPipelineE2e(spark, sf0001)
    .collect().map(_.toSeq).toSeq

  test("census equals the direct source census (all four seams lossless)") {
    val got = run()
    val want = Tables.lineitem(spark, sf0001)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_orderkey").as("okey"),
        round(col("l_quantity"), 2).as("qty"),
        round(round(col("l_quantity"), 2) * round(col("l_extendedprice"), 2), 2).as("gross"))
      .groupBy("month")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("okey")).as("orders"),
        round(sum("qty"), 2).as("sum_qty"),
        round(sum("gross"), 2).as("gross"))
      .orderBy(col("month").asc)
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    // the 10% re-delivery really was dropped: total rows = source rows
    val totalRows = got.map(_(1).asInstanceOf[Long]).sum
    assert(totalRows === Tables.lineitem(spark, sf0001).count())
  }

  test("run-twice idempotency: a second full pipeline run reproduces identical rows") {
    val first = run()
    val second = run()
    assert(second === first)
  }

  test("three writes: the CSV drop, the landing of every month, one re-delivered month") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = operators.SourcesSinks.scratchFor(sf0001, "e2e")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[InsertIntoHadoopFsRelationCommand]()
    val collected = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        // AQE wraps a write command in a result query stage
        new AdaptiveSparkPlanHelper {}.collectFirst(qe.executedPlan) {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.toString.contains(out) => c
        }.foreach(writes.add)
        // the bus delivers in order: the census's collect comes last
        if (funcName == "collect") collected.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val census = try {
      val rows = run()
      assert(collected.await(60, java.util.concurrent.TimeUnit.SECONDS))
      rows
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val Seq(drop, landing, redelivery) = writes.asScala.toSeq
    def parts(c: InsertIntoHadoopFsRelationCommand) = c.metrics("numParts").value
    def dynamic(c: InsertIntoHadoopFsRelationCommand) =
      c.options.get("partitionOverwriteMode").contains("dynamic")
    assert(drop.fileFormat.toString === "CSV" && drop.partitionColumns.isEmpty)
    assert(landing.partitionColumns.map(_.name) === Seq("month"))
    assert(!dynamic(landing))
    assert(parts(landing) === census.size)
    assert(redelivery.outputPath === landing.outputPath)
    assert(dynamic(redelivery))
    assert(parts(redelivery) === 1)
  }
}
