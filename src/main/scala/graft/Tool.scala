package graft

import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool for declared queries; not part of the driver surface.
  *
  *   time    <sfDir> <reps> <query...>   per rep: wall, rows, jobs, spill
  *   stages  <sfDir> <reps> <query...>   per completed stage: tasks,
  *                                       run/CPU s, shuffle bytes/records
  *   run     <sfDir> <outDir> <query...> write each result as parquet
  *   explain <sfDir> [query...]          formatted physical plans
  *
  * Usage: [SPARK_GRAFT_CPUS=n] runMain graft.Tool <subcommand> <args...>
  */
object Tool {

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: reps :: names if names.nonEmpty =>
      timed(sfDir, reps.toInt, names, printStages = false)
    case "stages" :: sfDir :: reps :: names if names.nonEmpty =>
      timed(sfDir, reps.toInt, names, printStages = true)
    case "run" :: sfDir :: outDir :: names if names.nonEmpty =>
      run(sfDir, outDir, names)
    case "explain" :: sfDir :: names =>
      explain(sfDir, names)
    case _ =>
      System.err.println(
        "usage: graft.Tool time|stages <sfDir> <reps> <query...>\n" +
        "       graft.Tool run <sfDir> <outDir> <query...>\n" +
        "       graft.Tool explain <sfDir> [query...]")
      sys.exit(2)
  }

  private def session(logLevel: String): SparkSession = {
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Counts jobs and task spill for `time`; prints one line per completed
    * stage for `stages`. */
  private final class Telemetry(printStages: Boolean) extends SparkListener {
    val jobs = new AtomicInteger()
    val spillMem = new LongAdder()
    val spillDisk = new LongAdder()
    override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) { spillMem.add(m.memoryBytesSpilled); spillDisk.add(m.diskBytesSpilled) }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo; val m = si.taskMetrics
      if (printStages && m != null) {
        val nm = si.name.takeWhile(_ != '(').trim
        println(f"STAGE ${si.stageId}%4d $nm%-28s tasks=${si.numTasks}%3d " +
          f"run=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"srdB=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fM " +
          f"swrB=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fM " +
          f"srdR=${m.shuffleReadMetrics.recordsRead}%9d " +
          f"out=${m.outputMetrics.recordsWritten}%9d")
      }
    }
  }

  private def timed(sfDir: String, reps: Int, names: Seq[String],
      printStages: Boolean): Unit = {
    val spark = session("WARN")
    val t = new Telemetry(printStages)
    spark.sparkContext.addSparkListener(t)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    names.foreach { n =>
      (1 to reps).foreach { r =>
        // the pauses let the async listener bus drain, so job and spill
        // deltas belong to this rep alone
        Thread.sleep(300)
        val j0 = t.jobs.get(); val sm0 = t.spillMem.sum(); val sd0 = t.spillDisk.sum()
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (printStages) println(f"TIME $n rep=$r $dt%.2f s rows=$c")
        else {
          Thread.sleep(300)
          println(f"TIME $n rep=$r $dt%.2f s rows=$c jobs=${t.jobs.get() - j0} " +
            f"spill_mem=${(t.spillMem.sum() - sm0) / 1e6}%.0fMB " +
            f"spill_disk=${(t.spillDisk.sum() - sd0) / 1e6}%.0fMB")
        }
      }
    }
    spark.stop()
  }

  private def run(sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val spark = session("WARN")
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$n.parquet")
      println(f"RAN $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }

  /** The pre-materialization chains PlanSnapshotSpec fingerprints: a
    * declared frame that truncates behind a materialize shows only the
    * bounded result scan, so plan audits name "<query>#inner" here. */
  private val inner: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_weighted_median#inner" -> (operators.Aggregates.aggWeightedMedianPlan _),
    "agg_weighted_median#weights" -> (operators.Aggregates.weightedMedianWeights _),
    "agg_pareto#inner" -> (operators.Aggregates.aggParetoPlan _),
    "basket_rules#inner" -> (operators.Analytics2.basketRulesPlan _),
    "graph_pagerank#inner" -> (operators.Clustering.pagerankPlan _),
    "graph_label_prop#inner" -> (operators.Clustering.labelPropPlan _),
    "llm_emb_pq#inner" -> (operators.LlmOpsExtra.llmEmbPqPlan _))

  /** Audits that filters and projections reach the parquet scan, small
    * dims broadcast, top-k compiles to TakeOrderedAndProject and hot paths
    * stay inside WholeStageCodegen. All queries when none are named. */
  private def explain(sfDir: String, names: Seq[String]): Unit = {
    val spark = session("ERROR")
    val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    all.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries.get(n).orElse(inner.get(n)).get(spark, sfDir)
        .explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
