package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-job-group counts of the work Spark ran: jobs, task CPU (executor
  * thread CPU, so GC and JIT threads are excluded), task run time and
  * spilled bytes. Attribution is exact however far the async listener bus
  * lags, because the group id travels in each job's own properties; a
  * group's counts are complete only once the bus has drained past its last
  * task. Jobs outside any group count under "ungrouped". */
final class QueryLedger extends SparkListener {
  final class Counts {
    val jobs, taskCpuNs, taskRunMs, spillMemBytes, spillDiskBytes = new LongAdder
  }

  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def apply(group: String): Counts = byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).fold("ungrouped")(_.getProperty("spark.jobGroup.id", "ungrouped"))
    apply(g).jobs.increment()
    js.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val c = apply(stageGroup.getOrDefault(te.stageId, "ungrouped"))
      c.taskCpuNs.add(m.executorCpuTime)
      c.taskRunMs.add(m.executorRunTime)
      c.spillMemBytes.add(m.memoryBytesSpilled)
      c.spillDiskBytes.add(m.diskBytesSpilled)
    }
  }
}
