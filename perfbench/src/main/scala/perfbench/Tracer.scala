package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `call` groups every span produced by one call into
  * a layer (building a query's DataFrame and the action that runs it); -1 marks
  * spans outside any call. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, parent: Long, call: Long,
    startMs: Double, endMs: Double)

/** In-memory span recorder. Harness spans nest through a stack kept on
  * the driver thread; listener spans arrive later and are attached to
  * their call in [[Spans.resolve]]. Disabled, it only runs the body. */
final class Spans(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong(1)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private var stack: List[(Long, Long)] = Nil // (span id, call id)

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def currentCall: Long = stack.headOption.map(_._2).getOrElse(-1L)

  /** Run `body` inside a span; `call` >= 0 opens a new call group. */
  def span[A](name: String, call: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val c = if (call >= 0) call else currentCall
      stack = (id, c) :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        buf.add(Span(id, name, parent, c, t0, nowMs))
      }
    }

  /** A span observed by a listener; its parent is found later. */
  def external(name: String, call: Long, startMs: Double, endMs: Double): Unit =
    if (enabled) buf.add(Span(ids.getAndIncrement(), name, -1L, call, startMs, endMs))

  /** Attach every listener span to the innermost harness span of its
    * call (or, without a call id, the innermost harness span containing
    * its start), and return all spans. */
  def resolve(): Seq[Span] = {
    val all = buf.asScala.toVector
    val (harness, ext) = all.partition(_.parent >= 0)
    harness ++ ext.map { s =>
      val byTime = harness.filter(h => h.startMs <= s.startMs && s.startMs <= h.endMs)
      val inCall = byTime.filter(h => s.call < 0 || h.call == s.call)
      val cands = if (inCall.nonEmpty) inCall else byTime
      if (cands.isEmpty) s.copy(parent = 0L)
      else {
        val p = cands.minBy(h => h.endMs - h.startMs)
        s.copy(parent = p.id, call = if (s.call >= 0) s.call else p.call)
      }
    }
  }
}

/** Self time per span name: a span's duration minus the union of its
  * children's intervals clipped to it. */
object SelfTime {
  def byName(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
        (s.endMs - s.startMs - Intervals.union(cs)) / 1e3
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by a set of intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Per-layer counters from Spark's public listener APIs. Jobs and tasks
  * are attributed to a benchmark phase (setup / timed / post) and call
  * through the local properties the harness sets on the driver thread;
  * stream threads inherit them from the call that started them. Planning
  * phases and stream batches carry no properties and are attributed by
  * time in [[Tracer.layers]]. */
final class Tracer(spans: Spans) {
  import Tracer._

  private final class Counters {
    val jobs, tasks, taskCpuNs, taskRunMs, inBytes, inRecs, outBytes, outRecs,
        shWrite, shRead, fetchWaitMs, spillMem, spillDisk = new LongAdder
  }
  private val counters = new ConcurrentHashMap[String, Counters]()
  private def ctr(phase: String) = counters.computeIfAbsent(phase, _ => new Counters)
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageCall = new ConcurrentHashMap[Int, Long]()
  private val callCpuNs = new ConcurrentHashMap[Long, LongAdder]()
  private val jobStart = new ConcurrentHashMap[Int, (Double, String, Long)]()
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double)]()
  private val events = new AtomicLong(0)

  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[Planned]()

  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        val props = Option(e.properties)
        val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
        val call = props.flatMap(p => Option(p.getProperty(CallKey))).map(_.toLong).getOrElse(-1L)
        e.stageIds.foreach { s => stagePhase.put(s, phase); stageCall.put(s, call) }
        jobStart.put(e.jobId, (e.time.toDouble, phase, call))
        ctr(phase).jobs.increment()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        events.incrementAndGet()
        Option(jobStart.remove(e.jobId)).foreach { case (t0, phase, call) =>
          jobIntervals.add((phase, t0, e.time.toDouble))
          spans.external("exec.job", call, t0, e.time.toDouble)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events.incrementAndGet()
        val c = ctr(stagePhase.getOrDefault(e.stageId, "other"))
        c.tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs.add(m.executorCpuTime); c.taskRunMs.add(m.executorRunTime)
          callCpuNs.computeIfAbsent(stageCall.getOrDefault(e.stageId, -1L), _ => new LongAdder)
            .add(m.executorCpuTime)
          c.inBytes.add(m.inputMetrics.bytesRead); c.inRecs.add(m.inputMetrics.recordsRead)
          c.outBytes.add(m.outputMetrics.bytesWritten); c.outRecs.add(m.outputMetrics.recordsWritten)
          c.shWrite.add(m.shuffleWriteMetrics.bytesWritten)
          c.shRead.add(m.shuffleReadMetrics.totalBytesRead)
          c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
          c.spillMem.add(m.memoryBytesSpilled); c.spillDisk.add(m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        events.incrementAndGet()
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches.add(Batch(start, d, p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsTotal).sum, p.id.toString))
        spans.external("stream.batch", -1L, start, start + d.getOrElse("triggerExecution", 0L))
      }
    })
  }

  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val phases = qe.tracker.phases.collect {
      case (name, ph) if PlanPhases.contains(name) =>
        name -> (ph.startTimeMs.toDouble, ph.endTimeMs.toDouble)
    }
    phases.foreach { case (name, (a, b)) => spans.external(s"plan.$name", -1L, a, b) }
    planned.add(Planned(phases, filesWritten(qe.executedPlan)))
  }

  /** `numFiles` of every write node in the executed plan, including the
    * plans nested inside command results. */
  private def filesWritten(plan: SparkPlan): Long = {
    val here = plan.metrics.get("numFiles").map(_.value).getOrElse(0L)
    here + (plan.children ++ plan.innerChildren.collect { case p: SparkPlan => p })
      .map(filesWritten).sum
  }

  /** Task CPU seconds per call id. */
  def taskCpuByCall: Map[String, Double] =
    callCpuNs.asScala.map { case (c, ns) => c.toString -> ns.sum / 1e9 }.toMap

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L; var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Listener-derived layer metrics for the timed region [t0, t1]. */
  def layers(t0: Double, t1: Double): Map[String, Double] = {
    val c = ctr("timed")
    val wall = (t1 - t0) / 1e3
    def inRegion(ms: Double) = ms >= t0 && ms <= t1
    val timedPlans = planned.asScala.toSeq.filter(p =>
      p.phases.values.exists { case (a, _) => inRegion(a) })
    def phaseS(name: String) = timedPlans.flatMap(_.phases.get(name))
      .map { case (a, b) => b - a }.sum / 1e3
    val planS = Seq("analysis", "optimization", "planning").map(phaseS).sum
    val jobs = jobIntervals.asScala.toSeq.filter(_._1 == "timed")
      .map { case (_, a, b) => (math.max(a, t0), math.min(b, t1)) }.filter { case (a, b) => b > a }
    val bs = batches.asScala.toSeq.filter(b => inRegion(b.startMs))
    def batchS(key: String) = bs.map(_.durations.getOrElse(key, 0L)).sum / 1e3
    val cores = Runtime.getRuntime.availableProcessors.min(Main.Cores)
    Map(
      "scan.bytes" -> c.inBytes.sum.toDouble,
      "scan.records" -> c.inRecs.sum.toDouble,
      "plan.analysis_s" -> phaseS("analysis"),
      "plan.optimizer_s" -> phaseS("optimization"),
      "plan.physical_s" -> phaseS("planning"),
      "plan.actions" -> timedPlans.size.toDouble,
      "plan.share" -> planS / wall,
      "exec.jobs" -> c.jobs.sum.toDouble,
      "exec.tasks" -> c.tasks.sum.toDouble,
      "exec.task_cpu_s" -> c.taskCpuNs.sum / 1e9,
      "exec.task_run_s" -> c.taskRunMs.sum / 1e3,
      "exec.cpu_util" -> c.taskCpuNs.sum / 1e9 / (wall * cores),
      "exec.driver_gap_s" -> (wall - Intervals.union(jobs) / 1e3),
      "shuffle.write_bytes" -> c.shWrite.sum.toDouble,
      "shuffle.read_bytes" -> c.shRead.sum.toDouble,
      "shuffle.fetch_wait_s" -> c.fetchWaitMs.sum / 1e3,
      "spill.mem_bytes" -> c.spillMem.sum.toDouble,
      "spill.disk_bytes" -> c.spillDisk.sum.toDouble,
      "sink.bytes" -> c.outBytes.sum.toDouble,
      "sink.records" -> c.outRecs.sum.toDouble,
      "sink.files" -> timedPlans.map(_.files).sum.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.trigger_s" -> batchS("triggerExecution"),
      "stream.plan_s" -> batchS("queryPlanning"),
      "stream.wal_commit_s" -> (batchS("walCommit") + batchS("commitOffsets")),
      "stream.add_batch_s" -> batchS("addBatch"),
      "stream.state_commit_s" -> bs.map(_.stateCommitMs).sum / 1e3,
      // state size at each query's last batch, summed over queries
      "stream.state_rows" -> bs.groupBy(_.query).values
        .map(_.maxBy(_.startMs).stateRows).sum.toDouble)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val CallKey = "perfbench.call"
  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** Planning-phase intervals of one action, and the files it wrote. */
  private final case class Planned(phases: Map[String, (Double, Double)], files: Long)

  /** One streaming micro-batch's progress. */
  private final case class Batch(startMs: Double, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long, query: String)
}
