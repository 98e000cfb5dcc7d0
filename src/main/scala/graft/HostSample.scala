package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process.Process
import scala.util.control.NonFatal

/** One reading of the host and JVM counters Bench attributes to each query,
  * in seconds except `load` (the 1-min load average, a level) and `codegen`
  * (whole-stage-codegen classes compiled, a count). −1 marks a counter this
  * host or JVM does not expose.
  *
  *   - cpuStall / ioStall / memStall: PSI "some" time, host-wide. A stall
  *     that grows during a query is contention, not code.
  *   - steal: hypervisor steal from /proc/stat, which PSI cannot see.
  *   - cpu: this process's CPU across all threads (can exceed wall).
  *   - gc: stop-the-world GC wall time across collectors.
  *   - jit: JIT compiler-thread time. It runs beside the task threads, so
  *     it marks a query whose tasks ran not-yet-optimised code. */
final case class HostSample(load: Double, cpuStall: Double, ioStall: Double,
    memStall: Double, steal: Double, cpu: Double, gc: Double, jit: Double,
    codegen: Double) {

  /** The counters' growth from this sample to `end`; `load` stays this
    * sample's level. A counter missing at either end stays −1. */
  def delta(end: HostSample): HostSample = {
    def d(a: Double, b: Double) = if (a < 0 || b < 0) -1.0 else b - a
    HostSample(load, d(cpuStall, end.cpuStall), d(ioStall, end.ioStall),
      d(memStall, end.memStall), d(steal, end.steal), d(cpu, end.cpu), d(gc, end.gc),
      d(jit, end.jit), d(codegen, end.codegen))
  }
}

object HostSample {
  private def orMissing(read: => Double): Double =
    try read catch { case NonFatal(_) => -1.0 }

  private def text(path: String): String = new String(Files.readAllBytes(Paths.get(path)))

  private def psiSomeSecs(resource: String): Double =
    text(s"/proc/pressure/$resource").linesIterator.find(_.startsWith("some")).get
      .split("\\s+").find(_.startsWith("total=")).get.drop(6).toLong / 1e6

  /** Cumulative steal in USER_HZ ticks, or −1. */
  def stealTicks(): Double = orMissing(
    text("/proc/stat").linesIterator.find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toDouble)

  private lazy val userHz: Double =
    Some(orMissing(Process("getconf CLK_TCK").!!.trim.toDouble)).filter(_ > 0).getOrElse(100.0)

  private val compiler = ManagementFactory.getCompilationMXBean

  /** Cumulative JIT compiler time in seconds, or −1. */
  def jit(): Double = orMissing(compiler.getTotalCompilationTime / 1e3)

  // CodegenMetrics is spark-private; its compile-time histogram counts
  // every janino compilation
  private lazy val codegenHisto = {
    val m = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    m.getMethod("METRIC_COMPILATION_TIME").invoke(m.getField("MODULE$").get(null))
      .asInstanceOf[com.codahale.metrics.Histogram]
  }

  def now(): HostSample = HostSample(
    load = orMissing(text("/proc/loadavg").split("\\s+")(0).toDouble),
    cpuStall = orMissing(psiSomeSecs("cpu")),
    ioStall = orMissing(psiSomeSecs("io")),
    memStall = orMissing(psiSomeSecs("memory")),
    steal = orMissing(stealTicks() match { case t if t >= 0 => t / userHz }),
    cpu = orMissing(ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime match {
        case ns if ns >= 0 => ns / 1e9 }),
    gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
    jit = jit(),
    codegen = orMissing(codegenHisto.getCount.toDouble))
}
