package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkEntry, Tables}
import graft.operators.SharedArtifacts

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes a run record (`result.json`, plus
  * `trace.json` when traced) to `--out`. `run.py` builds the inputs,
  * launches this, checks the outputs and prints the metrics.
  *
  * Arguments: --workload NAME --dir DATA_DIR --warm-dir DATA_DIR
  *   --tables T1,T2,.. --units Q1,Q2,..;Q1,Q2,..;.. --warm N --trace 0|1
  *   --out DIR --local DIR
  *
  * The first N units of `--units` run untimed, as warm-up: the loader
  * call on the inputs in `--warm-dir`, every other call on the inputs in
  * `--dir`. The timed region runs every other unit once on the inputs in
  * `--dir`, so each run does the same work. */
object Main {
  val Cores = 4
  private val Loader = "bill_pipeline_e2e"

  /** One call; `cpuS` is the process CPU over the call's wall. */
  final case class Call(id: Long, name: String, unit: Int, startS: Double, durS: Double,
      buildS: Double, actionS: Double, cpuS: Double, ok: Boolean,
      hash: String, rows: Int, err: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload"); val dir = opt("dir"); val out = opt("out")
    val warmDir = opt("warm-dir")
    val units = opt("units").split(";").toVector.map(_.split(",").toVector)
    val nWarm = opt("warm").toInt
    val traced = opt("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(out))

    val spans = new Spans(traced)
    val tracer = if (traced) Some(new Tracer(spans)) else None
    val spark = spans.span("setup.session")(session(opt("local")))
    tracer.foreach(_.register(spark))
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, "setup")
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql

    // ---- set-up: table warm-up, then the untimed warm units ----
    val tablesS = spans.span("tables.warm") {
      timeS(opt("tables").split(",").filter(_.nonEmpty).foreach { t =>
        // fills Tables' schema cache and the page cache for the table
        spans.span(s"tables.warm.$t")(Tables.byName(spark, dir, t).count())
      })._2
    }
    var callId = 0L
    var lastDf: DataFrame = null
    var lastLoader: DataFrame = null
    def call(name: String, unit: Int, t0: Long, dir: String): (Call, Array[Row]) = {
      callId += 1
      sc.setLocalProperty(Tracer.CallKey, callId.toString)
      val c0 = processCpuNs()
      val s0 = System.nanoTime()
      var buildS = 0.0
      def done(ok: Boolean, hash: String, rows: Int, err: String): Call = {
        val d = (System.nanoTime() - s0) / 1e9
        Call(callId, name, unit, (s0 - t0) / 1e9, d, buildS, if (ok) d - buildS else 0.0,
          (processCpuNs() - c0) / 1e9, ok, hash, rows, err)
      }
      try spans.span(s"call.$name", callId) {
        val (df, b) = timeS(spans.span("operators.build")(queries(name)(spark, dir)))
        buildS = b
        val rows = spans.span("action")(df.collect())
        lastDf = df
        if (name == Loader) lastLoader = df
        done(ok = true, hashRows(rows), rows.length, "") -> rows
      } catch { case e: Throwable =>
        val err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"PERFBENCH call $name failed: $err")
        done(ok = false, "", 0, err) -> Array.empty[Row]
      } finally sc.setLocalProperty(Tracer.CallKey, null)
    }

    // the first result of each query with oracle SQL on the timed inputs,
    // kept for the DuckDB check
    val reference = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    def keep(c: Call, rows: Array[Row], d: String): Call = {
      if (d == dir && c.ok && oracle.contains(c.name) && !reference.contains(c.name))
        reference(c.name) = rows -> lastDf.schema
      c
    }
    // the loader lands the warm drop; every other call runs on the timed
    // inputs, so that per-input staging (MemoFrames) is done before timing
    val warmT0 = System.nanoTime()
    val warm = spans.span("warm.unit") {
      for (unit <- 0 until nWarm; n <- units(unit)) yield {
        val d = if (n == Loader) warmDir else dir
        val (c, rows) = call(n, unit, warmT0, d)
        keep(c, rows, d)
      }
    }

    // let the JIT compiler drain the queue the warm units filled, so that
    // its threads do not compete with the timed calls for the cores
    spans.span("setup.jit_drain") {
      val deadline = System.nanoTime() + 10_000_000_000L
      var last = jitMs()
      var quiet = false
      while (!quiet && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val now = jitMs(); quiet = now - last < 20; last = now
      }
    }

    // ---- timed region ----
    val host0 = Host.sample()
    val cpu0 = processCpuNs(); val gc0 = gcMs(); val jit0 = jitMs()
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount; val cgt0 = CodeGenerator.compileTime
    sc.setLocalProperty(Tracer.PhaseKey, "timed")
    val timedStartMs = spans.nowMs
    val t0 = System.nanoTime()
    val timed = spans.span("timed") {
      for (unit <- nWarm until units.size; n <- units(unit)) yield {
        val (c, rows) = call(n, unit, t0, dir)
        keep(c, rows, dir)
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val timedEndMs = spans.nowMs
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3; val jitS = (jitMs() - jit0) / 1e3
    val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    val cgS = (CodeGenerator.compileTime - cgt0) / 1e9
    val host1 = Host.sample()
    sc.setLocalProperty(Tracer.PhaseKey, "post")
    val setupS = (timedStartMs - jvmStartMs) / 1e3
    val rssMb = Host.vmHwmKb() / 1024.0

    // landed parquet of the last loader call: the census scans exactly the sink
    val landedBytes =
      if (workload == "ingest" && lastLoader != null)
        lastLoader.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      else 0L

    // reference results for the DuckDB check, written outside the timed region
    reference.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n")
    }
    // SharedArtifacts.warm reports an artifact it failed to build as a
    // negative time; run.py counts those as failed checks
    var memoFailed = Seq.empty[String]
    val layers: Map[String, Double] = tracer.map { tr =>
      tr.drain()
      val base = tr.layers(timedStartMs, timedEndMs)
      val memo =
        if (workload == "analytics") {
          val (built, failed) =
            spans.span("memo.warm")(SharedArtifacts.warm(spark, dir)).partition(_._2 >= 0)
          memoFailed = failed.map(_._1)
          built.map { case (n, s) => s"memo.warm.${n}_s" -> s }.toMap +
            ("memo.warm_s" -> built.map(_._2).sum)
        } else Map.empty[String, Double]
      base ++ memo ++ Map(
        "tables.warm_s" -> tablesS,
        "operators.build_s" -> timed.map(_.buildS).sum,
        "operators.calls" -> timed.size.toDouble,
        "codegen.compiles" -> cgN.toDouble,
        "codegen.compile_s" -> cgS,
        "jvm.jit_s" -> jitS,
        "jvm.gc_s" -> gcS)
    }.getOrElse(Map.empty)

    val record = Map(
      "workload" -> workload, "dir" -> dir, "traced" -> traced,
      "setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "peak_rss_mb" -> rssMb, "tables_warm_s" -> tablesS, "units_timed" -> (units.size - nWarm),
      "landed_bytes" -> landedBytes,
      "host" -> Map("before" -> host0, "after" -> host1),
      "warm" -> warm.map(callJson), "calls" -> timed.map(callJson),
      "oracle" -> units.flatten.distinct.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "layers" -> layers, "memo_failed" -> memoFailed,
      "call_task_cpu_s" -> tracer.map(_.taskCpuByCall).getOrElse(Map.empty))
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(record))
    if (traced) {
      val all = spans.resolve()
      val selfS = SelfTime.byName(all.filter(s => s.startMs >= timedStartMs && s.endMs <= timedEndMs))
      Files.writeString(Paths.get(out, "trace.json"), json.writeValueAsString(Map(
        "timed_start_ms" -> timedStartMs, "timed_end_ms" -> timedEndMs,
        "self_s" -> selfS,
        "spans" -> all.sortBy(_.startMs).map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "call" -> s.call, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))))
    }
    spark.stop()
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def callJson(c: Call): Map[String, Any] = Map(
    "id" -> c.id, "name" -> c.name, "unit" -> c.unit, "start_s" -> c.startS, "dur_s" -> c.durS,
    "build_s" -> c.buildS, "action_s" -> c.actionS, "cpu_s" -> c.cpuS,
    "ok" -> c.ok, "hash" -> c.hash,
    "rows" -> c.rows, "err" -> c.err)

  private def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the engine's production session settings (graft.Bench)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // keep Spark's own files inside the benchmark's work directory
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-insensitive digest of a result: the sorted rows' text. */
  private def hashRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** Host-noise readings, so an outlier can be put down to the host. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)))) catch { case _: Throwable => None }

  private def stealTicks(): Option[Long] =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)

  /** steal ticks (/proc/stat), CPU pressure `some` total µs (PSI) and
    * the 1-minute load average, at one instant. */
  def sample(): Map[String, Any] = {
    val steal = stealTicks()
    val psi = read("/proc/pressure/cpu").flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split("\\s+").find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
    val load = read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble)
    Map("time_ms" -> System.currentTimeMillis(), "steal_ticks" -> steal,
      "cpu_some_us" -> psi, "loadavg1" -> load)
  }

  def vmHwmKb(): Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)).getOrElse(0.0)
}
