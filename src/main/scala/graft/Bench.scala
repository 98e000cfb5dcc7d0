package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benchmark main. Times every declared query and prints ONE JSON line.
  *
  * The driver records only the last 2000 characters of stdout, so the
  * complete per-query map goes to bench/BENCH_FULL_latest.json (or
  * SPARK_GRAFT_BENCH_OUT) and stdout ends with one compact line of at most
  * 1800 characters (room for sbt's epilogue): suite totals, the headline
  * and slowest queries, and the path of the full map.
  *
  * Queries run in sorted name order, each under its own job group. The
  * fixed order fixes which consumer of a memoized shared core pays for it;
  * the group lets QueryLedger attribute jobs, task CPU and spill to the
  * query. A failed query reports "err" (or "timeout"), never its time.
  *
  * Environment: SPARK_GRAFT_SF_DIR (fixture dir, default sf0.1),
  * SPARK_GRAFT_BENCH_OUT (full-map path), SPARK_GRAFT_QUERY_TIMEOUT_SEC
  * (per-query bound in seconds; 0, the default, means none),
  * SPARK_GRAFT_TIMEOUT_ALLOW (comma-separated queries exempt from the
  * bound) and GraftSession's SPARK_GRAFT_CPUS. */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  // BASELINE.md's headline queries, then the watch list of heavy iteratives
  private val headline = Seq(
    "agg_groupby", "join_shuffle", "join_multikey", "win_topk", "win_running",
    "join_anti", "agg_rollup", "agg_distinct", "stream_tumbling",
    "stream_session", "json_funcs", "llm_dedup_exact", "llm_cosine_knn",
    "set_intersect", "join_asof",
    "llm_bigram_lm", "dq_profile", "graph_pagerank", "llm_ngram_jaccard",
    "llm_dedup_clusters", "stream_incremental", "join_bucketed",
    "tpch_q3", "tpch_q5", "tpch_q10")

  // Timing starts once a 10 s window shows fewer than 20 steal ticks (about
  // 0.2 cores), after at most 600 s, so a stormy host still yields a run;
  // a run whose own steal reaches 20 s reports steal_ok=false.
  private val StealGateTicks = 20
  private val StealWaitMaxSec = 600
  private val StealAcceptSec = 20.0

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      Paths.get("bench/BENCH_FULL_latest.json").toAbsolutePath.toString)
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = warmUp(warmupSteps(spark, sfDir))
    val artifacts = operators.SharedArtifacts.warm(spark, sfDir)
    val lines = run(spark, sfDir, SparkEntry.queries.toSeq, Untimed(artifacts,
      failed ++ artifacts.collect { case (name, secs) if secs < 0 => name }, stealGate()), fullPath)
    // delete first, so a failed write cannot leave a stale map behind the
    // compact line's pointer
    val out = Paths.get(fullPath).toAbsolutePath
    try {
      Files.deleteIfExists(out)
      Files.write(Files.createDirectories(out.getParent).resolve(out.getFileName),
        (lines.full + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) => System.err.println(s"BENCH: could not write $out: ${e.getMessage}") }
    System.err.println(lines.full)
    println(lines.compact)
    spark.stop()
  }

  /** Runs each step in order. A step that throws is logged and named in
    * the result, and the next step still runs. */
  def warmUp(steps: Seq[(String, () => Any)]): Seq[String] = steps.flatMap { case (name, step) =>
    val t0 = System.nanoTime()
    Try(step()) match {
      case Success(_) => System.err.println(f"BENCH WARMUP $name%-10s ${secsSince(t0)}%.3f s"); None
      case Failure(e) =>
        System.err.println(s"BENCH WARMUP $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        Some(name)
    }
  }

  /** The untimed warm-up: each step moves a one-off cost off whichever timed
    * query would touch it first. All but the table scans run on synthetic
    * rows, so they warm the process and precompute no fixture work. */
  private def warmupSteps(spark: SparkSession, sfDir: String): Seq[(String, () => Any)] = Seq(
    "session" -> (() => spark.range(1000000).selectExpr("sum(id)").collect()),
    // janino class loading and the JIT of codegen itself, on the shapes of
    // a big whole-stage tree: higher-order functions, a broadcast join, a
    // window. bit_xor, unlike sum, cannot overflow on 64-bit hashes under ANSI
    "codegen" -> (() => {
      val t = spark.range(1000)
        .select(col("id"), concat_ws(" ", lit("a"), col("id"), lit("b c d")).as("s"))
      t.select(col("id"), explode(transform(
          sequence(lit(1), size(split(col("s"), " ")) - 1),
          i => xxhash64(element_at(split(col("s"), " "), i)))).as("h"))
        .groupBy("h").count()
        .join(broadcast(t.groupBy(col("id") % 7).count()), Seq("count"), "left")
        .agg(bit_xor(col("h"))).collect()
      t.select(sum(col("id")).over(Window.partitionBy(col("id") % 16).orderBy(col("id"))).as("r"))
        .agg(max("r")).collect()
    }),
    "codecs" -> (() => codecs(spark)),
    // the window machinery hist_eqdepth drives: a partitioned running
    // window, an unpartitioned bounded one, a 9-arm min(when) tree and a
    // broadcast-scalar bucket reduce
    "window" -> (() => untilJitQuiet("window", minReps = 2, maxReps = 6, quietMs = 1500) {
      val vals = spark.range(200000)
        .select((col("id") % 9973 * 37 % 4999).cast("double").as("v"))
      val vc = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("bin", floor(col("v") / 500.0).cast("long"))
      val wBin = Window.partitionBy("bin").orderBy(col("v").asc).rowsBetween(Long.MinValue, 0)
      val wOff = Window.orderBy(col("bin").asc).rowsBetween(Long.MinValue, -1)
      val offs = vc.groupBy("bin").agg(sum("cnt").as("btot"))
        .withColumn("off", coalesce(sum("btot").over(wOff), lit(0L)))
      val cum = vc.withColumn("wb", sum("cnt").over(wBin))
        .join(offs.hint("merge"), "bin")
        .withColumn("cum", col("off") + col("wb"))
      val cutCols = (1 to 9).map(k =>
        min(when(col("cum") / 200000.0 >= k / 10.0, col("v"))).as(s"c$k"))
      val cuts = cum.agg(cutCols.head, cutCols.tail: _*)
      val bucket = (1 to 9).map(k => (col("v") > col(s"c$k")).cast("int")).reduce(_ + _)
      vals.crossJoin(broadcast(cuts)).withColumn("bucket", bucket)
        .groupBy("bucket").agg(count(lit(1)), min("v"), max("v")).collect()
    }),
    // breeze eigSym's first call loads the LAPACK backend: native
    // initialisation, which the JIT gate cannot see
    "eigsym" -> (() => {
      val m = breeze.linalg.DenseMatrix.tabulate(8, 8)((i, j) => 1.0 / (1 + i + j))
      breeze.linalg.eigSym((m + m.t) *:* 0.5)
    })
  ) ++ Tables.names.map(t => t -> (() => {
    // pulls every page through the OS cache and fills Tables' schema cache;
    // bit_xor, unlike sum, cannot overflow under ANSI mode
    val df = Tables.byName(spark, sfDir, t)
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .selectExpr("bit_xor(h)").collect()
  }))

  /** The univocity CSV and Jackson JSON codecs and the text reader, on
    * synthetic rows written under a per-JVM dir (two live benches must not
    * share files), deleted even when a rep throws. */
  private def codecs(spark: SparkSession): Unit = {
    val path = operators.ScratchDirs.tempDir("graft_codec_warm_")
    try {
      val synth = spark.range(20000).select(col("id").as("okey"),
        (col("id") % 7).cast("int").as("line"),
        concat(lit("F"), col("id") % 3).as("flag"),
        round(col("id") % 50 + 0.25, 2).as("qty"),
        round(col("id") % 900 + 0.5, 2).as("price"),
        date_format(timestamp_seconds(col("id") % 100000000), "yyyy-MM-dd HH:mm:ss").as("ship"))
      untilJitQuiet("csv", minReps = 4, maxReps = 14, quietMs = 800) {
        synth.repartition(8).write.mode("overwrite").option("header", "true").csv(s"$path/csv")
        spark.read.schema(synth.schema).option("header", "true").csv(s"$path/csv")
          .groupBy("flag").agg(count(lit(1)), sum("qty"), min("ship")).collect()
      }
      for (_ <- 1 to 3) {
        synth.repartition(8).write.mode("overwrite").json(s"$path/json")
        spark.read.schema(synth.schema).json(s"$path/json")
          .groupBy("flag").agg(count(lit(1)), sum("price")).collect()
      }
      synth.select(concat_ws(" ", col("okey"), col("line"), col("flag")).as("value"))
        .write.mode("overwrite").text(s"$path/txt")
      spark.read.text(s"$path/txt")
        .select(regexp_extract(col("value"), "^(\\S+) (\\S+) (\\S+)$", 1).cast("long").as("k"))
        .agg(sum("k")).collect()
    } finally operators.ScratchDirs.deleteRecursively(path)
  }

  /** Repeats `body` at least `minReps` and at most `maxReps` times, until a
    * rep adds under `quietMs` of JIT compiler time. One pass reaches C1
    * only; a C2 backlog left here would bleed into the first timed query. */
  private def untilJitQuiet(label: String, minReps: Int, maxReps: Int, quietMs: Long)(
      body: => Unit): Unit = {
    var rep = 0
    var delta = Long.MaxValue
    while (rep < maxReps && (rep < minReps || delta > quietMs)) {
      rep += 1
      val t0 = System.nanoTime()
      val j0 = HostSample.jit()
      body
      delta = math.round((HostSample.jit() - j0) * 1e3)
      System.err.println(f"BENCH WARMUP $label rep$rep ${secsSince(t0)}%.3f s (jit +$delta ms)")
    }
  }

  /** Waits for a calm steal window; returns the seconds waited. */
  private def stealGate(): Double = {
    val w0 = System.nanoTime()
    var calm = HostSample.stealTicks() < 0
    while (!calm && secsSince(w0) < StealWaitMaxSec) {
      val s0 = HostSample.stealTicks()
      Thread.sleep(10000)
      val d = (HostSample.stealTicks() - s0).toLong
      calm = d < StealGateTicks
      if (!calm) System.err.println(s"BENCH STEALGATE storm: $d steal ticks/10 s (gate $StealGateTicks)")
    }
    secsSince(w0)
  }

  /** What the untimed region leaves on the record: the warm-artifact ledger
    * (seconds per artifact, −1 for a failed build), the names of the failed
    * warm-up steps and artifacts, and the seconds the steal gate waited. */
  final case class Untimed(artifacts: Seq[(String, Double)] = Nil,
      failed: Seq[String] = Nil, stealWaitSecs: Double = 0.0)

  final case class Lines(full: String, compact: String)

  private final case class QRes(name: String, r: Either[String, Double], t0: Double,
      d: HostSample, group: String, reps: Int)

  /** One per-query column of the full map. `total` names its suite total
    * (the sum of its non-negative values), if it has one; `whole` columns
    * render as integers. */
  private final case class Col(key: String, v: QRes => Double, total: String = "",
      whole: Boolean = false)

  /** Times `queries` in name order and renders the full map and the
    * compact line. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      untimed: Untimed = Untimed(), fullPath: String = ""): Lines = {
    val timeoutSec = sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_SEC").fold(0L)(_.trim.toLong)
    val timeoutAllow = sys.env.getOrElse("SPARK_GRAFT_TIMEOUT_ALLOW", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val ledger = new QueryLedger
    spark.sparkContext.addSparkListener(ledger)
    val benchT0 = System.nanoTime()

    def runOnce(name: String, fn: Query, group: String, rep: Int): QRes = {
      val bounded = timeoutSec > 0 && !timeoutAllow(name)
      // task interrupts only where a watchdog may cancel
      spark.sparkContext.setJobGroup(group, name, bounded)
      val cancel: Option[ScheduledFuture[_]] = Option.when(bounded)(watchdog.schedule((() => {
        System.err.println(s"BENCH TIMEOUT $name exceeded ${timeoutSec}s — cancelling job group")
        spark.sparkContext.cancelJobGroup(group)
      }): Runnable, timeoutSec, TimeUnit.SECONDS))
      val s0 = HostSample.now()
      val t0 = System.nanoTime()
      val r = try {
        fn(spark, sfDir).count()
        Right(secsSince(t0))
      } catch { case NonFatal(e) =>
        System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        // the watchdog cancels at the deadline, so a failure past it is the timeout
        Left(if (bounded && secsSince(t0) >= timeoutSec) "timeout" else "err")
      } finally {
        cancel.foreach(_.cancel(false))
        spark.sparkContext.clearJobGroup()
      }
      QRes(name, r, (t0 - benchT0) / 1e9, s0.delta(HostSample.now()), group, rep)
    }

    // JIT gate: a rep that carried over 1 s of compiler time, or that
    // compiled new codegen classes while compiler time passed both 250 ms
    // and a quarter of its wall, ran not-yet-optimised code. It runs once
    // more in its own job group and the second run is reported (reps=2; a
    // failed re-run reports the first, still reps=2). Code still compiling
    // on the second run compiles per call, and that cost is the query's own.
    def jitSuspect(q: QRes): Boolean = q.r.exists { wall =>
      val jitMs = math.round(q.d.jit * 1e3)
      jitMs > 1000 || (q.d.codegen > 0 && jitMs > 250 && jitMs / 1e3 > 0.25 * wall)
    }
    val results = try queries.sortBy(_._1).map { case (name, fn) =>
      val r1 = runOnce(name, fn, s"q:$name", 1)
      if (!jitSuspect(r1)) r1
      else {
        System.err.println(f"BENCH JITGATE $name rep1 ${r1.r.toOption.get}%.3f s carried " +
          f"${r1.d.jit}%.2f s compiler time (codegen_n ${r1.d.codegen.toLong}) — re-running warm")
        val r2 = runOnce(name, fn, s"q:$name!2", 2)
        if (r2.r.isRight) r2 else r1.copy(reps = 2)
      }
    } finally watchdog.shutdownNow()
    // every action has returned; let the listener bus deliver their events
    Thread.sleep(1500)
    spark.sparkContext.removeSparkListener(ledger)

    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def str(s: String): String = "\"" + s + "\""
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val cols = Seq(
      Col("jobs", q => ledger(q.group).jobs.sum.toDouble, whole = true),
      Col("t0", _.t0),
      Col("load", _.d.load),
      Col("cpu_stall", _.d.cpuStall, "stall_total"),
      Col("io_stall", _.d.ioStall, "io_stall_total"),
      Col("mem_stall", _.d.memStall, "mem_stall_total"),
      Col("cpu_steal", _.d.steal, "steal_total"),
      Col("cpu", _.d.cpu, "cpu_total"),
      // negative: compute-parallel; large positive: the process was descheduled
      Col("wall_minus_cpu", q => q.r.toOption.filter(_ => q.d.cpu >= 0).fold(-1.0)(_ - q.d.cpu)),
      Col("task_cpu", q => ledger(q.group).taskCpuNs.sum / 1e9, "task_cpu_total"),
      Col("task_run", q => ledger(q.group).taskRunMs.sum / 1e3),
      Col("cpu_gc", _.d.gc, "gc_total"),
      Col("jit", _.d.jit, "jit_total"),
      Col("codegen_n", _.d.codegen, whole = true),
      Col("spill_mem", q => ledger(q.group).spillMemBytes.sum.toDouble, "spill_mem_total", whole = true),
      Col("spill_disk", q => ledger(q.group).spillDiskBytes.sum.toDouble, "spill_disk_total", whole = true),
      Col("reps", _.reps.toDouble, whole = true))
    def num(c: Col, v: Double): String = if (c.whole) v.toLong.toString else fmt(v)

    val byName = results.map(q => q.name -> q.r).toMap
    def entry(name: String): (String, String) =
      name -> byName.get(name).fold(str("absent"))(_.fold(str, fmt))
    val total = results.flatMap(_.r.toOption).sum
    val loads = results.map(_.d.load).filter(_ >= 0)
    val steal = results.map(_.d.steal).filter(_ >= 0).sum
    val ledgerTotal = untimed.artifacts.map(_._2).filter(_ >= 0).sum
    val ledgerRatio = if (total > 0) ledgerTotal / total else -1.0
    // The ledger's share of the timed total grows with scale as rows^0.18
    // (0.165 at sf0.1, 0.248 at 10×), so the 20 % gate scales by (lineitem
    // rows / 600k, the sf0.1 count)^0.18: it fires on a new unpriced
    // artifact, not on scale
    val rows = try Tables.byName(spark, sfDir, "lineitem").count().toDouble
      catch { case NonFatal(_) => 0.0 }
    val ledgerGate = 0.20 * math.pow(math.max(1.0, rows / 600000.0), 0.18)
    if (ledgerRatio > ledgerGate)
      System.err.println(f"BENCH WARN warm-artifact ledger $ledgerTotal%.1f s is " +
        f"${ledgerRatio * 100}%.1f%% of the timed total (gate ${ledgerGate * 100}%.1f%%) " +
        "— rebalance or re-justify")
    val summary = Seq(
      "load_max" -> fmt(if (loads.isEmpty) -1 else loads.max),
      "load_mean" -> fmt(if (loads.isEmpty) -1 else loads.sum / loads.size)) ++
      cols.filter(_.total.nonEmpty).map(c => c.total -> num(c, results.map(c.v).filter(_ >= 0).sum)) ++
      Seq("jit_reruns" -> results.count(_.reps > 1).toString,
        "warm_ledger_total" -> fmt(ledgerTotal),
        "warm_ledger_ratio" -> fmt(ledgerRatio),
        "warm_ledger_gate" -> fmt(ledgerGate),
        "steal_ok" -> (steal < StealAcceptSec).toString,
        "steal_gate_wait" -> fmt(untimed.stealWaitSecs))
    val head = Seq("metric" -> str("total"), "value" -> fmt(total), "unit" -> str("sec"))
    val tail = Seq("errors" -> results.count(_.r.isLeft).toString,
      "n_queries" -> results.size.toString, "sf" -> str(sfDir))
    val full = obj(head ++
      (("queries" -> obj(results.map(q => entry(q.name)))) +:
        cols.map(c => c.key -> obj(results.map(q => q.name -> num(c, c.v(q)))))) ++
      summary ++ Seq(
        // the re-run names go in the full map only: they would crowd the compact line
        "jit_rerun_queries" -> results.filter(_.reps > 1).map(q => str(q.name)).mkString("[", ",", "]"),
        "warm_artifacts" -> obj(Seq("mode" -> str("warm"),
          "secs" -> obj(untimed.artifacts.map { case (n, s) => n -> fmt(s) }))),
        "warmup_failed" -> untimed.failed.map(str).mkString("[", ",", "]")) ++ tail)

    // a renamed headline query shows as "absent" rather than vanishing
    val slowest = results.flatMap(q => q.r.toOption.map(q.name -> _)).sortBy(-_._2).take(8).map(_._1)
    val keys = (headline ++ slowest).distinct
    def compact(n: Int) = obj(head ++ Seq("queries" -> obj(keys.take(n).map(entry))) ++
      summary ++ tail :+ ("full_map" -> str(fullPath)))
    Lines(full, (keys.size to 0 by -1).iterator.map(compact).find(_.length <= 1800)
      .getOrElse(compact(0)))
  }
}
