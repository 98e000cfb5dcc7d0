package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's report contract, driven through `Bench.warmUp` and `Bench.run`
  * on two declared queries and one that throws, at sf0.001. */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  private val real = Seq("agg_groupby", "join_anti")

  private lazy val (ranSteps, failedSteps, full, compact) = {
    val ran = Seq.newBuilder[String]
    val failed = Bench.warmUp(Seq(
      "first" -> (() => ran += "first"),
      "broken" -> (() => throw new IllegalStateException("warm-up step fails")),
      "last" -> (() => ran += "last")))
    val throwing: Bench.Query = (_: SparkSession, _: String) =>
      throw new IllegalStateException("query fails")
    val lines = Bench.run(spark, sf0001,
      real.map(n => n -> SparkEntry.queries(n)) :+ ("throws" -> throwing),
      Bench.Untimed(failed = failed), "bench/full.json")
    val json = new ObjectMapper()
    (ran.result(), failed, json.readTree(lines.full), lines.compact)
  }

  private def fields(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private val columns = Seq("queries", "jobs", "t0", "load", "cpu_stall", "io_stall",
    "mem_stall", "cpu_steal", "cpu", "wall_minus_cpu", "task_cpu", "task_run", "cpu_gc",
    "jit", "codegen_n", "spill_mem", "spill_disk", "reps")

  test("the full map has the driver-contract key set, one entry per query in every column") {
    assert(fields(full) == (columns ++ Seq("metric", "value", "unit", "load_max",
      "load_mean", "stall_total", "io_stall_total", "mem_stall_total", "steal_total",
      "cpu_total", "task_cpu_total", "gc_total", "jit_total", "spill_mem_total",
      "spill_disk_total", "jit_reruns", "warm_ledger_total", "warm_ledger_ratio",
      "warm_ledger_gate", "steal_ok", "steal_gate_wait", "jit_rerun_queries",
      "warm_artifacts", "warmup_failed", "errors", "n_queries", "sf")).toSet)
    columns.foreach(c => assert(fields(full.get(c)) == (real :+ "throws").toSet, c))
    assert(full.get("warm_artifacts").get("mode").asText == "warm")
    assert(full.get("n_queries").asInt == 3)
  }

  test("a throwing query reports \"err\", not a time, and counts as one error") {
    assert(full.get("queries").get("throws").asText == "err")
    assert(full.get("errors").asInt == 1)
    real.foreach(n => assert(full.get("queries").get(n).isNumber, n))
  }

  test("the query ledger attributes jobs and task CPU to each real query") {
    real.foreach { n =>
      assert(full.get("jobs").get(n).asLong > 0, n)
      assert(full.get("task_cpu").get(n).asDouble >= 0, n)
    }
    assert(full.get("jobs").get("throws").asLong == 0)
  }

  test("a failing warm-up step lands in warmup_failed and the later steps still run") {
    assert(ranSteps == Seq("first", "last"))
    assert(failedSteps == Seq("broken"))
    assert(full.get("warmup_failed").elements().asScala.map(_.asText).toSeq == Seq("broken"))
  }

  test("the compact stdout line is JSON of at most 1800 characters naming the full map") {
    assert(compact.length <= 1800)
    val c = new ObjectMapper().readTree(compact)
    assert(c.get("full_map").asText == "bench/full.json")
    assert(c.get("errors").asInt == 1)
    // headline queries this suite did not run show as absent, not missing
    assert(c.get("queries").get("tpch_q3").asText == "absent")
  }
}
