package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession recipe. Every main (Bench, Verify, Tool,
  * StressGen) and the test session build from here, so a production
  * setting is stated once and cannot drift between entry points.
  */
object GraftSession {

  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: the fixtures are small enough that
      // more partitions only add task-launch overhead
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the oracle renders timestamps and date arithmetic in UTC
      .config("spark.sql.session.timeZone", "UTC")
      // the AsofJoin, IntervalJoin and TopKPerKey planner strategies
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // harmless on µs-timestamp fixtures; required to read the older
      // fixture generation whose events.ts is INT64 nanoseconds
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // with the codegen-stage id in generated class names, a subplan
      // re-planned under shifted stage numbering misses the class cache:
      // 117 recompiled classes per ts_changepoint_deep call, 0 without it
      .config("spark.sql.codegen.useIdInClassName", "false")
      // the default 100-entry class cache cycles several times over the
      // ~690 distinct generated units of one suite run; 4096 holds them all
      // for tens of MB of driver heap
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // the class cache keys on (classloader, source), and each cloned
      // session (every streaming run) gets a fresh isolated classloader:
      // 10-20 recompiled classes per stream start with isolation, 0 without.
      // The engine registers no session artifacts, so isolation buys nothing
      .config("spark.sql.artifact.isolation.enabled", "false")
      // reliable checkpoints (dedup clusters, pagerank) delete their files
      // once the RDD is collected, so a long session does not fill tmpfs
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // no UI server: nothing reads it, and it costs a port and a listener
      .config("spark.ui.enabled", "false")
}
