package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark session startup
  * is ~5 s — per-suite sessions would dominate test time). The production
  * settings at a fixed local[4], whatever the host's core count, so the
  * plan fingerprints in plan_snapshot.json do not depend on the host. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      // static conf — needed by BucketingSpec's saveAsTable, kept out of
      // the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
}
