package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** JDBC sink — the warehouse-loader capability (aggregate → INSERT into an
  * external SQL store via `df.write.format("jdbc")`). It runs against an
  * EMBEDDED Derby database, which ships on Spark's classpath for the Hive
  * metastore and stands in for ClickHouse, and the round-trip is
  * oracle-checked end to end:
  * aggregate orders → JDBC overwrite-write → JDBC read-back.
  *
  * Production (ClickHouse) deployment notes — same code, different URL +
  * options; these are the knobs that matter at load scale:
  *   - `.option("url", "jdbc:clickhouse://host:8123/db")` with the
  *     ClickHouse JDBC driver on the executor classpath;
  *   - `.option("batchsize", 10000)` (or higher) — ClickHouse wants FEW
  *     LARGE inserts; per-row INSERT is pathological;
  *   - `.option("isolationLevel", "NONE")` — ClickHouse has no
  *     transactions; skipping the per-batch commit handshake matters;
  *   - `.option("numPartitions", N)` caps concurrent connections (each
  *     write task opens one); coalesce the frame to N first;
  *   - `.option("createTableOptions", "ENGINE = MergeTree ORDER BY k")`
  *     so an overwrite-create lands on the right table engine;
  *   - MySQL-protocol targets additionally want
  *     `rewriteBatchedStatements=true` in the URL to turn the JDBC batch
  *     into one multi-row INSERT.
  *
  * Scale shape: the aggregate reduces upstream (partial aggs, one
  * shuffle); the write moves only the aggregated frame — one connection
  * per partition, batched inserts. The sink is the narrow end of the
  * funnel by design: never JDBC-write a fact table, land it as parquet
  * and load from object storage instead.
  */
object JdbcSink {

  /** One embedded-Derby database per JVM, in the shared io root:
    * concurrent JVMs (sbt test vs Verify) must not fight over Derby's
    * single-JVM boot lock, while repeated calls in one session reuse the
    * database via overwrite. A crashed JVM's database is reaped by
    * ScratchDirs' rule once its `dbex.lck` is free and the dir is stale. */
  private lazy val dbPath: String = {
    val root = ScratchDirs.ioRoot
    // derby.log lands in derby.system.home instead of the repo cwd
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", root.getPath)
    val p = s"$root/derby_${java.util.UUID.randomUUID().toString.take(8)}"
    // this JVM's database dir must not outlive it; shut Derby down first
    // so the store is quiescent
    sys.addShutdownHook {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$p;shutdown=true")
      catch { case _: java.sql.SQLException => () } // XJ015/08006 = clean shutdown
      ScratchDirs.deleteRecursively(new java.io.File(p))
    }
    p
  }

  /** This JVM's embedded-Derby connection URL, shared with the streaming
    * warehouse sink (`stream_jdbc_sink`): one database per
    * JVM, separate tables per operator. Refreshes the database dir's
    * liveness beacon on every use (a no-op before Derby first creates
    * the dir). */
  private[graft] def jdbcUrl: String = {
    ScratchDirs.touch(new java.io.File(dbPath))
    s"jdbc:derby:$dbPath;create=true"
  }

  /** Reader/writer options for `table` in this JVM's Derby database. */
  private def derby(table: String): Map[String, String] = Map("url" -> jdbcUrl,
    "driver" -> "org.apache.derby.jdbc.EmbeddedDriver", "dbtable" -> table)

  /** `table` read back through the JDBC source. */
  private[graft] def read(spark: SparkSession, table: String): DataFrame =
    spark.read.format("jdbc").options(derby(table)).load()

  def jdbcSink(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("rev"))
    agg.coalesce(1) // 5-row dim load: one connection, one batch
      .write.format("jdbc")
      .mode(SaveMode.Overwrite)
      .options(derby("load_summary"))
      .option("batchsize", "1000")
      // Derby's dialect maps StringType to CLOB; pin a comparable type
      .option("createTableColumnTypes", "o_orderpriority VARCHAR(20)")
      .save()
    read(spark, "load_summary")
      .select(col("o_orderpriority"), col("n"), col("rev"))
      .orderBy(col("o_orderpriority").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jdbc_sink" -> (jdbcSink _))

  /** The oracle sees only what went THROUGH the database: if the JDBC
    * round-trip dropped rows or mangled types, the hash check fails. */
  val oracleSql: Map[String, String] = Map(
    "jdbc_sink" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin)
}
