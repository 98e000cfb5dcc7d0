package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables

/** SURVEY.md §2.I — streaming semantics, declared in batch form over
  * `events` (the driver's t2/bench harness is batch); the SAME logic runs
  * incrementally under Structured Streaming in the unit suite
  * (StreamingEquivalenceSpec) with MemoryStream + watermarks, which is the
  * batch/stream unification story: `window()`/`session_window`/
  * `dropDuplicates` are identical calls in both modes.
  *
  * Scale notes: tumbling/sliding windows are hash aggregations keyed by
  * (window, type) — partial agg then one shuffle of per-window partials;
  * sessionization partitions by user_id (high cardinality ⇒ even spread)
  * and is sort-based within user. At 100 TB the streaming forms carry the
  * same plans plus state-store bookkeeping.
  */
object Streaming {

  /** 1-hour tumbling window: count + sum per (window, event_type). */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("event_type"), col("n"), col("val"))
      .orderBy(col("wstart").asc, col("event_type").asc)

  /** 1-hour window sliding every 15 min — each event lands in 4 windows. */
  def streamSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"))
      .select(col("window.start").as("wstart"), col("n"), col("val"))
      .orderBy(col("wstart").asc)

  /** 30-minute-gap sessions per user (gaps-and-islands): session count,
    * size, value sum, span. Batch form of `session_window(ts, '30 minutes')`
    * (the streaming call is exercised in the unit suite). */
  def streamSession(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(byUser)))
      // >=: session_window(ts, '30 minutes') is end-EXCLUSIVE — an event
      // exactly 30 min after the previous one starts a new session there,
      // so the gaps-and-islands form must agree at the boundary
      .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") >= 1800L * 1000000, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_s").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"),
        min("ts").as("s_start"), max("ts").as("s_end"))
      .orderBy(col("user_id").asc, col("session_id").asc)
  }

  /** Windowed arg-max — per 1-hour window and type,
    * WHICH event carried the peak value (the alerting question "what
    * spiked", where stream_tumbling only answers "how much"). Declared
    * batch like the rest of §2.I; the same `max(struct(value, id))`
    * aggregate runs incrementally under a watermark in the unit suite
    * (StreamingEquivalenceSpec) — struct-max is partial-merge-safe, so
    * the streaming state per (window, type) is one struct, not the
    * events. Tie on value resolves to the larger event_id through the
    * struct's lexicographic order (§2.Z.6); value is a STORED double
    * (never computed), so its cross-engine ordering is exact. */
  def streamArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("value"), col("event_id"))).as("best"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"),
        round(col("best.value"), 2).as("peak_value"),
        col("best.event_id").as("peak_event"))
      .orderBy(col("wstart").asc, col("event_type").asc)

  /** Windowed top-k: per 1-hour window and type, the
    * THREE highest-value events — stream_argmax generalized from k=1 to
    * a bounded ranking. Declared batch through the NATIVE TopKPerKey
    * two-phase heap exec (win_topk_native's operator): map-side heaps cap
    * every task's shuffle contribution at k rows per local key, where the
    * window-rank formulation must shuffle and sort every event — and the
    * ≤k bounded buffer IS the streaming-state story (the same per-group
    * cap streaming/StreamTopK.scala's Aggregator maintains incrementally;
    * incremental ≡ batch pinned in StreamingEquivalenceSpec). The
    * composite (window, type) key travels as xxhash64 — the llm_source_cap
    * move; a 2⁻⁶⁴ collision merges two windows' heaps, dwarfed by
    * hardware error rates. value is a STORED double (cross-engine
    * ordering exact); ties resolve by lower event_id. */
  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("wstart"), col("event_type"),
        col("event_id"), col("value"))
      .withColumn("hk", xxhash64(col("wstart"), col("event_type")))
    graft.plans.TopKPerKey.topK(base,
        key = "hk", ord = "value", tie = "event_id", k = 3)
      .select(col("wstart"), col("event_type"), col("event_id"),
        round(col("value"), 2).as("value"))
      .orderBy(col("wstart").asc, col("event_type").asc,
        col("value").desc, col("event_id").asc)
  }

  /** Exactly-once dedup: duplicates manufactured by a self-unionAll, then
    * dropDuplicates on the event key (streaming form:
    * dropDuplicatesWithinWatermark — unit suite). Aggregated so the result
    * proves the dup rows vanished. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.unionAll(ev.filter(col("event_id") % 10 === 0)) // re-deliver 10%
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"))
      .orderBy(col("event_type").asc)
  }

  /** Watermark policy, batch analog: watermark = global max(ts) − 10 min;
    * events older than it count as dropped, per hour. (True arrival-time
    * watermarking is exercised in the streaming unit suite.) */
  def streamLateData(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wm = ev.agg((max(unix_micros(col("ts"))) - 600L * 1000000).as("wm_us"))
    ev.crossJoin(broadcast(wm))
      .withColumn("status",
        when(unix_micros(col("ts")) < col("wm_us"), "dropped").otherwise("kept"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("hour").asc, col("status").asc)
  }

  /** The day-partitioned staged drop the loader's trigger calls discover,
    * memoized per (session, fixture): the files are the pipeline's input,
    * which in production already exists when the trigger fires, so every
    * timed call measures only the streaming machinery. Returns (path,
    * schema): the writer's own schema lets every readStream plan without a
    * footer-inference job. */
  private[graft] def incrStage(spark: SparkSession, dir: String): (String, StructType) = {
    val staged = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // one file per day dir, so the streaming source lists and opens one
    // file per day, not a fragment from every write task
    val p = MemoFrames.stagedPath(spark, s"stream_incr_drop:$dir")(
      SourcesSinks.landPartitioned(staged, "day", _))
    (p, staged.schema)
  }

  /** The (day, event_type) census every loader trigger call answers: rows
    * and the 2dp value sum per day and type. */
  private def census(df: DataFrame): DataFrame =
    df.groupBy(col("day").cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))

  /** The staged drop's census columns, streamed back ~16 day files per
    * micro-batch, so one AvailableNow life commits several batches. */
  private def dropRows(spark: SparkSession, src: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "16").parquet(src)
      .select(col("day").cast("string").as("day"), col("event_type"), col("value"))

  /** Run `body` on a fresh per-call staging dir under the JVM's io root,
    * deleted however the body ends (JVM exit or the reap rule collects a
    * crashed run's). */
  private def withStaging[T](prefix: String)(body: java.io.File => T): T = {
    val tmp = ScratchDirs.tempDir(prefix)
    try body(tmp) finally ScratchDirs.deleteRecursively(tmp)
  }

  private def queryName(prefix: String, tmp: java.io.File): String =
    prefix + tmp.getName.replaceAll("[^A-Za-z0-9_]", "")

  /** Start `w` under `Trigger.AvailableNow` with `conf` set on the session
    * only around `start()`, await it to the end and stop it. Session conf
    * is copied at `start()`: the stream clones the session and plans every
    * micro-batch from the clone, so the await runs outside the conf scope
    * and outside the MemoFrames monitor. A timeout is an error, never a
    * partial census. */
  private[graft] def runToEnd(spark: SparkSession, w: DataStreamWriter[_],
      what: String, conf: (String, String)*): Unit = {
    val q = MemoFrames.withConf(spark, conf: _*)(w.trigger(Trigger.AvailableNow()).start())
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          s"$what did not terminate within 300 s — refusing to emit a partial census")
    } finally q.stop()
  }

  /** Shuffle-partition conf for a stateful stream over the drop at `src`.
    * The count fixes the checkpoint's state-store layout and every
    * micro-batch opens and commits each store, so it derives from the
    * drop's bytes (MemoFrames.scaleParts), not the session's core count;
    * every life over the same drop derives the same count. */
  private def stateConf(spark: SparkSession, src: String, schema: StructType)
      : Seq[(String, String)] =
    MemoFrames.shufflePartitionsConf(
      MemoFrames.scaleParts(spark, spark.read.schema(schema).parquet(src), 1.0))

  /** One AvailableNow life of the loader's census stream over `src`: a
    * complete-mode memory sink `qname` checkpointed at `ckpt`, its state
    * laid out for the staged drop at `staged`. */
  private def censusLife(spark: SparkSession, staged: String, schema: StructType,
      src: String, qname: String, ckpt: String, what: String): Unit =
    runToEnd(spark,
      census(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt).outputMode("complete"),
      what, stateConf(spark, staged, schema): _*)

  /** Incremental file-source load, the reference's serverless trigger loop
    * as a declared query: a Structured Streaming file source discovers the
    * staged daily drops under `Trigger.AvailableNow` (checkpointed, so a
    * re-run would process only new days) and its census must equal the
    * batch answer, which the DuckDB oracle checks. This is one
    * `stream_recovery` life over the whole drop, on a per-call checkpoint. */
  def streamIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema) = incrStage(spark, dir)
    val qname = withStaging("graft_incr_") { tmp =>
      val qname = queryName("inc_", tmp)
      censusLife(spark, src, schema, src, qname, s"$tmp/ckpt", "stream_incremental")
      qname
    }
    spark.table(qname).orderBy(col("day").asc, col("event_type").asc)
  }

  /** Checkpoint recovery as a declared query: the loader's real failure
    * mode is a restart mid-backlog, and the second life of the query must
    * resume from the checkpoint, replaying no committed file and restoring
    * the aggregation state, so its census still equals the batch answer
    * over everything. Life 1 sees the first half of the staged days
    * (hardlinked into a per-call source dir: the staged files are
    * immutable), runs to completion and stops; the rest are linked in and
    * a new query instance starts on the same checkpoint. Complete-mode
    * memory sink is the one sink Spark sanctions for checkpoint restart. */
  def streamRecovery(spark: SparkSession, dir: String): DataFrame = {
    val (staged, schema) = incrStage(spark, dir)
    val dayDirs = Option(new java.io.File(staged).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .sortBy(_.getName)
    // a degenerate 1-day corpus collapses to a single life
    val split = math.max(1, dayDirs.length / 2)
    val qname = withStaging("graft_recov_") { tmp =>
      val src = new java.io.File(tmp, "src")
      src.mkdirs()
      val qname = queryName("rec_", tmp)
      def linkIn(days: Array[java.io.File]): Unit = days.foreach { d =>
        val destDay = new java.io.File(src, d.getName)
        destDay.mkdirs()
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .foreach { f =>
            val dest = new java.io.File(destDay, f.getName).toPath
            try { java.nio.file.Files.createLink(dest, f.toPath); () }
            catch { case _: java.io.IOException | _: UnsupportedOperationException =>
              java.nio.file.Files.copy(f.toPath, dest); () }
          }
      }
      def life(days: Array[java.io.File]): Unit = {
        linkIn(days)
        censusLife(spark, staged, schema, src.toString, qname, s"$tmp/ckpt",
          "stream_recovery life")
      }
      life(dayDirs.take(split))
      // restarting with no new files would register a fresh, empty memory
      // sink under the view name that no batch refills, so a corpus without
      // a second half keeps life 1's complete census
      val rest = dayDirs.drop(split)
      if (rest.nonEmpty) life(rest)
      qname
    }
    spark.table(qname).orderBy(col("day").asc, col("event_type").asc)
  }

  /** Exactly-once file sink as a declared query. A loader lands parquet
    * files, and its exactly-once story is the FileStreamSink manifest:
    * committed batches are recorded in `_spark_metadata`, and a
    * manifest-aware `spark.read.parquet` of the output dir sees each
    * committed batch exactly once, never uncommitted task output from a
    * failed batch (StreamFileSinkSpec kills a query mid-sequence to prove
    * it). The staged drop streams into a parquet sink over several
    * micro-batches, and the result is the census of the manifest
    * read-back, which the oracle checks against the batch answer. */
  def streamFileSink(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema) = incrStage(spark, dir)
    // collected before the staging dir goes: this result reads the sink's
    // files, so it must not stay lazy over them. The census is bounded by
    // days × types, so the collect is driver-scale.
    val (rows, censusSchema) = withStaging("graft_fsink_") { tmp =>
      val out = s"$tmp/out"
      runToEnd(spark,
        dropRows(spark, src, schema).writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append"),
        "stream_file_sink")
      val c = census(spark.read.parquet(out))
      (c.collect().toSeq, c.schema)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, censusSchema)
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** Streaming → warehouse exactly-once as a declared query: every
    * micro-batch lands in an external SQL store (embedded Derby standing in
    * for the reference's ClickHouse). A JDBC store has no manifest, and
    * foreachBatch is at-least-once (after a crash the same batch id is
    * re-offered from the checkpoint), so each batch lands as one
    * delete-and-insert transaction keyed on its batch id: a replayed batch
    * replaces its own earlier rows, which makes the sink exactly-once end
    * to end (StreamJdbcSinkSpec kills a query mid-backlog to prove it).
    * Each batch aggregates to the (day, type) grain inside foreachBatch,
    * so only the domain-bounded census crosses to the driver; the result
    * re-reads the table and merges the per-batch partials, rounding once.
    * With a transactionless target the same pattern keys the DELETE on
    * batch_id against a ReplacingMergeTree, or swaps in a staging table. */
  def streamJdbcSink(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema) = incrStage(spark, dir)
    val url = JdbcSink.jdbcUrl
    val table = "stream_load"
    resetLoadTable(url, table) // each invocation is its own load
    withStaging("graft_jsink_") { tmp =>
      runToEnd(spark,
        dropRows(spark, src, schema).writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            landBatch(url, table, batchId,
              batch.groupBy("day", "event_type")
                .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
                .collect())
          },
        "stream_jdbc_sink")
    }
    JdbcSink.read(spark, table)
      .groupBy(col("day"), col("event_type"))
      .agg(sum("n").as("n"), round(sum("s"), 2).as("val"))
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** Create the warehouse load table if absent, then empty it, on one
    * connection. Derby has no IF NOT EXISTS (SQLState X0Y32 = already
    * there). Quoted lower-case column names make the Spark JDBC read-back
    * report the schema the census expects. */
  private[graft] def resetLoadTable(url: String, table: String): Unit =
    scala.util.Using.resource(java.sql.DriverManager.getConnection(url)) { conn =>
      scala.util.Using.resource(conn.createStatement()) { st =>
        try st.executeUpdate(
          s"""CREATE TABLE $table ("batch_id" BIGINT, "day" VARCHAR(10),
             | "event_type" VARCHAR(32), "n" BIGINT, "s" DOUBLE)""".stripMargin)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => 0 }
        st.executeUpdate(s"DELETE FROM $table"); ()
      }
    }

  /** Idempotent per-batch landing: DELETE this batch id's rows, INSERT
    * the fresh census, commit — ONE transaction, so a replayed batch
    * (foreachBatch's at-least-once re-offer after recovery) replaces its
    * own previous rows instead of double-counting, and a crash between
    * the delete and the commit rolls back to the pre-landing state. */
  private[graft] def landBatch(url: String, table: String, batchId: Long,
      rows: Array[org.apache.spark.sql.Row]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
      try { del.setLong(1, batchId); del.executeUpdate(); () } finally del.close()
      val ins = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
      try {
        rows.foreach { r =>
          ins.setLong(1, batchId)
          ins.setString(2, r.getString(0))
          ins.setString(3, r.getString(1))
          ins.setLong(4, r.getLong(2))
          ins.setDouble(5, r.getDouble(3))
          ins.addBatch()
        }
        ins.executeBatch(); ()
      } finally ins.close()
      conn.commit()
    } catch {
      case t: Throwable => try conn.rollback() catch { case _: Throwable => () }; throw t
    } finally conn.close()
  }

  /** The duplicated event drop the watermark-dedup stream replays,
    * memoized per (session, fixture) like `incrStage`. */
  private[graft] def ddwStage(spark: SparkSession, dir: String): (String, StructType) = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val staged = ev.unionAll(ev.filter(col("event_id") % 10 === 0)) // re-deliver 10%
    val p = MemoFrames.stagedPath(spark, s"stream_ddw_drop:$dir") { path =>
      staged.write.mode("overwrite").parquet(path)
    }
    (p, staged.schema)
  }

  /** `dropDuplicatesWithinWatermark` as a declared query: events plus a 10%
    * re-delivery are staged to files, a Structured Streaming query reads
    * them under `Trigger.AvailableNow` with a 1-hour watermark and drops
    * re-deliveries by event_id, and the post-dedup census must equal the
    * batch answer. Within-watermark dedup keeps an id's state only until
    * the watermark passes its event time, so state is bounded by the
    * lateness budget (plain streaming dropDuplicates keeps every id). All
    * staged files exist before the stream starts and form one micro-batch,
    * so every duplicate arrives inside its original's watermark window.
    *
    * The census is aggregated inside foreachBatch, keeping the dedup as the
    * only streaming state. foreachBatch is at-least-once (a recovered
    * checkpoint can re-offer a batch id), so partials merge once per batch
    * id; the 2dp round happens once at the end. The no-data batch that
    * would only evict expired state into this per-call checkpoint is off. */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema) = ddwStage(spark, dir)
    val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()
    val applied = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    withStaging("graft_ddw_") { tmp =>
      runToEnd(spark,
        spark.readStream.schema(schema).parquet(src)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (applied.add(batchId)) {
              batch.groupBy("event_type")
                .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
                .collect() // event-type grain — bounded
                .foreach { r =>
                  acc.merge(r.getString(0), (r.getLong(1), r.getDouble(2)),
                    (a, b) => (a._1 + b._1, a._2 + b._2)); ()
                }; ()
            }
          }
          .queryName(queryName("ddw_", tmp)),
        "stream_dedup_watermark",
        stateConf(spark, src, schema) :+
          ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*)
    }
    val session = spark
    import session.implicits._
    acc.entrySet().toArray(Array.empty[java.util.Map.Entry[String, (Long, Double)]])
      .toSeq.map(e => (e.getKey, e.getValue._1, e.getValue._2))
      .toDF("event_type", "n", "s")
      .select(col("event_type"), col("n"), round(col("s"), 2).as("val"))
      .orderBy(col("event_type").asc)
  }

  /** Stream-static enrichment join: each event joins the customer
    * dimension (user_id = c_custkey), then a tumbling-hour aggregate per
    * market segment. In Structured Streaming this exact plan is the
    * stream-static join — the static side is broadcast and probed per
    * micro-batch with NO stream-side state (the hint here makes that
    * shape explicit; the streaming form runs in StreamingEquivalenceSpec
    * with a MemoryStream source). At 100 TB of events/day the fact side
    * never shuffles for the enrichment — only for the windowed agg. */
  def streamJoinStatic(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val"))
      .orderBy(col("hour").asc, col("c_mktsegment").asc)

  /** Stream-STREAM join (the hard Structured Streaming op — state on
    * BOTH sides): view→click attribution, each click joined to the same
    * user's views in the preceding 30 minutes, reported per hour. In
    * streaming form both sides carry watermarks and the time-bound
    * condition lets the state store expire rows (exercised with two
    * MemoryStreams in StreamingEquivalenceSpec); the batch form is the
    * identical join DAG — an equi join on user_id with a range residual,
    * hash-partitioned by user (high-cardinality ⇒ even spread; state per
    * user bounded by the 30-minute window at any scale). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value"))
    views.join(clicks,
        col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") < col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(date_trunc("hour", col("c_ts")).as("hour"))
      .agg(count(lit(1)).as("attributed"),
        countDistinct(col("c_user")).as("users"),
        round(avg(unix_micros(col("c_ts")) - unix_micros(col("v_ts"))) / 1e6, 6)
          .as("avg_lag_s"))
      .orderBy(col("hour").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_join_static" -> (streamJoinStatic _),
    "stream_argmax"    -> (streamArgmax _),
    "stream_topk"      -> (streamTopk _),
    "stream_tumbling"  -> (streamTumbling _),
    "stream_sliding"   -> (streamSliding _),
    "stream_session"   -> (streamSession _),
    "stream_dedup"     -> (streamDedup _),
    "stream_dedup_watermark" -> (streamDedupWatermark _),
    "stream_late_data" -> (streamLateData _),
    "stream_incremental" -> (streamIncremental _),
    "stream_recovery" -> (streamRecovery _),
    "stream_file_sink" -> (streamFileSink _),
    "stream_jdbc_sink" -> (streamJdbcSink _),
    "stream_stateful" -> (streamStateful _))

  /** Typed custom-state sessionization (`KeyValueGroupedDataset.
    * flatMapGroupsWithState`, graft.streaming.Sessionize) as a DECLARED
    * query — the arbitrary-stateful API surface, oracled against the same
    * gaps-and-islands SQL as stream_session (all formulations agree at
    * the end-exclusive 30-minute boundary). Value sums rounded on output; session
    * numbering and (ts, event_id) ordering are identical. */
  def streamStateful(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionsFor(spark, dir)
      .toDF()
      .select(col("user_id"), col("session_id"), col("n"),
        round(col("value"), 2).as("val"), col("s_start"), col("s_end"))
      .orderBy(col("user_id").asc, col("session_id").asc)

  private val sessionOracle =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, value,
      |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |s AS (
      |  SELECT *, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, count(*) AS n, round(sum(value), 2) AS val,
      | min(ts) AS s_start, max(ts) AS s_end
      |FROM s GROUP BY user_id, session_id ORDER BY user_id ASC, session_id ASC""".stripMargin

  private val dedupOracle =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS val
      |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin

  private val dayTypeOracle =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      | count(*) AS n, round(sum(value), 2) AS val
      |FROM events GROUP BY day, event_type
      |ORDER BY day ASC, event_type ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "stream_stream_join" ->
      """WITH v AS (SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id AS c_user, ts AS c_ts, value FROM events WHERE event_type = 'click')
        |SELECT date_trunc('hour', c_ts) AS hour,
        |  count(*) AS attributed,
        |  count(DISTINCT c_user) AS users,
        |  round(avg(epoch_us(c_ts) - epoch_us(v_ts)) / 1e6, 6) AS avg_lag_s
        |FROM v JOIN c ON v_user = c_user
        |  AND c_ts >= v_ts AND c_ts < v_ts + INTERVAL 30 MINUTE
        |GROUP BY hour ORDER BY hour ASC""".stripMargin,
    "stream_join_static" ->
      """SELECT date_trunc('hour', ts) AS hour, c_mktsegment,
        |  count(*) AS n, round(sum(value), 2) AS val
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY hour, c_mktsegment
        |ORDER BY hour ASC, c_mktsegment ASC""".stripMargin,
    "stream_argmax" ->
      """WITH r AS (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, value, event_id,
        |    count(*) OVER (PARTITION BY date_trunc('hour', ts), event_type) AS n,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT wstart, event_type, n, round(value, 2) AS peak_value,
        |  event_id AS peak_event
        |FROM r WHERE rn = 1
        |ORDER BY wstart ASC, event_type ASC""".stripMargin,
    "stream_topk" ->
      """WITH r AS (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |SELECT wstart, event_type, event_id, round(value, 2) AS value
        |FROM r WHERE rn <= 3
        |ORDER BY wstart ASC, event_type ASC, round(value, 2) DESC, event_id ASC""".stripMargin,
    "stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS wstart,
        | date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        | event_type, count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY wstart, wend, event_type
        |ORDER BY wstart ASC, event_type ASC""".stripMargin,
    "stream_sliding" ->
      """SELECT make_timestamp(CAST((floor((epoch(ts) - i*900)/3600)*3600 + i*900) AS BIGINT) * 1000000) AS wstart,
        | count(*) AS n, round(sum(value), 2) AS val
        |FROM events, (SELECT unnest([0,1,2,3]) AS i) g
        |GROUP BY wstart ORDER BY wstart ASC""".stripMargin,
    "stream_session" -> sessionOracle,
    "stream_stateful" -> sessionOracle,
    "stream_dedup" -> dedupOracle,
    "stream_dedup_watermark" -> dedupOracle,
    // every loader trigger call's census equals the batch answer: each
    // input row landed once, through whichever sink or restart
    "stream_incremental" -> dayTypeOracle,
    "stream_recovery" -> dayTypeOracle,
    "stream_file_sink" -> dayTypeOracle,
    "stream_jdbc_sink" -> dayTypeOracle,
    "stream_late_data" ->
      """WITH wm AS (SELECT max(epoch_us(ts)) - 600000000 AS wm_us FROM events)
        |SELECT date_trunc('hour', ts) AS hour,
        | CASE WHEN epoch_us(ts) < (SELECT wm_us FROM wm) THEN 'dropped' ELSE 'kept' END AS status,
        | count(*) AS n
        |FROM events GROUP BY hour, status ORDER BY hour ASC, status ASC""".stripMargin)
}
