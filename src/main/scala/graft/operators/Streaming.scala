package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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

  /** Windowed arg-max (round-8 addendum) — per 1-hour window and type,
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

  /** Windowed top-k (round-8 wave 14): per 1-hour window and type, the
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

  /** Incremental file-source load — the reference's serverless trigger
    * loop (SURVEY §3.1) as a DECLARED query: events are staged as daily
    * parquet drops, a Structured Streaming file source discovers and
    * processes them under `Trigger.AvailableNow` (checkpointed, so a
    * re-run would process only NEW days — exactly the timer-triggered
    * loader), and the streaming aggregate must equal the batch answer —
    * which is precisely what the DuckDB oracle checks. At 100 TB the
    * same topology runs continuously: file notifications feed
    * micro-batches, state lives in the checkpoint. */
  /** The day-partitioned staged drop the incremental loader discovers,
    * memoized per (session, fixture) — the files are the pipeline's INPUT
    * (in production they already exist when the trigger fires), so they are
    * staged once alongside the other shared artifacts and every timed
    * invocation measures only the streaming machinery (VERDICT r10 task 2:
    * the staging write + its day-repartition shuffle was ~1 s of every
    * call). Returns (path, schema): the writer's own schema makes every
    * readStream plan without a footer-inference job. */
  private[graft] def incrStage(spark: SparkSession, dir: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val staged = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val p = MemoFrames.stagedPath(spark, s"stream_incr_drop:$dir") { path =>
      staged
        // co-locate each day before the partitioned write: without this,
        // every one of the ~80 day dirs gets a fragment from EACH write
        // task (~2.5k tiny files at 32 tasks) and the streaming source then
        // pays listing + per-file open for all of them; with it, one file
        // per day — the standard dynamic-partition-write discipline
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(path)
    }
    (p, staged.schema)
  }

  def streamIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // staged input: shared per (session, fixture); checkpoint: fresh per
    // call, RAM-backed where available (same rationale as
    // SourcesSinks.scratch) — measure the streaming machinery, not /tmp
    val (src, schema) = incrStage(spark, dir)
    val tmp = ioTempDir("graft_incr_")
    val qname = "inc_" + new java.io.File(tmp).getName.replaceAll("[^A-Za-z0-9_]", "")
    // SIZE-DERIVED state-partition count (round 17, guide §2): the number
    // of shuffle partitions at stream start fixes the checkpoint's state-
    // store count, and every micro-batch pays a per-store open/commit —
    // at the session's core-count constant that is ~32 store commits per
    // batch for a census whose state is day×type-bounded. Deriving the
    // count from the staged drop's measured bytes (clamped to the session
    // conf) keeps per-batch overhead proportional to data at every scale;
    // the checkpoint is per-call, so no restart compatibility is at stake.
    // only the per-call checkpoint is deleted in the finally — the staged
    // drop is session-shared and rides the memo dir's cleanup
    try MemoFrames.withShufflePartitionsScoped(spark,
      MemoFrames.scaleParts(spark, spark.read.schema(schema).parquet(src), 1.0)) {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy(col("day").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
        .writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      // await INSIDE the scope: micro-batches plan while the query runs
      try awaitOrThrow(q, "stream_incremental") finally q.stop()
    } finally deleteStaging(tmp)
    spark.table(qname)
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** CHECKPOINT RECOVERY as a DECLARED query (VERDICT r14 task 6 —
    * previously proven only inside StreamingRecoverySpec): the
    * incremental loader's real failure mode is a restart mid-backlog, and
    * the recovery contract is that the SECOND life of the query resumes
    * from the checkpoint — replaying NO already-committed file and
    * restoring the aggregation state — so its census still equals the
    * batch answer over everything. This call stages the same
    * day-partitioned drop as `stream_incremental` (shared memo artifact),
    * exposes only the FIRST HALF of the days to a file-source stream
    * (hardlinks into a per-call source dir — link, not copy: the staged
    * files are immutable and tmpfs-local), runs it to completion under
    * `Trigger.AvailableNow`, STOPS it, links in the remaining days, and
    * starts a brand-new query instance on the SAME checkpoint. Life 2
    * discovers only the new files (the source log has committed the
    * rest) and emits the complete census from restored state + new data —
    * the DuckDB oracle checks it equals the batch aggregate over ALL
    * events, which is exactly the recovery guarantee. Complete-mode
    * memory sink is the one sink Spark sanctions for checkpoint restart
    * (recoverFromCheckpointLocation is special-cased for it), and the
    * stateful agg in the checkpoint is the state being proven.
    * At 100 TB the same topology is the production loader: executors die,
    * the driver restarts, and the checkpoint — not a re-read of the
    * corpus — carries the query forward. */
  def streamRecovery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val (stagedSrc, schema) = incrStage(spark, dir)
    val tmp = ioTempDir("graft_recov_")
    val src = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val qname = "rec_" + new java.io.File(tmp).getName.replaceAll("[^A-Za-z0-9_]", "")
    val dayDirs = Option(new java.io.File(stagedSrc).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .sortBy(_.getName)
    // first half of the days = life 1's visible backlog; a degenerate
    // 1-day corpus collapses to a single life (split = 1), still correct
    val split = math.max(1, dayDirs.length / 2)
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
    def runLife(): Unit =
      // size-derived state-partition count (see streamIncremental): both
      // lives derive the SAME count from the same staged drop, so life 2
      // restarts against a checkpoint with a matching state layout
      MemoFrames.withShufflePartitionsScoped(spark,
        MemoFrames.scaleParts(spark,
          spark.read.schema(schema).parquet(stagedSrc), 1.0)) {
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy(col("day").cast("string").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
          .writeStream.format("memory").queryName(qname)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        try awaitOrThrow(q, "stream_recovery life") finally q.stop()
      }
    try {
      linkIn(dayDirs.take(split))
      runLife() // life 1: commits the first half into the checkpoint
      val rest = dayDirs.drop(split)
      // round-15 self-review guard: restarting with ZERO new files would
      // register a fresh EMPTY memory sink under the view name and may
      // never commit a batch to refill it — on a 1-day corpus the single
      // completed life already holds the full census, so only restart
      // when the second half actually exists
      if (rest.nonEmpty) {
        linkIn(rest)
        runLife() // life 2: NEW query instance, SAME checkpoint — restored
                  // state + only-the-new-files must reproduce the full census
      }
    } finally deleteStaging(tmp) // memory sink rows live on the driver —
                                 // the staging/checkpoint is already history
    spark.table(qname)
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** EXACTLY-ONCE FILE SINK as a DECLARED query (round 15): the one
    * production sink mechanism the streaming family did not yet
    * exercise. Every other streaming query here emits through a memory
    * sink or a foreachBatch census; a real 100 TB loader lands parquet
    * FILES, and its exactly-once story is the FileStreamSink manifest —
    * committed batches are recorded in `_spark_metadata`, and a manifest-
    * aware `spark.read.parquet` of the output dir sees each committed
    * batch exactly once (a naive directory listing would also count
    * uncommitted task output from failed/killed batches; the manifest
    * read does not — StreamFileSinkSpec kills a query mid-sequence and
    * proves the replayed batch is not double-counted).
    *
    * Shape: the shared day-partitioned drop streams back under
    * `maxFilesPerTrigger` (so one AvailableNow life commits MANY
    * micro-batches — each its own manifest entry + epoch of files, the
    * multi-commit shape the manifest exists for), rows land in a parquet
    * file sink, and the declared result is the (day, type) census over
    * the manifest read-back — the DuckDB oracle checks it equals the
    * batch aggregate over events, i.e. every input row surfaced in the
    * sink exactly once. */
  def streamFileSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val (src, schema) = incrStage(spark, dir)
    val tmp = ioTempDir("graft_fsink_")
    val out = s"$tmp/out"
    val q = spark.readStream.schema(schema)
      // ~5 micro-batches over the ~80 day files: exercises repeated
      // manifest commits, not one monolithic batch
      .option("maxFilesPerTrigger", "16")
      .parquet(src)
      .select(col("day").cast("string").as("day"), col("event_type"), col("value"))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try awaitOrThrow(q, "stream_file_sink") finally q.stop()
    // manifest-aware read-back (the _spark_metadata dir gates the files —
    // uncommitted task output is invisible to this read), aggregated AND
    // COLLECTED before the staging is deleted: unlike the memory-sink
    // queries, this result reads from the sink's FILES, so the returned
    // frame must not stay lazy over a dir this call removes. Domain-
    // bounded census (days × types), so the collect is driver-scale.
    val census = spark.read.parquet(out)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val"))
      .collect().toIndexedSeq
    deleteStaging(tmp)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(census.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.StringType, true),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType, true),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("val",
          org.apache.spark.sql.types.DoubleType, true))))
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** STREAMING → WAREHOUSE EXACTLY-ONCE as a DECLARED query (round 16,
    * VERDICT r15 task 4): the production loader's actual sink combo.
    * `stream_file_sink` proves the file-landing half (FileStreamSink
    * manifest) and `jdbc_sink` the warehouse half (batch JDBC write);
    * the reference's serverless loop combines them — every micro-batch
    * lands in the external SQL store, and the exactly-once story is NOT
    * a manifest (JDBC stores have none) but BATCH-ID IDEMPOTENCE:
    * foreachBatch is at-least-once (after a crash the same batchId is
    * re-offered from the checkpoint), so each batch's landing is a
    * DELETE-AND-INSERT KEYED ON THE BATCH ID inside one transaction — a
    * replayed batch first deletes its own previous (possibly partial)
    * rows, making the sink idempotent per batch and therefore
    * exactly-once end-to-end. StreamJdbcSinkSpec kills a query
    * mid-backlog and proves no double-insert on resume.
    *
    * Shape: the shared day-partitioned drop streams back under
    * `maxFilesPerTrigger` (several micro-batches ⇒ several transactions,
    * the multi-commit shape the idempotence exists for); each batch
    * aggregates to the (day, type) grain INSIDE foreachBatch (the
    * stream_dedup_watermark discipline — the only corpus-scale work is a
    * plain batch agg per micro-batch, and only the domain-bounded census
    * crosses to the driver) and lands via one driver-side transaction
    * into embedded Derby. The declared result re-reads the table through
    * the JDBC source and merges the per-batch partials; the DuckDB
    * oracle checks it equals the batch aggregate over ALL events — every
    * input row surfaced in the warehouse exactly once. Production
    * (ClickHouse) notes ride on JdbcSink's scaladoc; with a
    * transactionless target the same pattern keys the DELETE on
    * (batch_id) against a ReplacingMergeTree or lands each batch in a
    * staging table swapped in atomically. */
  def streamJdbcSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val (src, schema) = incrStage(spark, dir)
    val tmp = ioTempDir("graft_jsink_")
    val url = JdbcSink.jdbcUrl
    val table = "stream_load"
    ensureLoadTable(url, table)
    resetLoadTable(url, table) // each invocation is its own load
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "16") // ~5 micro-batches = ~5 transactions
      .parquet(src)
      .select(col("day").cast("string").as("day"), col("event_type"), col("value"))
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(url, table, batchId,
          batch.groupBy("day", "event_type")
            .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
            .collect()) // days×types grain — driver-bounded by the domain
      }
      .start()
    try awaitOrThrow(q, "stream_jdbc_sink") finally { q.stop(); deleteStaging(tmp) }
    // read back THROUGH the warehouse: per-batch partials merge at the
    // (day, type) grain, the 2dp round happens once here, never per batch
    spark.read.format("jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", table)
      .load()
      .groupBy(col("day"), col("event_type"))
      .agg(sum("n").as("n"), round(sum("s"), 2).as("val"))
      .orderBy(col("day").asc, col("event_type").asc)
  }

  /** CREATE the warehouse load table if absent (Derby has no IF NOT
    * EXISTS; SQLState X0Y32 = already there). Quoted lower-case column
    * names so the Spark JDBC read-back reports the schema the census
    * expects. */
  private[graft] def ensureLoadTable(url: String, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table ("batch_id" BIGINT, "day" VARCHAR(10),
           | "event_type" VARCHAR(32), "n" BIGINT, "s" DOUBLE)""".stripMargin)
      catch {
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
      } finally st.close()
    } finally conn.close()
  }

  private[graft] def resetLoadTable(url: String, table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.executeUpdate(s"DELETE FROM $table"); () } finally st.close()
    } finally conn.close()
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

  /** A fresh per-call staging/checkpoint dir under this JVM's io dir
    * (ScratchDirs.tempDir): the one sanctioned way for streaming calls
    * AND their tests to stage transient dirs, so no spec rebuilds the
    * path by hand. Callers still delete it when done; JVM exit or the
    * reap rule collects a crashed run's leftovers. */
  private[graft] def ioTempDir(prefix: String): String = ScratchDirs.tempDir(prefix).toString

  /** `awaitTermination(timeout)` that TURNS A TIMEOUT INTO AN ERROR
    * (ADVICE r15): the boolean-returning overload reports "still running"
    * by returning false, and every call here used to ignore it — a hung
    * stream would be stopped by the finally and the code would proceed,
    * surfacing only as a confusing downstream oracle mismatch (partial
    * census) instead of a loud timeout at the source. */
  private def awaitOrThrow(q: org.apache.spark.sql.streaming.StreamingQuery,
      what: String, timeoutMs: Long = 300000): Unit =
    if (!q.awaitTermination(timeoutMs))
      throw new IllegalStateException(
        s"$what did not terminate within ${timeoutMs / 1000} s — " +
          "hung stream, refusing to emit a partial census")

  /** Best-effort recursive delete of a per-invocation staging dir; the
    * kill-test specs clean up through it too. */
  private[graft] def deleteStaging(path: String): Unit =
    ScratchDirs.deleteRecursively(new java.io.File(path))

  /** `dropDuplicatesWithinWatermark` as a DECLARED query (VERDICT r7
    * "what's missing" #3 — previously exercised only inside the unit
    * suite): events plus a 10% re-delivery are staged to files, a real
    * Structured Streaming query reads them under `Trigger.AvailableNow`
    * with a 1-hour watermark and drops re-deliveries by event_id, and the
    * post-dedup census must equal the batch answer — the DuckDB oracle
    * checks exactly that. WithinWatermark is the production form of
    * streaming dedup: state for an id is kept only until the watermark
    * passes its event time, so state size is bounded by the lateness
    * budget instead of growing with the whole history (plain
    * dropDuplicates on a stream retains every id forever). All staged
    * files exist before the stream starts and the file source plans them
    * as ONE micro-batch (no maxFilesPerTrigger cap), so every duplicate
    * arrives inside the watermark window of its original by construction
    * and the within-watermark guarantee applies to all of them — while
    * the staging write itself stays parallel (a coalesce(1) here cost
    * ~8 s single-threaded under host load, for a guarantee batch
    * boundaries already provide). */
  /** The duplicated event drop the watermark-dedup stream replays,
    * memoized per (session, fixture) — same staged-input rationale as
    * `incrStage`. */
  private[graft] def ddwStage(spark: SparkSession, dir: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val staged = ev.unionAll(ev.filter(col("event_id") % 10 === 0)) // re-deliver 10%
    val p = MemoFrames.stagedPath(spark, s"stream_ddw_drop:$dir") { path =>
      staged.write.mode("overwrite").parquet(path)
    }
    (p, staged.schema)
  }

  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val (src, schema) = ddwStage(spark, dir)
    val tmp = ioTempDir("graft_ddw_")
    val qname = "ddw_" + new java.io.File(tmp).getName.replaceAll("[^A-Za-z0-9_]", "")
    // foreachBatch census sink, not the complete-mode memory sink
    // (round-10 A/B, VERDICT r9 task 4): with a streaming AGGREGATE the
    // plan carries a stateful agg on top of the dedup state — two state
    // stores read+committed per micro-batch plus the memory sink's
    // complete-mode re-collect. Aggregating INSIDE foreachBatch keeps the
    // stateful dedup (the operator under test) as the only streaming
    // state and turns the census into a plain batch agg per micro-batch.
    // Partial (n, Σval) merge across batches in the driver map keeps the
    // result batch-count-independent (one AvailableNow batch here by
    // construction — all files pre-staged, no maxFilesPerTrigger — but
    // correctness must not depend on that); the 2dp round happens ONCE at
    // the end, never per batch. Replay safety (ADVICE r10): foreachBatch
    // is at-least-once — after a checkpoint-recovery the SAME batchId can
    // be re-offered — so the merge is guarded by an applied-batchId set,
    // making the sink idempotent per batch instead of relying on the
    // fresh-checkpoint-single-batch shape this call happens to have.
    val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()
    val applied = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val qw = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
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
      .queryName(qname)
    // After the data batch advances the watermark, AvailableNow schedules
    // one more NO-DATA micro-batch purely to let stateful operators evict
    // expired state into the checkpoint (a 3-stage job — measured as half
    // this query's warm job count). This call discards its checkpoint and
    // emits through the driver-side census, so the eviction batch buys
    // nothing; disabling it is scoped to this query and restored after.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.getOption(ndKey)
    spark.conf.set(ndKey, "false")
    // start() runs INSIDE the try (ADVICE r11): it can throw (bad
    // checkpoint dir, source listing failure), and outside the block a
    // failure would leave the session-global no-data-microbatch flag
    // disabled for every later streaming query in this session.
    // Only the per-call checkpoint is deleted in the finally — the
    // staged drop is session-shared and rides the memo dir's cleanup.
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try MemoFrames.withShufflePartitionsScoped(spark,
      // size-derived state-partition count (see streamIncremental): the
      // dedup state shards across this many stores per micro-batch
      MemoFrames.scaleParts(spark, spark.read.schema(schema).parquet(src), 1.0)) {
      q = qw.start(); awaitOrThrow(q, "stream_dedup_watermark")
    } finally {
      if (q != null) q.stop()
      deleteStaging(tmp)
      ndPrev match { case Some(v) => spark.conf.set(ndKey, v)
                     case None    => spark.conf.unset(ndKey) }
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
    * gaps-and-islands SQL as stream_session (all formulations agree since
    * the round-2 boundary fix). Value sums rounded on output; session
    * numbering and (ts, event_id) ordering are identical. */
  def streamStateful(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionsFor(spark, dir)
      .toDF()
      .select(col("user_id"), col("session_id"), col("n"),
        round(col("value"), 2).as("val"), col("s_start"), col("s_end"))
      .orderBy(col("user_id").asc, col("session_id").asc)

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
    "stream_session" ->
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
        |FROM s GROUP BY user_id, session_id ORDER BY user_id ASC, session_id ASC""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "stream_dedup_watermark" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "stream_stateful" ->
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
        |FROM s GROUP BY user_id, session_id ORDER BY user_id ASC, session_id ASC""".stripMargin,
    "stream_incremental" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY day, event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin,
    // exactly-once file-sink contract: the manifest read-back census
    // equals the batch answer — every input row landed in the sink once
    "stream_file_sink" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY day, event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin,
    // streaming→warehouse exactly-once contract: the JDBC read-back of
    // the per-batch-landed table equals the batch answer — every input
    // row reached the warehouse exactly once through foreachBatch's
    // batch-id-idempotent transactions
    "stream_jdbc_sink" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY day, event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin,
    // recovery contract: the post-restart census equals the batch answer
    // over ALL events — identical oracle to stream_incremental by design
    "stream_recovery" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n, round(sum(value), 2) AS val
        |FROM events GROUP BY day, event_type
        |ORDER BY day ASC, event_type ASC""".stripMargin,
    "stream_late_data" ->
      """WITH wm AS (SELECT max(epoch_us(ts)) - 600000000 AS wm_us FROM events)
        |SELECT date_trunc('hour', ts) AS hour,
        | CASE WHEN epoch_us(ts) < (SELECT wm_us FROM wm) THEN 'dropped' ELSE 'kept' END AS status,
        | count(*) AS n
        |FROM events GROUP BY hour, status ORDER BY hour ASC, status ASC""".stripMargin)
}
