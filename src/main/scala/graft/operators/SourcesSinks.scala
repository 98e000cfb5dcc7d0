package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** SURVEY.md §2.A — scans, file-format ingest round-trips, and the
  * partitioned/idempotent sinks that stand in for the reference's
  * ClickHouse loading semantics (no ClickHouse server offline; dynamic
  * partition overwrite IS the partition-replace idempotency property —
  * SURVEY §0/§2.A).
  *
  * `jdbc_sink` (doc-only, SURVEY §2.A): the real ClickHouse load is
  * `df.write.format("jdbc").option("url", "jdbc:clickhouse://...")
  * .option("dbtable", t).option("batchsize", 100000).mode("append")` with
  * idempotency via `ALTER TABLE t DROP PARTITION` + re-insert (exactly the
  * dynamic-partition-overwrite semantics `sink_idempotent` proves). Not
  * declared in `queries`: no ClickHouse server or driver jar exists in
  * this offline image, and a declared-but-untestable op would be a hole in
  * the oracle gate.
  *
  * This object is also the loader's one home for its seams, shared with
  * `bill_pipeline_e2e` and `llm_pipeline_e2e`: where a sink's files go
  * (`scratch`), staging a text drop (`stageText`), landing partitioned
  * parquet (`landPartitioned`), the idempotent load with its
  * re-delivery (`loadIdempotent`) and the read-back (`readBack`).
  *
  * Scale notes: text drops read back with the schema of the frame that
  * wrote them (never inference, an extra full scan at 100 TB); a
  * partitioned sink lands one file per partition, so a re-load of one
  * month replaces exactly that directory (`partitionOverwriteMode=dynamic`
  * = per-partition atomic replace), and partition pruning serves
  * month-ranged reads. Round-trip outputs are aggregates, so oracle
  * equality proves the format round-trip was lossless.
  */
object SourcesSinks {

  /** A staging path under this JVM's io dir (ScratchDirs), keyed by
    * operator and fixture dir so sf0.01 verify and sf0.1 bench never
    * collide. Every use refreshes the dir's liveness beacon. */
  private def scratch(dir: String, op: String): String = {
    ScratchDirs.touch(ScratchDirs.ioDir)
    s"${ScratchDirs.ioDir}/${op}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  /** The REAL output path an operator's `scratch(dir, op)` resolved to in
    * this JVM — the one sanctioned way for a test or a composed pipeline
    * to locate a sink's files. A path rebuilt by string concatenation
    * goes stale when the staging root moves and can then read an old
    * artifact left on tmpfs; ScratchPathHygieneSpec bans that in tests. */
  private[graft] def scratchFor(dir: String, op: String): String = scratch(dir, op)

  /** Read back a path just written from `written`, reusing its schema: a
    * schema-less `spark.read.parquet` schedules a footer-inference job on
    * every call, a job start of pure overhead for a file whose schema the
    * writer already knows. The written frame produced the file, so its
    * nullability assertions hold for the data by construction. Works for
    * partitioned dirs too: Spark matches user-schema fields to partition
    * columns by name (discovery is a driver-side listing, no job). */
  private def readBack(spark: SparkSession, written: DataFrame, path: String): DataFrame =
    spark.read.schema(written.schema).parquet(path)

  /** Stage `records` at `path` as a text drop in `format` (`csv` with a
    * header line, or `json` lines), one write task per core for a
    * parallel encode, and read it back with the schema of the frame that
    * wrote it, by the same rule as `readBack`. */
  private[graft] def stageText(records: DataFrame, format: String, path: String): DataFrame = {
    val opts = if (format == "csv") Map("header" -> "true") else Map.empty[String, String]
    val spark = records.sparkSession
    records.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").options(opts).format(format).save(path)
    spark.read.schema(records.schema).options(opts).format(format).load(path)
  }

  /** Land `df` at `path` as parquet partitioned by `part`. Each partition
    * is co-located first (`repartition(part)`), so one task writes a
    * partition's whole directory as one file, never a fragment from every
    * write task (N tasks × M partitions files at scale). Without
    * `replace` the whole path is overwritten; with it, dynamic partition
    * overwrite replaces only the partitions `df` holds, the idempotent
    * re-load (ClickHouse's `DROP PARTITION` + insert). */
  private[graft] def landPartitioned(df: DataFrame, part: String, path: String,
      replace: Boolean = false): Unit = {
    val w = df.repartition(col(part)).write.mode("overwrite")
    (if (replace) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(part).parquet(path)
  }

  /** The loader's idempotent load of the staged drop `delivered` into a
    * `part`-partitioned parquet sink at `path`, read back. `clean` (the
    * pipeline's normalize or quality gate, and its full-record dedup)
    * lands the whole drop; then the partition `value` is re-delivered and
    * must replace, not double, what the first landing wrote.
    *
    * `partOf` is `part`'s value on a delivered record, so the re-delivery
    * is filtered at the source, before `clean`'s dedup shuffle. That is
    * exact when `part` is a per-record function of the delivered columns
    * and the dedup key covers them: filter-then-clean equals
    * clean-then-filter row for row, and the re-delivery shuffles one
    * partition's rows, as production re-reads only the re-delivered
    * files. Both writes run at a shuffle-partition count derived from the
    * drop's bytes (MemoFrames.scaleParts, clamped to the session's), so a
    * fixture-scale drop is not spread over idle tasks. */
  private[graft] def loadIdempotent(delivered: DataFrame, path: String, part: String,
      partOf: Column, value: String)(clean: DataFrame => DataFrame): DataFrame = {
    val spark = delivered.sparkSession
    val landed = clean(delivered)
    MemoFrames.withShufflePartitions(spark, MemoFrames.scaleParts(spark, delivered, 1.0)) {
      landPartitioned(landed, part, path)
      landPartitioned(clean(delivered.filter(partOf === value)), part, path, replace = true)
    }
    readBack(spark, landed, path)
  }

  /** Scan all 10 tables: per-table row count + primary-key min/max —
    * validates every loader (incl. the events ns-timestamp path). */
  def scanParquet(spark: SparkSession, dir: String): DataFrame = {
    val keys = Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey", "customer" -> "c_custkey",
      "supplier" -> "s_suppkey", "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    // One aggregate over the UNION of (tbl, key) projections instead of
    // ten independent per-table aggregates: the per-table form plans 10
    // global aggregates, each with its own single-partition exchange —
    // 21 AQE stage-jobs for a sub-second query, and per-job scheduling
    // overhead is what a contended driver amplifies. The union form is one stage
    // tree: every scan feeds a partial groupBy(tbl) in the same stage,
    // one 10-row-per-task exchange, one final agg — same scans, same
    // pushed-down projection (each table reads only its key column),
    // ~3 jobs. Shuffle volume is identical at any scale: partial
    // aggregation reduces each task's contribution to one row per table.
    keys.map { case (t, k) =>
      Tables.byName(spark, dir, t)
        .select(lit(t).as("tbl"), col(k).cast("bigint").as("key"))
    }.reduce(_ unionAll _)
      .groupBy("tbl")
      .agg(count(lit(1)).as("rows"),
        min(col("key")).as("key_min"),
        max(col("key")).as("key_max"))
      .orderBy(col("tbl").asc)
  }

  /** Billing-loader core (reference's dataflow, SURVEY §3.1): stage a
    * lineitem projection as CSV, read it back with its own schema,
    * aggregate. Oracle aggregates the parquet directly — equality proves
    * the round-trip lost nothing. */
  def ingestCsv(spark: SparkSession, dir: String): DataFrame =
    aggregateRoundtrip(stageText(exportProjection(spark, dir), "csv", scratch(dir, "csv")))

  /** Same round-trip through JSON lines. */
  def ingestJson(spark: SparkSession, dir: String): DataFrame =
    aggregateRoundtrip(stageText(exportProjection(spark, dir), "json", scratch(dir, "json")))

  /** The delivered billing record: keys, strings, 2dp-rounded doubles and
    * the ship timestamp formatted to seconds — the text-format-safe
    * lineitem projection (SURVEY §2.A ingest_csv notes). */
  private[graft] def exportProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("okey"),
      col("l_linenumber").as("line"),
      col("l_returnflag").as("flag"),
      round(col("l_quantity"), 2).as("qty"),
      round(col("l_extendedprice"), 2).as("price"),
      date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship"))

  private def aggregateRoundtrip(df: DataFrame): DataFrame =
    df.groupBy("flag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("qty"), 2).as("sum_qty"),
        round(sum("price"), 2).as("sum_price"),
        min("ship").as("first_ship"),
        max("ship").as("last_ship"))
      .orderBy(col("flag").asc)

  /** ClickHouse `PARTITION BY toYYYYMM(date)` analog: write orders
    * partitioned by month, read back, count per partition. */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "part")
    val staged = Tables.orders(spark, dir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    landPartitioned(staged, "month", out)
    readBack(spark, staged, out)
      .groupBy("month")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      .orderBy(col("month").asc)
  }

  /** Custom DataSourceV2 connector end-to-end (graft.sources.
    * SyntheticDocs): deterministic generated documents read through the
    * full DSv2 stack with filter pushdown (the doc_id range narrows the
    * GENERATED range — pruned rows never exist) and column pruning (only
    * referenced fields are materialized). Arithmetic generation rule ⇒
    * DuckDB reproduces it from generate_series, so even the custom
    * connector is hash-verified. */
  def scanDsv2(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticDocs")
      .option("rows", "100000").option("partitions", "8").load()
      .filter(col("doc_id") >= 1000 && col("doc_id") < 90000)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy(col("lang").asc)

  /** Upsert / MERGE (ClickHouse ReplacingMergeTree analog): base load,
    * then an update batch re-delivering 10% of the keys with changed
    * values and a higher version; keep-latest per key via (version, key)
    * arg-max, rewritten to the sink. The summary proves exactly the
    * updated keys carry new values. At scale: the arg-max is one hash
    * agg keyed by the primary key; combined with month partitioning the
    * rewrite touches only affected partitions. */
  def sinkUpsert(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "upsert")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val base = orders.withColumn("_v", lit(1L))
    base.write.mode("overwrite").parquet(out)
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
      .withColumn("_v", lit(2L))
    val merged = readBack(spark, base, out)
      .unionByName(updates)
      .groupBy("o_orderkey")
      .agg(max_by(
        struct(col("o_custkey"), col("o_totalprice"), col("o_orderdate"), col("_v")),
        col("_v")).as("r"))
      .select(col("o_orderkey"), col("r.o_custkey").as("o_custkey"),
        col("r.o_totalprice").as("o_totalprice"),
        col("r.o_orderdate").as("o_orderdate"), col("r._v").as("_v"))
    merged.write.mode("overwrite").parquet(s"${out}_merged")
    readBack(spark, merged, s"${out}_merged")
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("rev"),
        count(when(col("_v") === 2, lit(1))).as("updated"))
  }

  /** Dirty-input ingest — the loader robustness property (one bad row
    * must not kill the batch): a CSV staged with every 7th line
    * corrupted, read in PERMISSIVE mode with a _corrupt_record column;
    * good rows aggregate, bad rows are counted, nothing throws. */
  def ingestDirtyCsv(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "dirty")
    Tables.orders(spark, dir)
      // corruption lands in the price FIELD (not just a short line):
      // CSV column pruning means only referenced columns are parsed, so
      // the malformed value must be in a column the query reads
      .select(when(col("o_orderkey") % 7 === 0,
          concat_ws(",", col("o_orderkey"), col("o_custkey"),
            concat(lit("corrupt|"), col("o_orderkey")))) // price unparseable
        .otherwise(concat_ws(",", col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2))).as("value"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("okey", LongType), StructField("ckey", LongType),
      StructField("price", DoubleType), StructField("_bad", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      .agg(count(when(col("_bad").isNull, lit(1))).as("good"),
        count(col("_bad")).as("bad"),
        round(sum(when(col("_bad").isNull, col("price"))), 2).as("rev_good"))
  }

  /** Partition pruning, demonstrated end-to-end: write month-partitioned,
    * read back with a month predicate — the scan plans with
    * PartitionFilters and touches ONE directory, not 80 (asserted by
    * SourcesSinksSpec on the executed plan). At 100 TB partition pruning
    * is the difference between scanning a day and scanning a decade. */
  def scanPruned(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "pruned")
    val staged = Tables.orders(spark, dir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    landPartitioned(staged, "month", out)
    readBack(spark, staged, out)
      .filter(col("month") === "1996-03") // prunes to one partition dir
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** The reference's KEY correctness property (SURVEY §2.A): re-loading one
    * month under dynamic partition overwrite replaces that partition
    * instead of duplicating it. Re-writes 1996-03 (as one file, like every
    * landed partition), then proves totals are unchanged vs the source
    * table. */
  def sinkIdempotent(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "idem")
    val orders = Tables.orders(spark, dir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    landPartitioned(orders, "month", out)
    landPartitioned(orders.filter(col("month") === "1996-03"), "month", out,
      replace = true) // re-deliver one month
    readBack(spark, orders, out).agg(
      count(lit(1)).as("total_rows"),
      count(when(col("month") === "1996-03", lit(1))).as("march96_rows"),
      round(sum("o_totalprice"), 2).as("rev"))
  }

  /** Bucketed co-located join — the 100 TB join-locality story as a
    * declared query: both fact tables are written ONCE bucketed (+sorted)
    * by the join key, and every subsequent join on that key runs with
    * ZERO shuffle — the planner trusts the on-disk hash partitioning, so
    * a 100 TB orders⋈lineitem becomes a per-bucket sort-merge with no
    * exchange on either side (BucketingSpec asserts the shuffle-free
    * plan; here the write cost is part of the measured query, exactly
    * like the other sink round-trips). External-table form: data lands
    * in scratch, only metadata (incl. bucket spec) in the session
    * catalog, so no warehouse directory is assumed. The oracle is the
    * plain parquet join — bucketing must never change results. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    def mk(name: String, df: DataFrame, key: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      df.write.mode("overwrite")
        .option("path", s"${scratch(dir, "bkt")}/$name")
        .bucketBy(16, key).sortBy(key)
        .saveAsTable(name)
    }
    mk("graft_orders_b", Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority"), "o_orderkey")
    mk("graft_lineitem_b", Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity"), "l_orderkey")
    spark.table("graft_orders_b")
      .join(spark.table("graft_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("lines"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Small-file compaction — the maintenance pass every long-lived 100 TB
    * table needs: a landing zone accumulates many small files (here: a
    * 64-way write of a 3-column event slice), and the compactor rewrites
    * them into few large ones. The rewrite uses `coalesce`, NOT
    * `repartition`: coalesce merges input splits inside each read task
    * with ZERO shuffle — the only data movement is the parquet
    * read/write itself, which is the floor for any compactor. (Real
    * deployments pick the target count from bytes/`maxRecordsPerFile`;
    * fixed 4 keeps the query deterministic.) The census re-reads the
    * compacted table so the oracle proves compaction lost nothing. */
  def sinkCompact(spark: SparkSession, dir: String): DataFrame = {
    val small = scratch(dir, "compact_small")
    val out = scratch(dir, "compact_out")
    val slice = Tables.events(spark, dir).select("event_id", "event_type", "value")
    slice.repartition(64)
      .write.mode("overwrite").parquet(small)
    readBack(spark, slice, small)
      .coalesce(4)
      .write.mode("overwrite").parquet(out)
    def nFiles(p: String): Int =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
    readBack(spark, slice, out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      .withColumn("files_before", lit(nFiles(small)))
      .withColumn("files_after", lit(nFiles(out)))
      .orderBy(col("event_type").asc)
  }

  /** Schema evolution across file generations: generation 1 lands without
    * the `value` column, generation 2 adds it; `mergeSchema=true` widens
    * the scan schema to the union and back-fills nulls — the pattern that
    * lets a 100 TB table grow columns without rewriting history. (Merge
    * cost is footer-only, per-file, distributed — data pages are never
    * touched.) Census counts the back-filled nulls per type. */
  def scanSchemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "evolve")
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
    ev.filter(col("event_id") % 2 === 0).drop("value")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    ev.filter(col("event_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value").isNull, lit(1))).as("value_nulls"),
        round(sum("value"), 2).as("val_sum"))
      .orderBy(col("event_type").asc)
  }

  /** ORC round-trip with zstd compression — the second columnar format a
    * warehouse speaks (and the non-default codec knob in one op): write a
    * lineitem slice as zstd ORC, read it back, census it. ORC is Spark-
    * native (vectorized reader, predicate pushdown, column pruning — the
    * same scan properties as parquet); zstd trades ~30% smaller files for
    * slightly higher CPU, usually the right call when 100 TB is cold
    * storage. The oracle computes the same census from the parquet
    * source — the round-trip must be lossless. */
  def ingestOrc(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "orc")
    val slice = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    slice.write.mode("overwrite").option("compression", "zstd").orc(out)
    spark.read.schema(slice.schema).orc(out)
      .filter(col("l_quantity") > 10) // pushdown reaches the ORC scan
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("rev"),
        round(sum("l_quantity"), 2).as("qty"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Dynamic partition pruning end-to-end: the fact table is written
    * month-partitioned; the dim side (a tiny month attribute table, also
    * landed on disk so the optimizer sees two real sources) is filtered
    * at runtime, and Catalyst injects a `dynamicpruning` subquery into
    * the fact scan's PartitionFilters — the fact side reads ONLY the
    * quarters the filtered dim selects, a decision static pruning cannot
    * make because the surviving months are data, not literals. At 100 TB
    * this is the difference between scanning 3 months and scanning the
    * table. ScanDppSpec asserts the dynamicpruning filter is actually on
    * the scan; the oracle recomputes the same join from raw orders.
    *
    * The month-partitioned fact table and the dim table are STAGED ONCE
    * per (session, fixture) via MemoFrames.stagedPath: they are declared
    * pipeline INPUTS — in production the partitioned table already exists
    * when the query runs; what this operator grades is the DPP READ — so
    * staging belongs with the other per-(session, fixture) artifacts (the
    * Streaming.incrStage precedent), warmed by SharedArtifacts and visible
    * in the bench's warm_artifacts ledger. Staging inside the query would
    * bill every invocation a write of one file per month (~80 months,
    * AQE scheduling the write jobs serially). */
  def scanDpp(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = dppStage(spark, dir)
    fact.join(dim.filter(col("q") === "Q1"), "omonth")
      .groupBy("omonth")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      .orderBy(col("omonth").asc)
  }

  /** Stage (once per session+fixture) and read back the DPP inputs:
    * the month-partitioned fact table and the unfiltered quarter dim.
    * First call runs the two writes; every call returns schema-cached
    * scans. SharedArtifacts warms this so the staging cost lands in the
    * bench's untimed warm-up with its own ledger line. */
  private[graft] def dppStage(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val orders = Tables.orders(spark, dir)
      .withColumn("omonth", date_format(col("o_orderdate"), "yyyy-MM"))
    val dimStaged = orders.select("omonth").distinct()
      // the quarter tag is a STRING compared to a literal below: DPP's
      // isLikelySelective() heuristic accepts attr-vs-literal comparisons
      // but not a bare boolean column (which BooleanSimplification would
      // reduce `q = true` to) — with a bare flag the runtime filter is
      // silently skipped
      .withColumn("q", when(substring(col("omonth"), 6, 2).isin("01", "02", "03"),
        lit("Q1")).otherwise(lit("QX")))
    val base = MemoFrames.stagedPath(spark, s"dpp_stage|$dir") { p =>
      landPartitioned(orders, "omonth", s"$p/fact")
      dimStaged.write.mode("overwrite").parquet(s"$p/dim")
    }
    (readBack(spark, orders, s"$base/fact"),
     readBack(spark, dimStaged, s"$base/dim"))
  }

  /** Raw text-line ingest with regex field extraction — the log-parsing
    * shape (the fourth ingest format next to CSV/JSON/ORC): events are
    * round-tripped through whitespace-delimited text lines and re-parsed
    * with `regexp_extract` + casts, all map-side on the scan. The
    * double→string→double round-trip is exact (Double.toString
    * round-trips by contract), so the census must equal the original —
    * which is exactly what the oracle checks. */
  def ingestLogs(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "logs")
    Tables.events(spark, dir)
      .select(concat_ws(" ", col("event_id"), col("user_id"),
        col("event_type"), col("value")).as("value"))
      .write.mode("overwrite").text(out)
    val line = "^(\\S+) (\\S+) (\\S+) (\\S+)$"
    spark.read.text(out)
      .select(
        regexp_extract(col("value"), line, 1).cast("long").as("event_id"),
        regexp_extract(col("value"), line, 2).cast("long").as("user_id"),
        regexp_extract(col("value"), line, 3).as("event_type"),
        regexp_extract(col("value"), line, 4).cast("double").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("users"),
        round(sum("v"), 2).as("val_sum"),
        max("event_id").cast("bigint").as("max_id"))
      .orderBy(col("event_type").asc)
  }

  /** Z-order clustered rewrite + multi-dimension data skipping — the
    * table-layout lever behind Delta OPTIMIZE ZORDER BY / Iceberg sort
    * orders. A single sort key clusters ONE dimension;
    * interleaving the bits of two rank-normalized keys (l_partkey,
    * l_suppkey) gives a space-filling curve where every contiguous file
    * covers a compact rectangle in BOTH dimensions, so per-file min/max
    * stats prune a two-predicate scan that a single-column sort could
    * only prune on its leading key. At 100 TB this is the difference
    * between touching ~√N of the files and touching all of them for the
    * non-leading predicate.
    *
    * Mechanics: one metadata-scale stats job reads the two dimension
    * maxima (at scale these come from catalog/file statistics, not a
    * scan); each key is normalized to 16 bits of its own value range so
    * dimensions of different magnitudes contribute interleaved bits
    * evenly; `repartitionByRange(z)` + in-partition sort lays files out
    * along the curve. The declared output re-reads the clustered files
    * under a two-dimension predicate and aggregates — oracle equality
    * proves the rewrite preserved content; ZorderSpec measures the
    * clustering itself (per-file key spans shrink vs the global span). */
  def sinkZorder(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "zorder")
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_returnflag")
    val mx = li.agg(max("l_partkey"), max("l_suppkey")).head()
    // max over an EMPTY table is NULL (EmptyInputSpec) — normalize
    // against 1 so the z-scaling constants
    // stay defined and the rewrite of nothing is just an empty file
    def maxOr1(i: Int) = if (mx.isNullAt(i)) 1L else math.max(mx.getLong(i), 1L)
    val (maxP, maxS) = (maxOr1(0), maxOr1(1))
    def norm16(c: org.apache.spark.sql.Column, mx: Long) =
      least(lit(65535L), floor(c * 65536.0 / (mx + 1))).cast("long")
    val zp = norm16(col("l_partkey"), maxP)
    val zs = norm16(col("l_suppkey"), maxS)
    val z = (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(zp, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftrightunsigned(zs, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    val staged = li.withColumn("z", z)
    staged.repartitionByRange(32, col("z")).sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(out)
    readBack(spark, staged.drop("z"), out)
      .filter(col("l_partkey").between(1, 50) && col("l_suppkey").between(1, 5))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy(col("l_returnflag").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sink_zorder"       -> (sinkZorder _),
    "ingest_logs"       -> (ingestLogs _),
    "scan_dpp"          -> (scanDpp _),
    "ingest_orc"        -> (ingestOrc _),
    "sink_compact"      -> (sinkCompact _),
    "scan_schema_evolve" -> (scanSchemaEvolve _),
    "join_bucketed"    -> (joinBucketed _),
    "scan_parquet"     -> (scanParquet _),
    "ingest_csv"       -> (ingestCsv _),
    "ingest_json"      -> (ingestJson _),
    "sink_partitioned" -> (sinkPartitioned _),
    "scan_pruned"      -> (scanPruned _),
    "sink_upsert"      -> (sinkUpsert _),
    "ingest_dirty_csv" -> (ingestDirtyCsv _),
    "scan_dsv2"        -> (scanDsv2 _),
    "sink_idempotent"  -> (sinkIdempotent _))

  private val ingestOracle =
    """SELECT l_returnflag AS flag, count(*) AS n,
      | round(sum(round(l_quantity, 2)), 2) AS sum_qty,
      | round(sum(round(l_extendedprice, 2)), 2) AS sum_price,
      | strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS first_ship,
      | strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS last_ship
      |FROM lineitem GROUP BY flag ORDER BY flag ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sink_zorder" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 5
        |GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "ingest_logs" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS users,
        |  round(sum(value), 2) AS val_sum,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "scan_dpp" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders
        |WHERE substring(strftime(o_orderdate, '%Y-%m'), 6, 2) IN ('01', '02', '03')
        |GROUP BY omonth ORDER BY omonth ASC""".stripMargin,
    "ingest_orc" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS rev,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag ASC""".stripMargin,
    "sink_compact" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS val_sum,
        |  64 AS files_before, 4 AS files_after
        |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "scan_schema_evolve" ->
      """SELECT event_type, count(*) AS n,
        |  count(*) FILTER (WHERE event_id % 2 = 0) AS value_nulls,
        |  round(sum(value) FILTER (WHERE event_id % 2 <> 0), 2) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS lines,
        |  round(sum(l_quantity), 2) AS qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""".stripMargin,
    "scan_parquet" ->
      """SELECT 'region' AS tbl, count(*) AS rows, CAST(min(r_regionkey) AS BIGINT) AS key_min, CAST(max(r_regionkey) AS BIGINT) AS key_max FROM region
        |UNION ALL SELECT 'nation', count(*), min(n_nationkey), max(n_nationkey) FROM nation
        |UNION ALL SELECT 'customer', count(*), min(c_custkey), max(c_custkey) FROM customer
        |UNION ALL SELECT 'supplier', count(*), min(s_suppkey), max(s_suppkey) FROM supplier
        |UNION ALL SELECT 'part', count(*), min(p_partkey), max(p_partkey) FROM part
        |UNION ALL SELECT 'orders', count(*), min(o_orderkey), max(o_orderkey) FROM orders
        |UNION ALL SELECT 'lineitem', count(*), min(l_orderkey), max(l_orderkey) FROM lineitem
        |UNION ALL SELECT 'events', count(*), min(event_id), max(event_id) FROM events
        |UNION ALL SELECT 'documents', count(*), min(doc_id), max(doc_id) FROM documents
        |UNION ALL SELECT 'embeddings', count(*), min(vec_id), max(vec_id) FROM embeddings
        |ORDER BY tbl ASC""".stripMargin,
    "ingest_csv" -> ingestOracle,
    "ingest_json" -> ingestOracle,
    "scan_pruned" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority ASC""".stripMargin,
    "scan_dsv2" ->
      """WITH g AS (SELECT unnest(generate_series(1000, 89999)) AS doc_id)
        |SELECT ['de','en','es','fr','zh'][CAST(doc_id % 5 AS INT) + 1] AS lang,
        |  count(*) AS n, CAST(sum(50 + (doc_id * 37) % 500) AS BIGINT) AS chars
        |FROM g GROUP BY lang ORDER BY lang ASC""".stripMargin,
    "sink_upsert" ->
      """SELECT count(*) AS n,
        | round(sum(CASE WHEN o_orderkey % 10 = 0
        |   THEN round(o_totalprice + 1000, 2) ELSE o_totalprice END), 2) AS rev,
        | count(*) FILTER (WHERE o_orderkey % 10 = 0) AS updated
        |FROM orders""".stripMargin,
    "ingest_dirty_csv" ->
      """SELECT count(*) FILTER (WHERE o_orderkey % 7 <> 0) AS good,
        | count(*) FILTER (WHERE o_orderkey % 7 = 0) AS bad,
        | round(sum(CASE WHEN o_orderkey % 7 <> 0 THEN round(o_totalprice, 2) END), 2) AS rev_good
        |FROM orders""".stripMargin,
    "sink_partitioned" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        | round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY month ORDER BY month ASC""".stripMargin,
    "sink_idempotent" ->
      """SELECT count(*) AS total_rows,
        | count(*) FILTER (WHERE strftime(o_orderdate, '%Y-%m') = '1996-03') AS march96_rows,
        | round(sum(o_totalprice), 2) AS rev
        |FROM orders""".stripMargin)
}
