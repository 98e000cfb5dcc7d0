package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-(session, key) memoization of expensive shared frames as PARQUET
  * files, in place of `.checkpoint()` plus a map of DataFrames.
  *
  * Why parquet files instead of reliable RDD checkpoints:
  *  - the cache can hold PATH STRINGS instead of DataFrames. A cached
  *    DataFrame strongly references its SparkSession, so a WeakHashMap of
  *    DataFrames pins its own keys and its files leak for the JVM lifetime.
  *    Strings reference nothing; a dropped session becomes weakly
  *    reachable, its map entry is collected, and the Cleaner below deletes
  *    its files.
  *  - every consumer gets a FRESH columnar scan: `spark.read.parquet`
  *    prunes columns per consumer, where a checkpoint read always
  *    deserializes full rows.
  *  - materialization is exactly ONE write job; an eager `.checkpoint()`
  *    is a compute job plus a re-serialization pass.
  *
  * Lifecycle (three layers, all idempotent):
  *  - session GC → Cleaner deletes the session's memo dir;
  *  - normal JVM exit → shutdown hook deletes this JVM's base dir;
  *  - crashed JVMs → ScratchDirs' reap rule (stale AND dead owner pid)
  *    runs once per JVM at first use.
  *
  * Keys embed the fixture dir; entries assume the data under that dir is
  * immutable for the session's lifetime (true for the driver's testdata).
  * An operator that rewrites its own inputs must not memoize them.
  *
  * At 100 TB this is the ordinary "materialize the shared intermediate to
  * the object store" step a pipeline DAG engine performs between stages —
  * the local tmpfs path is the single-node stand-in for that store.
  */
object MemoFrames {

  /** session → (key → (parquet path, the writer's schema)), plus the ""
    * entry holding the session's base dir. A staged directory and the
    * base dir keep an empty schema. Values hold no DataFrame — see the
    * leak note above. */
  private type Entries = scala.collection.mutable.Map[String, (String, StructType)]
  private val cache = new java.util.WeakHashMap[SparkSession, Entries]()

  private val cleaner = java.lang.ref.Cleaner.create()

  /** This JVM's memo base — the one sanctioned way for a TEST to locate
    * memoized artifacts on disk (never rebuild the memo root by hand:
    * ScratchPathHygieneSpec enforces this). */
  private[graft] def jvmBaseDir: java.io.File = ScratchDirs.memoDir

  /** Holds only the path string — a Cleaner action must not reference the
    * session it is registered on, or it would never run. */
  private final class DeleteDir(path: String) extends Runnable {
    def run(): Unit = ScratchDirs.deleteRecursively(new java.io.File(path))
  }

  private def entriesFor(spark: SparkSession): Entries = {
    ScratchDirs.touch(ScratchDirs.memoDir)
    cache.computeIfAbsent(spark, { s =>
      val dir = java.nio.file.Files.createTempDirectory(ScratchDirs.memoDir.toPath, "session_")
      cleaner.register(s, new DeleteDir(dir.toString))
      scala.collection.mutable.Map("" -> (dir.toString, new StructType()))
    })
  }

  /** The SHARED memo keys (frame/stagedPath — not per-call materialize
    * tags) this session has built so far. Read-only: an absent session
    * reports empty without creating its entry map. Exists for the
    * warm-ledger invariant (WarmLedgerInvariantSpec): every shared
    * artifact a declared query consumes must be enumerable by
    * SharedArtifacts, or its build cost lands untracked inside some
    * timed bench query. */
  private[graft] def knownKeys(spark: SparkSession): Set[String] = synchronized {
    Option(cache.get(spark)).fold(Set.empty[String])(_.keySet.toSet - "")
  }

  /** Memoize `build`'s result for (spark, key): first call writes it to
    * parquet (one job), every call returns a fresh scan of the file. */
  def frame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized {
      val entries = entriesFor(spark)
      val (path, schema) = entries.getOrElseUpdate(key, {
        val safe = key.replaceAll("[^A-Za-z0-9._-]", "_").take(64)
        // a session-unique counter rides in the path: memoization is by the
        // EXACT key in `entries`, so the path needs no key fidelity —
        // but two distinct keys colliding on (64-char prefix, 32-bit
        // hashCode) must never share a directory
        val p = s"${entries("")._1}/${safe}_${Integer.toHexString(key.hashCode)}_${matCtr.incrementAndGet()}"
        val df = build
        writeNoAqe(df, p)
        // The writer's own schema: it produced the file, so its (non-)
        // nullability assertions hold for the data by construction, and
        // reusing it avoids the footer-inference JOB a schema-less read
        // schedules on every call.
        (p, df.schema)
      })
      spark.read.schema(schema).parquet(path)
    }

  private val matCtr = new java.util.concurrent.atomic.AtomicLong()

  /** session → (tag → live mat_* path). A long-lived session repeatedly
    * invoking a per-call-materializing query (weighted median, pareto,
    * eqdepth, basket rules, pagerank/label-prop tops) must not grow
    * tmpfs without bound: when a new call writes the same
    * tag, the PREVIOUS call's file is deleted here. Safe because queries
    * consume their materialized frame within the invocation that produced
    * it — the suite (bench, verify, tests) never holds a prior call's
    * result frame across a re-invocation of the same query. */
  private val liveMat =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private def supersedeMat(spark: SparkSession, tag: String, newPath: String): Unit = {
    val m = liveMat.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
    m.get(tag).foreach(old => ScratchDirs.deleteRecursively(new java.io.File(old)))
    m(tag) = newPath
  }

  /** Materialize `df` to a UNIQUE parquet file under the session's memo
    * dir (not memoized — every call writes) and return a schema-cached
    * scan of it. This is the lineage-truncation step for iterative
    * algorithms, replacing `Dataset.checkpoint(eager = true)` wherever
    * the consumer does not exploit the checkpoint's preserved output
    * partitioning: an eager reliable checkpoint computes its plan TWICE
    * (the materializing count action, then the separate checkpoint-write
    * job re-runs the lineage), while a parquet write computes once — and
    * the read-back schedules zero inference jobs. Files share the memo
    * dir's three-layer cleanup (session GC / JVM exit / stale sweep).
    * Keep `.checkpoint()` where a downstream join keys on the
    * materialized frame's preserved partitioning (e.g. pagerank's
    * pre-partitioned edges): parquet forgets partitioning and would
    * re-introduce a per-iteration shuffle there.
    *
    * LIFETIME CONTRACT: re-materializing a tag DELETES the
    * previous same-tag file (supersedeMat) — that is the unbounded
    * tmpfs growth fix, and it makes the returned frame valid only
    * until the SAME tag (or a tag-sharing sibling: the cc_* tags are
    * shared by graph_cc_sizes and llm_dedup_clusters) is materialized
    * again. Callers must consume the frame within the invocation that
    * produced it; holding it across a re-invocation yields
    * FileNotFoundException (or an empty scan), by design. Every in-tree
    * consumer (bench, Verify, the suites) runs queries to completion
    * before re-invoking, so the ban is structural there — but it is a
    * public-API contract, not an implementation footnote. */
  def materialize(spark: SparkSession, tag: String, df: DataFrame,
      expand: Double = 1.0): DataFrame =
    synchronized {
      val safe = tag.replaceAll("[^A-Za-z0-9._-]", "_").take(48)
      val p = s"${entriesFor(spark)("")._1}/mat_${safe}_${matCtr.incrementAndGet()}"
      writeNoAqe(df, p, expand)
      supersedeMat(spark, safe, p)
      spark.read.schema(df.schema).parquet(p)
    }

  /** `materialize` plus the written ROW COUNT, read driver-side from the
    * parquet FOOTERS the write just produced — zero scheduled jobs. The
    * fixpoint loops (k-core peel, star contraction) probe convergence
    * with a count per round; a `count()` over the fresh file is a
    * metadata-only plan but still a scheduled job, which is exactly what
    * the contended driver bills for (~0.4 s/round). Footer row counts
    * are exact by the parquet spec (each file's FileMetaData carries
    * num_rows), so this is the same number `count()` returns. Scope:
    * round-local fixpoint artifacts — file counts are partition-bounded
    * (one footer per task), so the driver-side listing stays trivially
    * small; a corpus-scale artifact with ~10^5 files would want the
    * distributed count job back, and gets it by calling `materialize`. */
  def materializeCounted(spark: SparkSession, tag: String,
      df: DataFrame): (DataFrame, Long) = synchronized {
    val safe = tag.replaceAll("[^A-Za-z0-9._-]", "_").take(48)
    val p = s"${entriesFor(spark)("")._1}/mat_${safe}_${matCtr.incrementAndGet()}"
    writeNoAqe(df, p)
    supersedeMat(spark, safe, p)
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(conf)
    val dataFiles = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val scan = spark.read.schema(df.schema).parquet(p)
    // An empty listing must not silently read as "0 rows ⇒ converged":
    // a future writer config (partitionBy subdirs, a codec
    // naming scheme without the .parquet suffix) would change the layout
    // out from under this flat suffix filter. Falling back to a
    // distributed count keeps the answer exact either way — a plan-empty
    // frame legitimately writes zero data files and counts 0 cheaply.
    val rows =
      if (dataFiles.isEmpty) scan.count()
      else dataFiles.iterator.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    (scan, rows)
  }

  /** Memoize a STAGED DIRECTORY per (session, key): the first call runs
    * `write(path)` (the caller stages whatever layout it needs — e.g. a
    * day-partitioned parquet drop for a streaming file source), every call
    * returns the same path. The files ride the memo dir's three-layer
    * cleanup. This exists for the streaming replay queries: their staged
    * input drop is a declared pipeline INPUT — in production the files
    * already exist when the trigger fires — so
    * staging belongs with the other per-(session, fixture) artifacts, not
    * inside every timed invocation. The checkpoint dir stays per-call:
    * only the input files are shared; each invocation still discovers,
    * plans, and processes them from scratch. */
  def stagedPath(spark: SparkSession, key: String)(write: String => Unit): String =
    synchronized {
      val entries = entriesFor(spark)
      entries.getOrElseUpdate(key, {
        val safe = key.replaceAll("[^A-Za-z0-9._-]", "_").take(64)
        // counter for the same collision-proofing as `frame` above
        val p = s"${entries("")._1}/stage_${safe}_${Integer.toHexString(key.hashCode)}_${matCtr.incrementAndGet()}"
        write(p)
        (p, new StructType())
      })._1
    }

  /** Write `df` with AQE off and a size-derived partition count. The memo
    * builds are fixed-shape plans (explicit broadcasts and repartitioning),
    * so AQE's runtime re-planning adds nothing, while under AQE every
    * exchange runs as its own job; off, the build is one job with the same
    * rows. */
  private def writeNoAqe(df: DataFrame, path: String, expand: Double = 1.0): Unit = {
    val spark = df.sparkSession
    noAqe(spark)(withShufflePartitions(spark, scaleParts(spark, df, expand))(
      df.write.mode("overwrite").parquet(path)))
  }

  /** Size-derived shuffle-partition count for a fixed-shape AQE-off build,
    * so per-task launch and fetch overhead stays proportional to the data
    * rather than to the session's core count. The count derives from the
    * plan's leaf stats (file sizes for parquet scans; a double-scanned
    * table weighs twice, roughly matching shuffle volume), at ~2 MiB of
    * scan input per post-shuffle partition (compressed parquet expands
    * ~3-5× in flight, landing partitions near ~10 MB). It is clamped to
    * the session's configured count: the derivation only shrinks a build
    * whose input cannot fill the configured parallelism, never exceeds
    * what the deployment asked for. Leaf-stats failures fall back to the
    * session value.
    *
    * `expand` is a caller-supplied expansion factor, for operators that
    * run their own actions (training collects, streaming starts,
    * pipeline writes) over plans whose shuffle volume is a known multiple
    * of the scanned bytes (a ×K codebook fan-out, a re-delivery union);
    * the count still derives from the measured input and still clamps. */
  private[graft] def scaleParts(spark: SparkSession, df: DataFrame,
      expand: Double): Int = {
    // An unreadable session conf returns the sentinel (≤ 0), never a
    // guessed count that could exceed the deployment's parallelism;
    // NonFatal so a VM error propagates.
    import scala.util.control.NonFatal
    val sessionParts =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt
      catch { case NonFatal(_) => -1 }
    if (sessionParts <= 0) return -1
    val bytes = leafBytes(df)
    if (bytes < 0) sessionParts
    else {
      val target = BigInt(2L << 20)
      val expanded = (BigDecimal(bytes) * expand).toBigInt.max(BigInt(1))
      val derived = ((expanded + target - 1) / target).max(1)
      derived.min(BigInt(sessionParts)).toInt
    }
  }

  /** Sum of the optimizer-estimated LEAF sizes of `df`'s plan (file bytes
    * for parquet scans; a double-scanned table weighs twice) — the same
    * measure scaleParts derives partition counts from, exposed for
    * callers with their own sizing formulas (the graph arc table's
    * bucket count). −1 when stats are unavailable. */
  private[graft] def leafBytes(df: DataFrame): BigInt = {
    import scala.util.control.NonFatal
    try df.queryExecution.optimizedPlan.collectLeaves()
      .map(l => l.stats.sizeInBytes).sum
    catch { case NonFatal(_) => BigInt(-1) }
  }

  /** Run `body` with each `kvs` entry set on the session conf, restoring
    * every previous value (or its absence) after, however the body ends.
    * The session conf is global to every query on the session, so the
    * set/restore runs under the same monitor as `frame`/`materialize`:
    * two threads interleaving it could strand a value. The monitor is
    * reentrant, so a scoped body may itself memoize or scope again.
    * The body holds the monitor for its whole run: keep it to planning
    * and synchronous actions, never a streaming await (a stream copies
    * the conf at `start()`, so only the start needs the scope). */
  private[graft] def withConf[T](spark: SparkSession, kvs: (String, String)*)(
      body: => T): T = synchronized {
    val conf = spark.conf
    val prev = kvs.map { case (k, _) => k -> conf.getOption(k) }
    try { kvs.foreach { case (k, v) => conf.set(k, v) }; body }
    finally prev.foreach { case (k, p) => p.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** `body` with AQE off: fixed-shape builds and iterative trainers fold
    * each action into one job (same job-count arithmetic as writeNoAqe). */
  private[graft] def noAqe[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false")(body)

  /** The shuffle-partition conf entry for `n`, or none for n ≤ 0 —
    * scaleParts' "conf unreadable" sentinel leaves the session conf
    * alone rather than install a fabricated count. */
  private[graft] def shufflePartitionsConf(n: Int): Seq[(String, String)] =
    if (n > 0) Seq("spark.sql.shuffle.partitions" -> n.toString) else Nil

  /** `body` at `n` shuffle partitions (n ≤ 0: unchanged), for frames
    * whose exchanges carry domain-bounded data. Values are
    * partitioning-independent (§2.Z pins), so only task count changes. */
  private[graft] def withShufflePartitions[T](spark: SparkSession, n: Int)(
      body: => T): T =
    withConf(spark, shufflePartitionsConf(n): _*)(body)
}
