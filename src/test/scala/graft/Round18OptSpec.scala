package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Structural pins on partition counts and session-conf scoping:
  *
  *  - the graph arc table's bucket count is SIZE-DERIVED with the session's
  *    configured shuffle partitions as the floor — at fixture scale the
  *    derivation must floor to exactly the session value, so a
  *    deployment's parallelism is never undercut by the on-disk layout;
  *  - scaleParts' conf-unreadable SENTINEL (≤ 0) leaves the session conf
  *    untouched: never install a fabricated count;
  *  - the loader's streaming calls scope their conf to `start()` only: the
  *    stream keeps the scoped values (read back through a
  *    StreamingQueryListener), the session reads the same after the call
  *    as before it, and the await runs outside the MemoFrames monitor.
  */
class Round18OptSpec extends AnyFunSuite {
  import TestSpark._

  test("graph arc table buckets floor at the session's shuffle partitions") {
    // building any consumer of the shared arc artifact stages the bucketed
    // table; the test session runs at 4 shuffle partitions over a tiny
    // fixture, so the byte-derivation must FLOOR to 4 (pre-r18: always 32)
    SparkEntry.queries("graph_pagerank")(spark, sf0001).collect()
    // only this session's table: other suites' sessions (another shuffle
    // conf) stage theirs in the same catalog, named with their own identity
    val own = "_" + Integer.toHexString(System.identityHashCode(spark))
    val tbl = spark.sessionState.catalog.listTables("default")
      .map(_.table).filter(t => t.startsWith("graft_arcs_b_") && t.endsWith(own))
    assert(tbl.nonEmpty, "bucketed arc table not found in the catalog")
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val specs = tbl.map(t => spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec)
    assert(specs.forall(_.isDefined), "arc table lost its bucket spec")
    // a tiny fixture can never out-derive the floor
    assert(specs.flatten.map(_.numBuckets).distinct == Seq(sessionParts),
      s"expected bucket count == session parallelism ($sessionParts), " +
        s"got ${specs.flatten.map(_.numBuckets).distinct}")
  }

  test("scaleParts sentinel (≤ 0) leaves the session conf untouched") {
    val k = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(k)
    operators.MemoFrames.withShufflePartitions(spark, -1) {
      assert(spark.conf.get(k) == before, "withShufflePartitions overrode conf on sentinel")
    }
    operators.MemoFrames.withConf(spark, operators.MemoFrames.shufflePartitionsConf(0): _*) {
      assert(spark.conf.get(k) == before, "shufflePartitionsConf(0) set a count")
    }
    assert(spark.conf.get(k) == before)
  }

  private val scopedKeys =
    Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")

  /** Runs the declared query `q` and returns the progress of its streams
    * named `prefix*` once each of them has reported its termination
    * (progress and termination events share one ordered bus), after
    * checking that the scoped conf keys read the same after the call as
    * before it. */
  private def progressOf(q: String, prefix: String): Seq[StreamingQueryProgress] = {
    import scala.jdk.CollectionConverters._
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) { started.add(e.id); () }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (Option(e.progress.name).exists(_.startsWith(prefix))) { progress.add(e.progress); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        ended.add(e.id); ()
      }
    }
    val before = scopedKeys.map(spark.conf.getOption)
    spark.streams.addListener(l)
    try {
      SparkEntry.queries(q)(spark, sf0001).collect()
      assert(scopedKeys.map(spark.conf.getOption) == before, s"$q leaked its scoped conf")
      def settled = !started.isEmpty && started.asScala.forall(ended.contains)
      val deadline = System.nanoTime() + 60L * 1000000000
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
      assert(settled, s"$q: start/termination events never arrived")
    } finally spark.streams.removeListener(l)
    progress.asScala.toSeq
  }

  test("stream_incremental state keeps the drop's derived partitions") {
    val (src, schema) = operators.Streaming.incrStage(spark, sf0001)
    val want = operators.MemoFrames.scaleParts(spark,
      spark.read.schema(schema).parquet(src), 1.0)
    assert(want > 0 && want != spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"derived count $want must differ from the session's to pin anything")
    val ops = progressOf("stream_incremental", "inc_").flatMap(_.stateOperators)
    assert(ops.nonEmpty, "no state operator progress reported")
    assert(ops.map(_.numShufflePartitions).distinct == Seq(want.toLong))
  }

  test("stream_dedup_watermark runs one batch, no no-data batch") {
    val executed = progressOf("stream_dedup_watermark", "ddw_")
      .filter(_.durationMs.containsKey("addBatch"))
    assert(executed.map(_.batchId) == Seq(0L))
  }

  test("runToEnd awaits outside the MemoFrames monitor") {
    val (src, schema) = operators.Streaming.incrStage(spark, sf0001)
    val tmp = operators.ScratchDirs.tempDir("graft_monitor_")
    val memoCalled = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // with the monitor held across the await, the batch body's
    // MemoFrames-synchronized call would block until the await timed out
    val run = new Thread(() =>
      try operators.Streaming.runToEnd(spark,
        spark.readStream.schema(schema).parquet(src).writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (_: DataFrame, _: Long) =>
            operators.MemoFrames.knownKeys(spark); memoCalled.countDown()
          },
        "monitor probe", operators.MemoFrames.shufflePartitionsConf(3): _*)
      catch { case t: Throwable => failure.set(t) })
    try {
      run.start()
      assert(memoCalled.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "a foreachBatch body blocked on the MemoFrames monitor")
      run.join(60000)
      assert(!run.isAlive, "runToEnd did not return")
      assert(failure.get == null, s"runToEnd failed: ${failure.get}")
    } finally operators.ScratchDirs.deleteRecursively(tmp)
  }
}
