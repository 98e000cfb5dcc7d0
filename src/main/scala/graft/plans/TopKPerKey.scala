package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.PlanBridge

/** Native per-key TOP-K — the third whole-operator extension (after
  * AsofJoinExec and IntervalJoinExec), and the one with a PARTIAL phase:
  * like partial aggregation, per-key top-k is a semilattice reduction
  * (top-k of a union = top-k of the per-part top-ks), so each map task
  * first reduces its partition to ≤ k rows per LOCAL key with bounded
  * heaps, and only those survivors shuffle. The window-function
  * formulation (`row_number() OVER (...) <= k`, win_topk) shuffles as
  * few rows once Spark's WindowGroupLimit plants its partial limit, but
  * that limit reads a full sort of each map partition; this operator
  * never sorts, and holds k rows per key where the sort buffers the
  * whole partition.
  *
  * Contract (concrete long/double-backed types, like the other native
  * execs): key integral (long-backed), order DOUBLE descending, tie
  * integral ascending — `ORDER BY ord DESC, tie ASC`, the §2.Z.6
  * deterministic-ties rule baked into the operator. Memory per task is
  * O(distinct local keys × k) rows (the partial phase's working set —
  * a sort-based fallback would spill; documented trade-off, same class
  * as hash aggregation's).
  */
case class TopKPerKeyNode(
    child: LogicalPlan,
    key: Attribute,
    ord: Attribute,
    tie: Attribute,
    k: Int)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(c, key, ord, tie, k) =>
      val partial = PartialTopKExec(planLater(c), key, ord, tie, k)
      FinalTopKExec(partial, key, ord, tie, k) :: Nil
    case _ => Nil
  }
}

/** Shared bounded-heap reduction: per key keep the k best rows under
  * (ord DESC, tie ASC). The heap dequeues the WORST kept row first, so a
  * better candidate replaces it in O(log k). Order values compare with
  * Spark's own sort comparator (`SQLOrderingUtil.compareDoubles`: NaN
  * above every number, -0.0 equal to 0.0), so the heap keeps exactly the
  * rows a `row_number() OVER (... ORDER BY ord DESC, tie ASC) <= k`
  * window keeps. */
private[plans] object TopKHeaps {
  type Entry = (Double, Long, InternalRow)
  // PriorityQueue dequeues its ordering's MAX; rank the worst row highest:
  // smaller ord is worse; on equal ord, larger tie is worse.
  private val worstFirst: Ordering[Entry] = new Ordering[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val c = SQLOrderingUtil.compareDoubles(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Both phases' body: each partition reduced in place. */
  def execute(child: SparkPlan, key: Attribute, ord: Attribute, tie: Attribute,
              k: Int): RDD[InternalRow] = {
    def slot(a: Attribute, what: String): Int = {
      val i = child.output.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"top-k $what attribute must come from the child plan")
      i
    }
    val (ki, oi, ti) = (slot(key, "key"), slot(ord, "order"), slot(tie, "tie"))
    child.execute().mapPartitions(reduce(_, ki, oi, ti, k), preservesPartitioning = true)
  }

  /** Reduce an iterator to ≤ k rows per key; emit survivors best-first
    * per key (the final phase relies on that order, the partial phase
    * doesn't care). */
  def reduce(
      rows: Iterator[InternalRow],
      kIdx: Int, oIdx: Int, tIdx: Int, k: Int): Iterator[InternalRow] = {
    val heaps = new java.util.HashMap[Long, scala.collection.mutable.PriorityQueue[Entry]]()
    rows.foreach { r =>
      // getLong/getDouble on a NULL slot returns an undefined primitive,
      // not an error — the operator defines no NULL ordering, so corrupt
      // results must be impossible: reject actual NULLs loudly. (Parquet
      // schemas are nullable even for null-free data, so this cannot be a
      // static check at the topK entry point.)
      if (r.isNullAt(kIdx) || r.isNullAt(oIdx) || r.isNullAt(tIdx))
        throw new IllegalArgumentException(
          "topK: NULL in key/order/tie column — the bounded-heap reduce defines no NULL " +
            "ordering; filter or coalesce NULLs before calling topK")
      val key = r.getLong(kIdx)
      val ord = r.getDouble(oIdx)
      val tie = r.getLong(tIdx)
      var h = heaps.get(key)
      if (h == null) {
        h = scala.collection.mutable.PriorityQueue.empty[Entry](worstFirst)
        heaps.put(key, h)
      }
      if (h.size < k) {
        h.enqueue((ord, tie, r.copy()))
      } else {
        // primitive compare before any allocation: on the map-side phase
        // nearly every row is rejected here. Same ordering as worstFirst.
        val head = h.head
        val c = SQLOrderingUtil.compareDoubles(head._1, ord)
        if (c < 0 || (c == 0 && tie < head._2)) { // candidate beats the worst
          h.dequeue()
          h.enqueue((ord, tie, r.copy()))
        }
      }
    }
    val it = heaps.values().iterator()
    new Iterator[InternalRow] {
      private var cur: Iterator[InternalRow] = Iterator.empty
      override def hasNext: Boolean = {
        while (!cur.hasNext && it.hasNext) {
          val h = it.next()
          val buf = new Array[InternalRow](h.size)
          var i = h.size - 1
          while (i >= 0) { buf(i) = h.dequeue()._3; i -= 1 } // best-first
          cur = buf.iterator
        }
        cur.hasNext
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        cur.next()
      }
    }
  }
}

/** The two phases share output, partitioning and body; they differ only
  * in what they ask of their child's distribution. */
sealed trait TopKPhaseExec extends UnaryExecNode {
  def key: Attribute
  def ord: Attribute
  def tie: Attribute
  def k: Int
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  protected override def doExecute(): RDD[InternalRow] =
    TopKHeaps.execute(child, key, ord, tie, k)
}

/** Map-side phase: no distribution requirement — reduces each input
  * partition in place, so only ≤ k rows per (task, local key) reach the
  * exchange the final phase asks for. */
case class PartialTopKExec(
    child: SparkPlan, key: Attribute, ord: Attribute, tie: Attribute, k: Int)
  extends TopKPhaseExec {
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/** Reduce-side phase: requires clustering by key (EnsureRequirements
  * inserts the hash exchange over the partial survivors), merges the
  * per-task candidates, emits each key's rows best-first. */
case class FinalTopKExec(
    child: SparkPlan, key: Attribute, ord: Attribute, tie: Attribute, k: Int)
  extends TopKPhaseExec {
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKExec =
    copy(child = newChild)
}

/** Column-API entry point, same pattern as AsofJoin/IntervalJoin. */
object TopKPerKey {
  def topK(df: DataFrame, key: String, ord: String, tie: String, k: Int): DataFrame = {
    val lp = PlanBridge.logicalPlan(df)
    def attr(name: String): Attribute = EntryChecks.attr(lp, name)
    // TopKHeaps.reduce reads raw getLong/getDouble slots, so any other
    // type would yield garbage rows: fail fast with the exact mismatch.
    // Nullability can't be a static check (parquet schemas are nullable
    // even for null-free data): actual NULLs are rejected at runtime
    // inside TopKHeaps.reduce.
    def require2(a: Attribute, role: String, dt: org.apache.spark.sql.types.DataType): Unit = {
      if (a.dataType != dt) throw new IllegalArgumentException(
        s"topK $role column '${a.name}' must be $dt (raw-slot heap reduce), got ${a.dataType}; " +
          "cast it explicitly before calling topK")
    }
    val (ka, oa, ta) = (attr(key), attr(ord), attr(tie))
    require2(ka, "key", org.apache.spark.sql.types.LongType)
    require2(oa, "order", org.apache.spark.sql.types.DoubleType)
    require2(ta, "tie", org.apache.spark.sql.types.LongType)
    require(k > 0, s"topK k must be positive, got $k")
    PlanBridge.dataFrame(df.sparkSession,
      TopKPerKeyNode(lp, ka, oa, ta, k))
  }
}
