package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The KMV buffer both sketches carry: the k smallest xxhash64 values
  * (seed 42) of the non-null inputs, stored sign-flipped so TreeSet's
  * signed order equals unsigned hash order. `merge` keeps the k smallest
  * of the union, so partials merge in any order. */
trait KmvSketch extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {
  def child: Expression
  def k: Int

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  /** Keep the flipped hash `f` if it is among the k smallest seen. */
  private def insert(buf: java.util.TreeSet[java.lang.Long], f: Long): Unit =
    if (buf.size < k) buf.add(f)
    else if (f < buf.last) { buf.add(f); if (buf.size > k) buf.remove(buf.last) }

  override def update(
      buf: java.util.TreeSet[java.lang.Long], input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, XxHash64Function.hash(v, child.dataType, 42L) ^ Long.MinValue)
    buf
  }

  override def merge(
      b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b2.forEach(f => insert(b1, f.longValue()))
    b1
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    buf.forEach(v => bb.putLong(v.longValue()))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
}

/** KMV (k-minimum-values) distinct-count sketch as a
  * `TypedImperativeAggregate` — the custom-UDAF seam for mergeable
  * sketches (SURVEY §4.3's taxonomy).
  *
  * The buffer keeps the k smallest xxhash64 values of the inputs (unsigned
  * order). With fewer than k distinct values the sketch is EXACT (it holds
  * every distinct hash); beyond that the classic KMV estimator
  * `(k-1) · 2^64 / kth-smallest` applies (Bar-Yossef et al., "Counting
  * distinct elements in a data stream" — standard public sketch; same
  * family DuckDB/Spark HLLs belong to). Deterministic for a given input
  * SET (hash-based, order-free), and `merge` is a set union of two
  * buffers — partials merge across partitions, stages, or entirely
  * separate jobs, which is what makes sketches the 100 TB answer to
  * distinct counting (ship 2 KB buffers, not keys).
  */
case class KmvDistinct(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends KmvSketch {

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    if (buf.size < k) buf.size.toLong
    else {
      // kth smallest hash as a fraction of the unsigned 2^64 space
      val h = buf.last.longValue() ^ Long.MinValue // un-flip to the raw hash
      val u = if (h >= 0) h.toDouble else h.toDouble + 1.8446744073709552e19
      math.round((k - 1) / (u / 1.8446744073709552e19))
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvDistinct =
    copy(child = newChildren.head)
}

/** The SAME KMV sketch, evaluated to its STATE instead of its estimate:
  * the ascending `array<bigint>` of the k smallest sign-flipped xxhash64
  * values (flipped so ascending signed order == ascending unsigned hash
  * order — the exact buffer KmvDistinct carries). This is the theta-union
  * seam (SURVEY §2.D addendum): per-source states are
  * plain array columns, so the cross-source UNION is pure column algebra —
  * `array_sort(array_distinct(flatten(collect_list(state))))` truncated
  * to k — executable by ANY engine reading the sketch table, no UDF and
  * no re-scan of the corpus. By construction the union of per-source
  * states equals the state a single corpus-wide KmvDistinct would build
  * (k smallest distinct hashes of a union = k smallest of the union of
  * per-part k-smallest sets), so the algebraic estimate is BIT-equal to
  * the direct sketch's — ThetaUnionSpec pins that, plus state-level
  * merge commutativity and partition invariance.
  *
  * Buffer, update, merge and serde are KmvDistinct's (KmvSketch); only
  * `eval`, `dataType` and `prettyName` differ. Estimate from a state array (engine- or SQL-side):
  * size < k ⇒ exact size; else (k−1)·2^64 / unsigned(kth) where
  * unsigned(kth) = flipped_kth + 2^63. */
case class KmvState(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends KmvSketch {

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_state"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvState =
    copy(child = newChildren.head)
}
