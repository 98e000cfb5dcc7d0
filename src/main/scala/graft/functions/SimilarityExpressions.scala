package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused similarity kernels, called from both interpreted eval and the
  * Janino-generated code (the Scala object exposes static forwarders, so
  * generated Java can call `graft.functions.SimilarityKernels.jaccard`).
  *
  * Why custom expressions (SURVEY §4.3's "profiled-bottleneck escape
  * hatch"): the HOF formulations allocate per row — `array_intersect` +
  * `array_union` build result arrays only to take their sizes
  * (llm_dedup_near evaluates them on ~600k pairs at sf0.1), and
  * `zip_with` materializes a products array before `aggregate` folds it.
  * These kernels compute the scalar directly, one pass, zero allocation
  * beyond a hash set. Accumulation order matches the HOF formulations
  * (sequential, left-to-right), so results are bit-identical and the
  * DuckDB oracles are unaffected.
  */
object SimilarityKernels {

  /** Token-set Jaccard |A∩B| / |A∪B| (duplicates ignored, like
    * array_distinct inputs). */
  def jaccard(a: ArrayData, b: ArrayData): Double = jaccard(a, b, false)

  /** Merge-intersection for arrays that are distinct AND sorted (the
    * dedup operators pre-sort once per document with `sort_array`): one
    * O(na+nb) pass, no hash set, no per-element bookkeeping — the
    * verify stage runs over millions of pairs and was GC-bound with the
    * set-based kernel (profiled: 6.1M pairs at sf0.1). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Merge-intersection over sorted distinct `array<bigint>` — the
    * hash-id encoding (`xxhash64(term)`) used by the dedup operators:
    * ids are computed map-side inside the document row, so there is no
    * vocabulary table, no dictionary shuffle, and no single-partition
    * ranking window anywhere in the pipeline. */
  def jaccardSortedLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** `assumeDistinct = true` skips the B-side dedup set — correct whenever
    * both inputs come from `array_distinct` (every internal call site),
    * and ~2× cheaper on the multi-million-pair dedup verify stage. */
  def jaccard(a: ArrayData, b: ArrayData, assumeDistinct: Boolean): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](math.max(4, na * 2))
    var i = 0
    while (i < na) { setA.add(a.getUTF8String(i)); i += 1 }
    val sa = setA.size
    var sb = 0
    var inter = 0
    var j = 0
    if (assumeDistinct) {
      sb = nb
      while (j < nb) { if (setA.contains(b.getUTF8String(j))) inter += 1; j += 1 }
    } else {
      val seenB = new java.util.HashSet[UTF8String](math.max(4, nb * 2))
      while (j < nb) {
        val s = b.getUTF8String(j)
        if (seenB.add(s)) { sb += 1; if (setA.contains(s)) inter += 1 }
        j += 1
      }
    }
    val union = sa + sb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** 64-bit SimHash from per-token hashes: each hash votes +1/−1 per bit
    * position, sign of the vote sets the signature bit. One pass over the
    * token-hash array, computed INSIDE the document row — replaces an
    * explode + 64-column groupBy (round 1 shuffled every (doc, token) pair
    * to build the same votes). Bit-identical to the aggregate formulation:
    * same hashes → same votes → same signature. */
  def simhash64(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Cosine similarity over equal-length double arrays; accumulation order
    * (index 0..n-1, dot and norms in one pass) matches the
    * zip_with+aggregate HOF pipeline bit-for-bit.
    *
    * Length mismatch FAILS FAST (round-13 review): `cosine_sim` is
    * SQL-registered, and UnsafeArrayData's getDouble has no bounds
    * check — iterating a's length over a shorter b reads garbage off
    * the end of the row buffer and returns a silently-wrong similarity.
    * One integer compare per row buys away a silent-corruption class. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements())
      // SparkRuntimeException with the USER_RAISED_EXCEPTION condition
      // (the raise_error() channel) instead of a bare
      // IllegalArgumentException (ADVICE r13): cosine_sim is
      // SQL-registered, and a plain RuntimeException from inside a task
      // surfaces as an opaque wrapped task failure — the SparkThrowable
      // path keeps the message intact through driver-side error wrapping.
      throw org.apache.spark.sql.graftshim.ErrorBridge.userRaised(
        s"cosine_sim: input arrays must have equal length, got $n and ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `jaccard_sim(array<string>, array<string>) -> double` — native Catalyst
  * expression with whole-stage codegen (doGenCode emits a direct static
  * call; no UDF serialization, no interpreted eval in the hot loop). */
case class JaccardSim(left: Expression, right: Expression,
                      assumeDistinct: Boolean = false,
                      assumeSorted: Boolean = false)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (assumeSorted)
      SimilarityKernels.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SimilarityKernels.jaccard(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], assumeDistinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (assumeSorted)
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.SimilarityKernels.jaccardSorted($a, $b)")
    else
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.SimilarityKernels.jaccard($a, $b, $assumeDistinct)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** Jaccard over sorted distinct hash-encoded token ids (`array<bigint>`,
  * from `xxhash64(term)`) — see SimilarityKernels.jaccardSortedLong. */
case class JaccardLongSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.LongType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_long_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernels.jaccardSortedLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SimilarityKernels.jaccardSortedLong($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardLongSim =
    copy(left = newLeft, right = newRight)
}

/** `simhash64(array<bigint>) -> bigint` — map-side SimHash signature from
  * per-token hashes; see SimilarityKernels.simhash64. */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.LongType
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(a: Any): Any =
    SimilarityKernels.simhash64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimilarityKernels.simhash64($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `cosine_sim(array<double>, array<double>) -> double` — fused
  * dot-and-norms, one pass, codegen'd. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimilarityKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimilarityKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points. Built directly from the expressions via
  * ColumnBridge, so they work on ANY session — no GraftExtensions
  * registration required (that registration additionally exposes the
  * same expressions to `spark.sql(...)` as `jaccard_sim`/`cosine_sim`). */
object sim {
  import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
  /** Internal call sites always pass array_distinct'ed tokens, so the
    * fast distinct-assuming kernel applies; the SQL-registered form stays
    * general. */
  def jaccardSim(a: Column, b: Column): Column =
    column(JaccardSim(expression(a), expression(b), assumeDistinct = true))

  /** For sorted distinct hash-encoded id arrays (`array<bigint>`). */
  def jaccardLongSim(a: Column, b: Column): Column =
    column(JaccardLongSim(expression(a), expression(b)))
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
  def simhash64(a: Column): Column =
    column(SimHash64(expression(a)))
  def kmvDistinct(c: Column, k: Int = 256): Column =
    column(KmvDistinct(expression(c), k).toAggregateExpression())
  def kmvState(c: Column, k: Int = 256): Column =
    column(KmvState(expression(c), k).toAggregateExpression())
  def topkSketch(c: Column, m: Int = 64, k: Int = 10): Column =
    column(TopKSketch(expression(c), m, k).toAggregateExpression())
  def countMinFreq(c: Column, probes: Seq[String],
      depth: Int = 4, width: Int = 512): Column =
    column(CountMinFreq(expression(c), probes, depth, width).toAggregateExpression())
  def ddsketchState(c: Column, alpha: Double = 0.01, maxBuckets: Int = 2048): Column =
    column(DdSketchState(expression(c), alpha, maxBuckets).toAggregateExpression())
}
