package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.apache.spark.unsafe.bitset.BitSetMethods

/** The vector and sorted-set kernels, each written once as a plain method.
  * The Catalyst expressions below replace themselves with a `StaticInvoke`
  * of a kernel, so interpreted eval (by reflection) and whole-stage codegen
  * (a direct static call) run the same code.
  */
object VectorOps {
  /** Column-level dot product; both sides must be array<double>. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level sorted-set intersection count; both sides must be
    * array<bigint> sorted ascending with distinct elements.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    sortedIntersectCountBounded(a, b, 0.0)

  /** sortedIntersectCount with PPJoin-style early abandonment for a
    * downstream `jac >= tau` filter: the merge walk stops as soon as even a
    * perfect remaining suffix cannot reach the overlap a Jaccard of tau
    * requires. ONLY safe under that filter; see [[intersectCount]].
    */
  def sortedIntersectCountBounded(a: Column, b: Column, tau: Double): Column =
    ColumnBridge.column(
      SortedLongIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b), tau))

  /** Σ x(i)·y(i) over the shorter length, for arrays without null elements.
    * Accumulation runs index 0..n-1, left to right, exactly as
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, ...)` and DuckDB's
    * `list_dot_product` do, so the IEEE result is bit-identical to both.
    */
  def denseDot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  /** [[denseDot]] for arrays whose elements may be null: a null element
    * within the shorter length makes the result null, as null*value does
    * in the zip_with form.
    */
  def nullableDot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    if (hasNullBelow(x, n) || hasNullBelow(y, n)) null else denseDot(x, y)
  }

  /** Whether any of the first `n` elements is null. An UnsafeArrayData of
    * exactly `n` elements answers from its null bitmap a word at a time
    * (the format keeps the bits past `n` zero): a per-element test costs as
    * much as the multiply-add it guards, which doubled the dot's time.
    */
  private def hasNullBelow(a: ArrayData, n: Int): Boolean = a match {
    case u: UnsafeArrayData if u.numElements() == n =>
      BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8, (n + 63) / 64)
    case _ =>
      var i = 0
      while (i < n && !a.isNullAt(i)) i += 1
      i < n
  }

  /** |A ∩ B| of two sorted-ascending distinct long arrays by one merge
    * walk, abandoned early once a pair cannot reach Jaccard `tau`
    * (PPJoin's suffix bound, Xiao et al. WWW'08).
    *
    * jac = c/(n+m-c) >= tau needs c >= `needed`, and at any position the
    * final count is at most c + min(remaining_a, remaining_b); once that
    * bound drops below `needed` the walk returns the partial count. A pair
    * with true jac >= tau never trips the bound, so it gets the exact
    * count; a pair below tau gets a partial c' <= c, and c'/(n+m-c') is
    * monotone in c', so it still fails the filter. At tau = 0, `needed` is
    * 0 and the bound can never fire: the result is the exact count.
    *
    * `needed` is the least count whose jac passes in the filter's own
    * double arithmetic: the closed form ceil(tau*(n+m)/(1+tau)) can land
    * one too high (tau=0.8, n+m=63 gives 29, while 28/35 >= 0.8), which
    * would drop a pair at exactly jac == tau, so it steps down while
    * `needed - 1` still passes. The bound is tested only on mismatch
    * steps: a match leaves c + remaining unchanged.
    */
  def intersectCount(x: ArrayData, y: ArrayData, tau: Double): Long = {
    val n = x.numElements()
    val m = y.numElements()
    var needed = math.ceil(tau * (n + m) / (1.0 + tau)).toLong
    while (needed > 0 && (needed - 1).toDouble / (n + m - (needed - 1)) >= tau) needed -= 1
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else {
        if (xi < yj) i += 1 else j += 1
        if (c + math.min(n - i, m - j) < needed) return c
      }
    }
    c
  }
}

/** Native dot product over two array<double> columns: a bare multiply-add
  * loop over the two array buffers, with no per-row allocation, in place
  * of the zipped array and per-element lambda of the higher-order-function
  * form. A null array gives null; a null element gives a null dot, so the
  * null-element kernel is chosen whenever the resolved element type admits
  * nulls and dense vectors keep an unboxed call.
  */
case class DotProduct(left: Expression, right: Expression)
  extends RuntimeReplaceable with ExpectsInputTypes with BinaryLike[Expression] {

  override def inputTypes = Seq.fill(2)(ArrayType(DoubleType))

  override lazy val replacement: Expression = {
    val nullElements = Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })
    StaticInvoke(VectorOps.getClass, DoubleType,
      if (nullElements) "nullableDot" else "denseDot", Seq(left, right),
      returnNullable = nullElements)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two sorted-ascending distinct long arrays, walked with
  * [[VectorOps.intersectCount]] at `tau` (0 for the exact count): O(n+m)
  * with no allocation, where array_intersect builds a hash set and an
  * array per row. Inputs MUST be sorted distinct (callers guarantee it via
  * sort_array(array_distinct(...))); nothing is validated at runtime.
  */
case class SortedLongIntersectCount(left: Expression, right: Expression, tau: Double)
  extends RuntimeReplaceable with ExpectsInputTypes with BinaryLike[Expression] {

  override def inputTypes = Seq.fill(2)(ArrayType(LongType))

  override lazy val replacement: Expression =
    StaticInvoke(VectorOps.getClass, LongType, "intersectCount",
      Seq(left, right, Literal(tau)), returnNullable = false)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}
