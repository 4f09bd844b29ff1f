package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.{SortArray, ArrayDistinct}

import graft.functions.{DotProduct, SortedLongIntersectCount}

/** SparkSessionExtensions entry point (the brief's sanctioned registration
  * path for custom Catalyst work): makes the native expressions callable
  * from SQL, so `spark.sql("SELECT graft_dot(a, b) ...")` works anywhere
  * the Scala `VectorOps` API does.
  *
  * `Harness.session` installs it; elsewhere wire it with
  *   spark.sql.extensions=graft.GraftExtensions
  * Registration is idempotent per session.
  *
  * `graft_intersect_count` wraps each input in sort_array(array_distinct)
  * before the sorted-merge scan: the raw SortedLongIntersectCount assumes
  * sorted-distinct inputs (a private fast path — the LSH verify stage
  * guarantees it structurally) and silently miscounts otherwise, so the
  * SQL-facing form normalizes first. Catalyst folds the normalizers away
  * when the child is already sort_array(array_distinct(...)).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrayA, arrayB)")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName,
        "graft_intersect_count"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_intersect_count(arrayA, arrayB)")
        def norm(e: Expression) =
          SortArray(ArrayDistinct(e),
            org.apache.spark.sql.catalyst.expressions.Literal(true))
        SortedLongIntersectCount(norm(children.head), norm(children(1)))
      }))
  }
}
