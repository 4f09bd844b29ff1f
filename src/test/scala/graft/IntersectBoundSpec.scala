package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import scala.util.Random

import graft.functions.{SortedLongIntersectCount, VectorOps}

/** Equivalence fuzz for the early-abandon intersect: under a downstream
  * `jac >= tau` filter, the intersect at tau must be indistinguishable
  * from the exact one (the same kernel at tau = 0) —
  *
  *   - a pair whose true jaccard is >= tau must return the EXACT count
  *     (the abandon bound is an upper bound on the true count, so it can
  *     never fire on a qualifying pair);
  *   - a pair below tau may return any partial count c' <= true count,
  *     as long as the jac computed from c' also fails the filter
  *     (monotonicity: c'/(n+m-c') <= c/(n+m-c) < tau).
  *
  * Both the generated route (DataFrame select) and the reflective route
  * (the StaticInvoke replacement evaluated on literals) are exercised,
  * across sizes 0..~200 and overlap regimes clustered around the threshold.
  */
class IntersectBoundSpec extends GraftSpec {
  private def jac(inter: Long, n: Int, m: Int): Double =
    if (n + m - inter == 0) Double.NaN
    else inter.toDouble / (n + m - inter).toDouble

  private def lit(a: Array[Long]) =
    Literal(ArrayData.toArrayData(a), ArrayType(LongType, containsNull = false))

  /** The reflective route: StaticInvoke's interpreted eval. */
  private def evalCount(a: Array[Long], b: Array[Long], tau: Double): Long =
    SortedLongIntersectCount(lit(a), lit(b), tau).replacement.eval(null).asInstanceOf[Long]

  test("bounded intersect is exact above tau and filter-equivalent below") {
    val rnd = new Random(0xB0DE22)
    val taus = Seq(0.5, 0.8, 0.9)
    // Pairs engineered to straddle each threshold: draw a shared core of
    // k elements plus disjoint tails, so true jac = k / (k + ta + tb)
    // sweeps through the threshold as the tails grow.
    val pairs = (0 until 400).map { _ =>
      val k = rnd.nextInt(100)
      val ta = rnd.nextInt(30)
      val tb = rnd.nextInt(30)
      val core = Seq.fill(k)(rnd.nextLong(1000000L)).distinct
      // Disjoint tails live in separate id ranges so they never collide
      // with the core or each other.
      val tailA = Seq.fill(ta)(1000000L + rnd.nextLong(1000000L)).distinct
      val tailB = Seq.fill(tb)(2000000L + rnd.nextLong(1000000L)).distinct
      ((core ++ tailA).sorted.toArray, (core ++ tailB).sorted.toArray)
    } ++ Seq( // edge shapes
      (Array.empty[Long], Array.empty[Long]),
      (Array.empty[Long], Array(1L, 2L, 3L)),
      (Array(5L), Array(5L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)))

    val df = codegen.createDataFrame(pairs).toDF("a", "b")
    for (tau <- taus) {
      val rows = df.select(
        size(col("a")).as("n"), size(col("b")).as("m"),
        VectorOps.sortedIntersectCount(col("a"), col("b")).as("exact"),
        VectorOps.sortedIntersectCountBounded(col("a"), col("b"), tau)
          .as("bounded"))
        .collect()
      assert(rows.length == pairs.length)
      for (r <- rows) {
        val (n, m) = (r.getInt(0), r.getInt(1))
        val exact = r.getLong(2); val bounded = r.getLong(3)
        val jE = jac(exact, n, m)
        if (!jE.isNaN && jE >= tau) {
          assert(bounded == exact,
            s"tau=$tau n=$n m=$m: qualifying pair must get the exact " +
              s"count, got $bounded vs $exact")
        } else {
          assert(bounded <= exact,
            s"tau=$tau n=$n m=$m: partial count must not exceed exact")
          val jB = jac(bounded, n, m)
          assert(jB.isNaN || jB < tau,
            s"tau=$tau n=$n m=$m: below-threshold pair must stay below " +
              s"(bounded=$bounded exact=$exact jB=$jB)")
        }
      }
    }
  }

  test("interpreted path agrees with codegen semantics") {
    val rnd = new Random(0x1E7B0DE)
    val cases = (0 until 300).map { _ =>
      val k = rnd.nextInt(40)
      val core = Seq.fill(k)(rnd.nextLong(100000L)).distinct
      val a = (core ++ Seq.fill(rnd.nextInt(15))(100000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      val b = (core ++ Seq.fill(rnd.nextInt(15))(200000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      (a, b, Seq(0.5, 0.8, 0.9)(rnd.nextInt(3)))
    }
    for ((tau, group) <- cases.groupBy(_._3)) {
      val rows = codegen.createDataFrame(group.map { case (a, b, _) => (a, b) }).toDF("a", "b")
        .select(VectorOps.sortedIntersectCount(col("a"), col("b")),
          VectorOps.sortedIntersectCountBounded(col("a"), col("b"), tau))
        .collect()
      for (((a, b, _), r) <- group.zip(rows)) {
        val exact = evalCount(a, b, 0.0)
        val bounded = evalCount(a, b, tau)
        assert((r.getLong(0), r.getLong(1)) == ((exact, bounded)),
          s"tau=$tau n=${a.length} m=${b.length}: generated vs reflective")
        val jE = jac(exact, a.length, b.length)
        if (!jE.isNaN && jE >= tau) assert(bounded == exact)
        else {
          val jB = jac(bounded, a.length, b.length)
          assert(bounded <= exact && (jB.isNaN || jB < tau))
        }
      }
    }
  }

  private lazy val codegen = codegenSession()

  /** Every (n, m, c) with n, m <= 60 whose jac is exactly tau in the
    * filter's double arithmetic, built so the walk meets all mismatches
    * before the first match: the order in which a `needed` one too high
    * abandons the walk and drops the pair (tau=0.8, n=28, m=35 is one).
    */
  private val onTau: Seq[(Double, Array[Long], Array[Long])] = for {
    tau <- Seq(0.5, 0.8, 0.9)
    n <- 1 to 60; m <- 1 to 60; c <- 1 to math.min(n, m)
    if c.toDouble / (n + m - c) == tau
  } yield {
    val shared = (0 until c).map(10000L + _)
    (tau, ((0 until n - c).map(1000L + _) ++ shared).toArray,
      ((0 until m - c).map(5000L + _) ++ shared).toArray)
  }

  test("pairs at exactly jac == tau get the exact count (codegen)") {
    assert(onTau.exists { case (t, a, b) => t == 0.8 && a.length == 28 && b.length == 35 })
    for ((tau, group) <- onTau.groupBy(_._1)) {
      val rows = codegen.createDataFrame(group.map { case (_, a, b) => (a, b) })
        .toDF("a", "b").select(
        VectorOps.sortedIntersectCount(col("a"), col("b")),
        VectorOps.sortedIntersectCountBounded(col("a"), col("b"), tau))
        .collect()
      for (r <- rows) assert(r.getLong(1) == r.getLong(0), s"tau=$tau: ${r.getLong(1)} vs ${r.getLong(0)}")
    }
  }

  test("pairs at exactly jac == tau get the exact count (interpreted)") {
    for ((tau, a, b) <- onTau) {
      val bounded = evalCount(a, b, tau)
      val shared = a.intersect(b).length.toLong
      assert(bounded == shared, s"tau=$tau n=${a.length} m=${b.length}: $bounded vs $shared")
    }
  }
}
