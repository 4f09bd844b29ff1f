package graft

import org.apache.spark.sql.functions._

import scala.util.Random

import graft.functions.VectorOps

/** Equivalence fuzz for the early-abandon intersect (round 22): under a
  * downstream `jac >= tau` filter, SortedLongIntersectCountBounded must be
  * indistinguishable from the exact SortedLongIntersectCount —
  *
  *   - a pair whose true jaccard is >= tau must return the EXACT count
  *     (the abandon bound is an upper bound on the true count, so it can
  *     never fire on a qualifying pair);
  *   - a pair below tau may return any partial count c' <= true count,
  *     as long as the jac computed from c' also fails the filter
  *     (monotonicity: c'/(n+m-c') <= c/(n+m-c) < tau).
  *
  * Both the codegen path (DataFrame select) and the interpreted path
  * (nullSafeEval via the expression directly) are exercised, across sizes
  * 0..~200 and overlap regimes clustered around the threshold.
  */
class IntersectBoundSpec extends GraftSpec {
  private def jac(inter: Long, n: Int, m: Int): Double =
    if (n + m - inter == 0) Double.NaN
    else inter.toDouble / (n + m - inter).toDouble

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
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val rnd = new Random(0x1E7B0DE)
    def lit(a: Array[Long]) =
      Literal(ArrayData.toArrayData(a), ArrayType(LongType, containsNull = false))
    for (_ <- 0 until 300) {
      val k = rnd.nextInt(40)
      val core = Seq.fill(k)(rnd.nextLong(100000L)).distinct
      val a = (core ++ Seq.fill(rnd.nextInt(15))(100000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      val b = (core ++ Seq.fill(rnd.nextInt(15))(200000L + rnd.nextLong(100000L)).distinct).sorted.toArray
      val tau = Seq(0.5, 0.8, 0.9)(rnd.nextInt(3))
      val exact = graft.functions.SortedLongIntersectCount(lit(a), lit(b))
        .eval(null).asInstanceOf[Long]
      val bounded = graft.functions
        .SortedLongIntersectCountBounded(lit(a), lit(b), tau)
        .eval(null).asInstanceOf[Long]
      val jE = jac(exact, a.length, b.length)
      if (!jE.isNaN && jE >= tau) assert(bounded == exact)
      else {
        val jB = jac(bounded, a.length, b.length)
        assert(bounded <= exact && (jB.isNaN || jB < tau))
      }
    }
  }

  /** A child session without ConvertToLocalRelation: with it, a select
    * over a local Seq is folded at plan time by an interpreted projection,
    * and the generated code never runs.
    */
  private lazy val codegen = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    s
  }

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
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(a: Array[Long]) =
      Literal(ArrayData.toArrayData(a), ArrayType(LongType, containsNull = false))
    for ((tau, a, b) <- onTau) {
      val bounded = graft.functions
        .SortedLongIntersectCountBounded(lit(a), lit(b), tau)
        .eval(null).asInstanceOf[Long]
      val shared = a.intersect(b).length.toLong
      assert(bounded == shared, s"tau=$tau n=${a.length} m=${b.length}: $bounded vs $shared")
    }
  }
}
