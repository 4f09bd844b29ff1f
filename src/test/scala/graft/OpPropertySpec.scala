package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{DotProduct, VectorOps}
import graft.queries.TextQueries

/** SURVEY §5.2(3) — the operator-level properties beyond the MinHash
  * sketch: dedup idempotence, top-k ⊆ sorted prefix, similarity symmetry
  * and range bounds, window rank density, and codegen↔interpreted
  * agreement for the native DotProduct expression. Each property runs as
  * ONE Spark job over a fixed-seed generated batch (deterministic, no
  * per-trial job overhead).
  */
class OpPropertySpec extends GraftSpec {

  private val rnd = new Random(0x5eed)

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val s = spark
    import s.implicits._
    val docs = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(6)).map(_ => s"w${rnd.nextInt(8)}").mkString(" "))
    }.toDF("doc_id", "text")
    def dedup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text"))
    val once = dedup(docs)
    val twice = dedup(once)
    assert(TestEnv.sparkRows(once.orderBy(col("doc_id")))._2 ==
      TestEnv.sparkRows(twice.orderBy(col("doc_id")))._2)
  }

  test("top-k is exactly the k-prefix of the total sort") {
    val s = spark
    import s.implicits._
    val data = (1 to 500).map(i => (i.toLong, rnd.nextDouble())).toDF("id", "x")
    val topk = data.orderBy(col("x").desc, col("id")).limit(25).collect().toSeq
    val prefix = data.orderBy(col("x").desc, col("id")).collect().take(25).toSeq
    assert(topk == prefix)
  }

  test("jaccard: symmetric, in [0,1], 1 iff equal sets, 0 iff disjoint") {
    val s = spark
    import s.implicits._
    val cases = (1 to 200).map { i =>
      val a = (0 until 1 + rnd.nextInt(10)).map(_ => s"t${rnd.nextInt(12)}").distinct
      val b = if (i % 7 == 0) a
        else if (i % 5 == 0) a.map(_ + "_x") // disjoint
        else (0 until 1 + rnd.nextInt(10)).map(_ => s"t${rnd.nextInt(12)}").distinct
      (a, b)
    }.toDF("a", "b")
    val inter = size(array_intersect(col("a"), col("b")))
    val jac = inter.cast("double") /
      (size(col("a")) + size(col("b")) - inter).cast("double")
    val interBA = size(array_intersect(col("b"), col("a")))
    val jacBA = interBA.cast("double") /
      (size(col("b")) + size(col("a")) - interBA).cast("double")
    val rows = cases.select(jac.as("ab"), jacBA.as("ba"),
      (size(array_except(col("a"), col("b"))) === 0 &&
        size(array_except(col("b"), col("a"))) === 0).as("eq"),
      (size(array_intersect(col("a"), col("b"))) === 0).as("disjoint"))
      .collect()
    rows.foreach { r =>
      val (ab, ba) = (r.getDouble(0), r.getDouble(1))
      assert(ab == ba, "symmetry")
      assert(ab >= 0.0 && ab <= 1.0, "range")
      if (r.getBoolean(2)) assert(ab == 1.0, "identical sets → 1")
      if (r.getBoolean(3)) assert(ab == 0.0, "disjoint sets → 0")
    }
  }

  test("cosine via DotProduct: symmetric, |cos| <= 1 + eps, self-cos == 1") {
    val s = spark
    import s.implicits._
    val vecs = (1 to 200).map { _ =>
      ((0 until 16).map(_ => rnd.nextDouble() * 2 - 1).toArray,
        (0 until 16).map(_ => rnd.nextDouble() * 2 - 1).toArray)
    }.toDF("a", "b")
    val cos = VectorOps.dot(col("a"), col("b")) /
      (sqrt(VectorOps.dot(col("a"), col("a"))) * sqrt(VectorOps.dot(col("b"), col("b"))))
    val cosBA = VectorOps.dot(col("b"), col("a")) /
      (sqrt(VectorOps.dot(col("b"), col("b"))) * sqrt(VectorOps.dot(col("a"), col("a"))))
    val selfCos = VectorOps.dot(col("a"), col("a")) /
      (sqrt(VectorOps.dot(col("a"), col("a"))) * sqrt(VectorOps.dot(col("a"), col("a"))))
    val rows = vecs.select(cos.as("ab"), cosBA.as("ba"), selfCos.as("self")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "symmetry (same multiply order per side)")
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-12, "Cauchy-Schwarz")
      assert(math.abs(r.getDouble(2) - 1.0) <= 1e-12, "self-cosine 1")
    }
  }

  test("DotProduct codegen agrees with interpreted eval bit-for-bit") {
    // Generated route: whole-stage codegen over a DataFrame. Reflective
    // route: the StaticInvoke replacement evaluated on literals. Both
    // kernels are covered: dense (non-null element type) and null-element.
    val s = codegenSession()
    import s.implicits._
    val vecs = (1 to 100).map { _ =>
      ((0 until 64).map(_ => rnd.nextDouble() * 2 - 1).toArray,
        (0 until 64).map(_ => rnd.nextDouble() * 2 - 1).toArray)
    }
    val df = vecs.toDF("a", "b")
    val nullableElems = "array<double>"
    val fromCodegen = df.select(VectorOps.dot(col("a"), col("b")),
      VectorOps.dot(col("a").cast(nullableElems), col("b").cast(nullableElems)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    for (containsNull <- Seq(false, true)) {
      val fromEval = vecs.map { case (a, b) =>
        DotProduct(
          Literal.create(ArrayData.toArrayData(a), ArrayType(DoubleType, containsNull)),
          Literal.create(ArrayData.toArrayData(b), ArrayType(DoubleType, containsNull)))
          .replacement.eval(null).asInstanceOf[Double]
      }
      fromCodegen.zip(fromEval).foreach { case ((dense, nullable), e) =>
        val c = if (containsNull) nullable else dense
        assert(java.lang.Double.doubleToLongBits(c) == java.lang.Double.doubleToLongBits(e))
      }
    }
  }

  test("DotProduct compiles when only ELEMENTS are nullable (r9 Janino fallback)") {
    // Shape: a NON-nullable array column with NULLABLE elements. A null
    // element nulls the dot, so the expression is nullable although neither
    // input is; the generated code must declare and assign the null flag.
    // fallback=false makes a generated-code compile error a hard failure
    // instead of a silent per-row interpreter fallback, and the hashAgg
    // form covers the aggregate shape as well.
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    import s.implicits._
    val df = (0 until 8).toDF("id")
      .select(col("id"), transform(sequence(lit(0), lit(3)),
        i => when(i + col("id") =!= 2, (i + col("id")).cast("double"))).as("v"))
    val vField = df.schema("v")
    assert(!vField.nullable &&
      vField.dataType.asInstanceOf[ArrayType].containsNull,
      "test shape must be non-nullable array with nullable elements")
    val dots = df.select(VectorOps.dot(col("v"), col("v")).as("d")).collect()
    assert(dots.count(_.isNullAt(0)) == 3,
      "a null element must null the row's dot (ids 0..2 hit i+id==2)")
    val total = df.agg(sum(VectorOps.dot(col("v"), col("v"))))
      .collect().head.getDouble(0)
    val expected = (3 until 8).map(id =>
      (0 until 4).map(i => math.pow(i + id, 2)).sum).sum
    assert(total == expected, s"sum over dense rows only: $total vs $expected")
  }

  test("window ranks: rank <= row_number, dense_rank contiguous, all start at 1") {
    val s = spark
    import s.implicits._
    val data = (1 to 400).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(20), i.toLong)).toDF("grp", "x", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("x"), col("id"))
    val rows = data.select(col("grp"),
      rank().over(w).as("rk"),
      dense_rank().over(w).as("drk"),
      row_number().over(w).as("rn"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) <= r.getInt(3), "rank <= row_number")
      assert(r.getInt(2) <= r.getInt(1), "dense_rank <= rank")
    }
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val denseRanks = g.map(_.getInt(2)).distinct.sorted.toSeq
      assert(denseRanks == (1 to denseRanks.max).toSeq, "dense ranks contiguous from 1")
      assert(g.map(_.getInt(3)).sorted.toSeq == (1 to g.size).toSeq, "row_numbers are 1..n")
    }
  }

  test("unigram score: hand-computed planted values, exact") {
    // 4 docs over a 2-token language where hand arithmetic is trivial:
    //   doc 0: "a a a"   doc 1: "a b"   doc 2: "b"   doc 3: "z z z z"
    // corpus counts: a=4, b=2, z=4; N=10; K=16 ≥ vocab so nothing is OOV.
    //   commonness(0) = (4+4+4)/(3·10) = 0.4
    //   commonness(1) = (4+2)/(2·10)   = 0.3
    //   commonness(2) = 2/(1·10)       = 0.2
    //   commonness(3) = 16/(4·10)      = 0.4
    // All dyadic-exact, so == comparisons are legitimate.
    val dir = java.nio.file.Files.createTempDirectory("graft_uni").toString
    val s = spark
    import s.implicits._
    Seq((0L, "a a a"), (1L, "a b"), (2L, "b"), (3L, "z z z z"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_unigram_score")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(0L) == ((3L, 12L, 0.4, false)))
    assert(out(1L) == ((2L, 6L, 0.3, false)))
    assert(out(2L) == ((1L, 2L, 0.2, false)))
    assert(out(3L) == ((4L, 16L, 0.4, false)))
  }

  test("stratified sample: deterministic across runs, subset, rates honored") {
    val q = SparkEntry.queries("llm_sample_stratified")
    val run1 = q(spark, TestEnv.Sf01).collect().map(_.getLong(0)).toSeq
    val run2 = q(spark, TestEnv.Sf01).collect().map(_.getLong(0)).toSeq
    assert(run1 == run2, "a retried/re-run sample must keep exactly the same rows")

    val docs = Tables.documents(spark, TestEnv.Sf01)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(run1.forall(docs.contains), "sample must be a subset of the corpus")

    // Rates: md5 is uniform enough that a 4σ binomial band never flakes
    // (deterministic data + deterministic key = this is really one fixed
    // draw; the band just documents the expected calibration).
    val keptByLang = run1.groupBy(docs).view.mapValues(_.size)
    val totByLang = docs.values.groupBy(identity).view.mapValues(_.size)
    for ((lang, tot) <- totByLang) {
      val rate = if (lang == "en") 0.5 else 0.2
      val kept = keptByLang.getOrElse(lang, 0)
      val sigma = math.sqrt(tot * rate * (1 - rate))
      assert(math.abs(kept - tot * rate) <= 4 * sigma + 1,
        s"$lang: kept $kept of $tot at rate $rate (expected ${tot * rate} ± ${4 * sigma + 1})")
    }
  }

  test("seq_pack two-level scan == naive global-window prefix sum") {
    // The declared query's whole scale story is replacing the
    // single-partition Window.orderBy(doc_id) with the two-level bucket
    // scan; this property runs BOTH on a random corpus (sparse
    // non-contiguous ids spanning many buckets, NULL / empty / giant
    // texts) and demands identical output — the naive form is the
    // executable spec the DuckDB oracle also implements.
    val s = spark
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_packprop").toString
    val ids = rnd.shuffle((0L to 10000L).toVector).take(400).sorted
    val texts = ids.map { i =>
      rnd.nextInt(5) match {
        case 0 => null.asInstanceOf[String]
        case 1 => ""
        case 2 => "tok " * (200 + rnd.nextInt(200)) + "tok" // spans blocks
        case _ => Seq.fill(1 + rnd.nextInt(30))(s"w${rnd.nextInt(9)}").mkString(" ")
      }
    }
    ids.zip(texts).map { case (i, t) => (i, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val declared = TestEnv.sparkRows(
      SparkEntry.queries("llm_seq_pack")(s, dir))
    val naiveW = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = TestEnv.sparkRows(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("text").isNull, lit(0L))
            .otherwise(size(filter(split(col("text"), " "), t => t =!= ""))
              .cast("bigint")).as("n_toks"))
        .select(col("doc_id"), col("n_toks"),
          coalesce(sum(col("n_toks")).over(naiveW), lit(0L))
            .cast("bigint").as("tok_offset"))
        .select(col("doc_id"), col("n_toks"), col("tok_offset"),
          // Block length interpolated from the query's own constant
          // (round-12 ADVICE: a hardcoded 32 here desynchronizes the
          // executable spec from the declared query if L is retuned).
          when(col("n_toks") > 0,
            expr(s"tok_offset div ${TextQueries.PackBlockLen}")).as("blk_first"),
          when(col("n_toks") > 0,
            expr(s"(tok_offset + n_toks - 1) div ${TextQueries.PackBlockLen}"))
            .as("blk_last"))
        .select(col("doc_id"), col("n_toks"), col("tok_offset"),
          col("blk_first"), col("blk_last"),
          coalesce(col("blk_last") - col("blk_first") + 1, lit(0L))
            .cast("bigint").as("n_blocks"))
        .orderBy(col("doc_id")))
    assert(declared._1 == naive._1)
    assert(declared._2 == naive._2,
      "two-level scan diverged from the naive global prefix sum")
  }

  test("emb_quant matches an independent driver-side reimplementation") {
    // Full independent recomputation (not just a bound): same IEEE ops in
    // the same order in plain Scala — left-to-right Σx² (the DotProduct
    // accumulation), ((x/scale)·127)+0.5 floor, ((q·scale)/127)−x — so
    // every output cell must agree bit-for-bit, including a planted zero
    // vector through the CASE branch.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_quantprop").toString
    val vecs: Seq[(Long, Seq[Float])] = (0L until 200L).map { i =>
      i -> (if (i == 7L) Seq.fill(16)(0f)
            else Seq.fill(16)((rnd.nextFloat() * 2 - 1) * (1 + rnd.nextInt(5))))
    }
    vecs.map { case (i, v) => (i, v, s"l${i % 3}") }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("llm_emb_quant")(s, dir).collect()
    assert(got.length == vecs.size)
    for (r <- got) {
      val v = vecs(r.getLong(0).toInt)._2.map(_.toDouble)
      val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      val scale = v.map(math.abs).max
      val q =
        if (scale > 0) v.map(x => math.floor(x / scale * 127d + 0.5d).toLong)
        else v.map(_ => 0L)
      val err =
        if (scale > 0) q.zip(v).map { case (qi, x) =>
          math.abs(qi.toDouble * scale / 127d - x) }.max
        else 0d
      assert(r.getLong(1) == 16L && r.getDouble(2) == norm &&
        r.getLong(3) == q.min && r.getLong(4) == q.max &&
        r.getLong(5) == q.sum && r.getDouble(6) == err,
        s"vec ${r.getLong(0)}: $r vs (norm=$norm q_min=${q.min} " +
          s"q_max=${q.max} q_sum=${q.sum} err=$err)")
    }
  }

  /** Parquet-corpus helper for the round-18 properties below: writes the
    * 4-column documents fixture shape under a temp dir (the seq_pack
    * property's idiom, factored).
    */
  private def docsDir(prefix: String,
      rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bm25: one extra query-term occurrence at equal length strictly raises the score") {
    // The tf-monotonicity a retrieval row must have: docs A and B are the
    // same length and identical except B swaps one filler token for one
    // more 'dup' occurrence — BM25's tf term is strictly increasing in tf
    // at fixed dl, so score(B) > score(A) whatever the df/avgdl context.
    val dir = docsDir("graft_bm25prop", Seq(
      (0L, "dup alpha beta gamma delta epsilon", "en", "src0"),
      (1L, "dup dup beta gamma delta epsilon", "en", "src0"),
      (2L, "vector batch zeta eta theta iota", "en", "src1"),
      (3L, "alpha beta gamma delta epsilon zeta", "en", "src1")))
    val scores = SparkEntry.queries("llm_bm25_search")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) > scores(0L),
      s"tf 2 vs 1 at equal dl must rank higher: ${scores(1L)} <= ${scores(0L)}")
    assert(scores(0L) > scores(3L),
      s"one query term beats zero: ${scores(0L)} <= ${scores(3L)}")
  }

  test("split_assign: partition, determinism, and growth-stability of assignments") {
    // The declared contract: every doc lands in exactly one split, a
    // re-run reproduces it, and ADDING documents never moves an existing
    // one (the salted-hash-not-rand argument) — checked by assigning a
    // corpus and a strict superset and diffing the common ids.
    val base = (0L until 400L).map(i =>
      (i, s"doc $i body", if (i % 3 == 0) "en" else "fr", s"src${i % 4}"))
    val dir1 = docsDir("graft_splitprop1", base)
    val dir2 = docsDir("graft_splitprop2",
      base ++ (400L until 600L).map(i => (i, s"late $i", "en", "src9")))
    val q = SparkEntry.queries("llm_split_assign")
    def assignments(d: String): Map[Long, String] =
      q(spark, d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a1 = assignments(dir1)
    val a1again = assignments(dir1)
    val a2 = assignments(dir2)
    assert(a1 == a1again, "re-run must reproduce the assignment exactly")
    assert(a1.keySet == base.map(_._1).toSet, "exactly one split per doc")
    assert(a1.forall { case (id, s) => a2(id) == s },
      "growing the corpus must not move any existing doc between splits")
    assert(a2.values.toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("bigram_score: bounds, and a planted unique transition is the rare one") {
    // Bounds every fluency consumer relies on: n_rare <= n_trans,
    // rare_frac in [0, 1], min_p in (0, 1]. Planted semantics: in a
    // corpus where 'alpha beta' repeats across docs and doc 9 contains
    // the corpus's ONLY 'omega psi' transition, doc 9's min_p must be
    // the corpus minimum (the weakest link is the unique transition).
    val common = (0L until 9L).map(i =>
      (i, "alpha beta alpha beta alpha beta", "en", s"src${i % 2}"))
    val dir = docsDir("graft_bgprop",
      common :+ (9L, "alpha beta omega psi", "en", "src3"))
    val rows = SparkEntry.queries("llm_bigram_score")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    rows.foreach { case (id, nTrans, nRare, frac, minP) =>
      assert(nRare <= nTrans && frac >= 0.0 && frac <= 1.0,
        s"doc $id: n_rare $nRare / n_trans $nTrans / frac $frac")
      assert(minP > 0.0 && minP <= 1.0, s"doc $id: min_p $minP out of range")
    }
    val minPs = rows.map(t => t._1 -> t._5).toMap
    assert(minPs(9L) == minPs.values.min,
      s"the unique-transition doc must carry the corpus-min min_p: $minPs")
  }

  test("win_session_batch: sessions partition events; an independent fold agrees exactly") {
    // Two properties against the declared query at sf0.001: (a) sessions
    // PARTITION each user's events (per-user Σ n_events == per-user event
    // count, session ids are 1..k dense), and (b) a straight Scala fold
    // over the (ts, event_id)-sorted per-user stream — an independent
    // third implementation next to Spark's window plan and DuckDB's —
    // reproduces every (session_id, n_events, start, end) tuple exactly.
    val dir = TestEnv.Sf001
    val gapUs = 43200000000L
    val out = SparkEntry.queries("win_session_batch")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    out.groupBy(_._1).foreach { case (u, sessions) =>
      assert(sessions.map(_._3).sum == byUser(u).size,
        s"user $u: sessions must partition the events")
      assert(sessions.map(_._2).sorted.toSeq == (1L to sessions.size).toSeq,
        s"user $u: session ids must be dense from 1")
    }
    val expected = byUser.flatMap { case (u, rows) =>
      val sorted = rows.map(t => (t._3, t._2)).sortBy(identity)
      val splits = sorted.foldLeft(Vector.empty[Vector[Long]]) {
        case (acc, (ts, _)) =>
          if (acc.nonEmpty && ts - acc.last.last <= gapUs)
            acc.init :+ (acc.last :+ ts)
          else acc :+ Vector(ts)
      }
      splits.zipWithIndex.map { case (s0, i) =>
        (u, i + 1L, s0.size.toLong, s0.head, s0.last, s0.last - s0.head)
      }
    }.toSet
    assert(out.toSet == expected,
      s"window sessionization must equal the per-user fold (|out|=${out.length}, |exp|=${expected.size})")
  }

  test("agg_mode: winner maximizes the segment count, ties break to the smallest segment") {
    val dir = TestEnv.Sf001
    val out = SparkEntry.queries("agg_mode")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val counts = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val byNation = counts.groupBy(_._1._1)
    assert(out.map(_._1).toSeq == byNation.keys.toSeq.sorted,
      "one row per nation, ordered")
    out.foreach { case (nk, seg, nMode, nCust, share) =>
      val segs = byNation(nk).map { case ((_, s0), n) => (s0, n) }
      val best = segs.toSeq.sortBy { case (s0, n) => (-n, s0) }.head
      assert((seg, nMode) == best,
        s"nation $nk: mode must be the tie-broken argmax, got ($seg,$nMode) want $best")
      assert(nCust == segs.values.sum && share == nMode.toDouble / nCust,
        s"nation $nk: share must be n_mode/n_cust over the nation total")
    }
  }

  test("llm_pagerank: an independent integer fixpoint reproduces every score") {
    // A straight Scala reimplementation of the quantized 4-round PageRank
    // (same key-derived DAG, same micro-unit integer arithmetic) — an
    // independent third implementation next to Spark's shuffle rounds and
    // DuckDB's unrolled CTEs — must reproduce every (node, score_q) pair
    // exactly. Truncating integer division matches both engines' div/`//`
    // on the non-negative domain, so there is no rounding slack to hide in.
    val dir = TestEnv.Sf001
    val out = SparkEntry.queries("llm_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Tables.documents(spark, dir).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val edges = nodes.filter(_ >= 2).flatMap(s0 =>
      Seq(s0 / 2, s0 / 3, s0 / 5).filter(_ >= 1).distinct.map(d0 => (s0, d0)))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var score = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val inc = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s0, _) => score(s0) / deg(s0) }.sum
      }
      score = nodes.map(n => n -> (150000L + 85L * inc.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(out.map(_._1).toSeq == nodes, "one row per doc, ordered by node")
    assert(out.toMap == score,
      s"Spark scores must equal the independent fixpoint; first diff: ${
        out.find(p => score(p._1) != p._2)}")
  }

  test("llm_pagerank fuzz: sparse non-contiguous keys agree with the fixpoint") {
    // The fixture's doc_ids are DENSE 0..N-1, so the fixture never
    // exercises the row's real key domain: a citation target (i div k)
    // that is NOT itself a document. Seeded sparse keys (gaps, a large
    // outlier, 0 and 1 dangling, collision chains through the div lattice)
    // make edges point at absent nodes — those contributions must vanish
    // in the per-node join-back (docs LEFT JOIN inc keeps only real docs)
    // and the independent fold must still agree exactly.
    val rnd = new scala.util.Random(20260816L)
    val keys = (Seq(0L, 1L, 2L, 5L, 6L, 30L, 900001L) ++
      Seq.fill(60)(rnd.nextInt(5000).toLong)).distinct.sorted
    val dir = Files.createTempDirectory("graft_pgfuzz").toString
    spark.createDataFrame(keys.map(k => (k, s"doc $k", "en", "fuzz")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_pagerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = keys.filter(_ >= 2).flatMap(s0 =>
      Seq(s0 / 2, s0 / 3, s0 / 5).filter(_ >= 1).distinct.map(d0 => (s0, d0)))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var score = keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val inc = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s0, _) => score(s0) / deg(s0) }.sum
      }
      // contributions to absent nodes vanish; absent sources never score
      score = keys.map(n => n -> (150000L + 85L * inc.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(out.map(_._1).toSeq == keys, "one row per doc, ordered by node")
    // r20 ADVICE: `score` is keyed by exactly `keys`, so no filter is
    // needed; the diagnostic uses a total lookup (`get`) so a node Spark
    // emitted that is absent from `score` reports as the first diff
    // instead of throwing NoSuchElementException over the assert message.
    assert(out.toMap == score,
      s"sparse-key scores must equal the fixpoint; first diff: ${
        out.find(p => !score.get(p._1).contains(p._2))}")
  }

  test("llm_hybrid_rrf: an independent Scala rank-and-fuse reproduces the top-10") {
    // A straight Scala reimplementation — tokenize, BM25 and tf·idf in
    // the row's exact IEEE operation order, rank top-100 by (score desc,
    // doc_id), fuse with the quantized 1e12/(60+r) contributions — must
    // reproduce the declared output tuple-for-tuple, nullable ranks
    // included. Scala Double arithmetic is the same IEEE ops as Spark's
    // codegen and DuckDB, so there is no tolerance anywhere.
    val dir = TestEnv.Sf001
    val out = SparkEntry.queries("llm_hybrid_rrf")(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3)))
    val terms = Seq("dup", "vector", "batch")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map { r =>
        val toks = Option(if (r.isNullAt(1)) null else r.getString(1))
          .getOrElse("").split(" ", -1).filter(_.nonEmpty)
        (r.getLong(0), toks.length.toLong,
          terms.map(t => toks.count(_ == t).toLong))
      }
    val n = docs.length.toDouble
    val sumdl = docs.map(_._2).sum.toDouble
    val dfs = terms.indices.map(i => docs.count(_._3(i) > 0).toDouble)
    val avgdl = sumdl / n
    val scored = docs.map { case (id, dl, tfs) =>
      val sBm = terms.indices.map { i =>
        val tf = tfs(i).toDouble
        val idf = (n - dfs(i) + 0.5) / (dfs(i) + 0.5)
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))
      }.reduce(_ + _)
      val sTi = terms.indices.map { i =>
        if (dfs(i) > 0) tfs(i).toDouble * (n / dfs(i)) else 0.0
      }.reduce(_ + _)
      (id, sBm, sTi)
    }
    def ranks(score: ((Long, Double, Double)) => Double): Map[Long, Long] =
      scored.sortBy(t => (-score(t), t._1)).take(100)
        .zipWithIndex.map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val bR = ranks(_._2)
    val tR = ranks(_._3)
    val fused = (bR.keySet ++ tR.keySet).toSeq.map { id =>
      val q = bR.get(id).map(r => 1000000000000L / (60L + r)).getOrElse(0L) +
        tR.get(id).map(r => 1000000000000L / (60L + r)).getOrElse(0L)
      (id, bR.get(id), tR.get(id), q)
    }.sortBy(t => (-t._4, t._1)).take(10)
    assert(out.toSeq == fused,
      s"fused top-10 must equal the independent rank-and-fuse:\n$out\nvs\n$fused")
  }
}
