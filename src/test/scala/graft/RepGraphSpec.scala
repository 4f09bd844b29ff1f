package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.queries.RepGraph

/** The rep graph's shared stages: `RepGraph` is the one home of the
  * member-chunked rep groups and the member-pair expansion, and
  * `memberPairs` emits exactly the member pairs a brute-force enumeration
  * of the groups and verified rep pairs gives, in both relation shapes.
  */
class RepGraphSpec extends GraftSpec {
  private val s = spark
  import s.implicits._

  test("RepGraph.scala is the one file under src/main that chunks rep groups or re-attaches members") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root))
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    val only = Map("scala/graft/queries/RepGraph.scala" -> 1)
    for (needle <- Seq(
        """pmod\(xxhash64\([^\n]*MemberChunks""".r,
        """(?s)col\("members"\).{0,200}"left_semi"""".r)) {
      val hits = sources
        .map { case (f, text) => f -> needle.findAllIn(text).size }
        .filter(_._2 > 0).toMap
      assert(hits == only, needle.regex)
    }
  }

  // Group 1 = {1, 5, 9} over two chunk rows, group 3 = {3, 4} whose glue
  // score fails τ, singleton group 2 = {2}; one verified cross pair 1–2.
  private val tau = 0.5
  private def chunks = Seq(
      (1L, 1L, Seq(1L, 9L), 3L, 1.0),
      (1L, 5L, Seq(5L), 3L, 1.0),
      (2L, 2L, Seq(2L), 1L, 1.0),
      (3L, 3L, Seq(3L, 4L), 2L, 0.1))
    .toDF("rep_id", "cmin", "members", "gsize", "glue")
  private val verified = Seq((1L, 2L, 0.9))

  /** Every member pair, enumerated from the groups and verified pairs. */
  private def bruteForce(ordered: Boolean): Seq[(Long, Long, Double)] = {
    val groups = chunks.collect()
      .groupBy(_.getLong(0))
      .map { case (rep, rows) =>
        rep -> (rows.flatMap(_.getSeq[Long](2)).toSeq, rows.head.getDouble(4)) }
    def shape(x: Long, y: Long, sc: Double) =
      if (ordered) Seq((x, y, sc)) else Seq((x min y, x max y, sc))
    val cross = for {
      (a, b, sc) <- verified
      x <- groups(a)._1
      y <- groups(b)._1
      p <- shape(x, y, sc)
    } yield p
    val intra = for {
      (ms, glue) <- groups.values.toSeq if glue >= tau
      x <- ms
      y <- ms if (if (ordered) x != y else x < y)
    } yield (x, y, glue)
    (cross ++ intra).sorted
  }

  for (ordered <- Seq(true, false)) {
    test(s"memberPairs(ordered = $ordered) matches the brute-force enumeration") {
      val v = verified.toDF("a_rep", "b_rep", "sc")
      try {
        val got = RepGraph.memberPairs(chunks, v, "sc", ordered, col("glue"), tau)
          .as[(Long, Long, Double)].collect().toSeq.sorted
        val want = bruteForce(ordered)
        assert(want.size == (if (ordered) 3 + 6 else 3 + 3))
        assert(got == want)
      } finally v.unpersist()
    }
  }
}
