package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The text and vector stages that two or more declared rows share each
  * have one Spark builder and one DuckDB spelling, in the file that owns
  * them, so a row cannot drift from its siblings and the oracle pins one
  * definition. Every needle is a fragment of one builder and must occur
  * exactly once under src/main.
  */
class SharedStageSpec extends AnyFunSuite {
  private val root = Paths.get("src/main")
  private lazy val sources: Map[String, String] = {
    assert(Files.isDirectory(root))
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
  }

  private def occurrences(text: String, needle: String): Int =
    Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
      .takeWhile(_ >= 0).size

  private val text = "scala/graft/queries/TextQueries.scala"
  private val vector = "scala/graft/queries/VectorQueries.scala"

  /** (stage, owning file, Spark needles, DuckDB needles). */
  private val stages: Seq[(String, String, Seq[String], Seq[String])] = Seq(
    ("per-document distinct 3-gram shingles", text,
      Seq("sequence(1, size(toks) - 2)"), Seq("range(1, len(toks) - 1)")),
    ("contamination bench/corpus sides", text,
      Seq("""col("doc_id") % 20 === 0"""), Seq("FROM docs WHERE doc_id % 20 = 0")),
    ("BM25 term stats and score", text,
      Seq("lit(2.2)"), Seq("* 2.2)")),
    ("PII scrub chain", text,
      Seq("regexp_extract_all(col(", "\"$1[PHONE]\""),
      Seq("[PHONE]', 'g')", "[EMAIL]")),
    ("repetition top fraction and bigrams", text,
      Seq("u => size(filter(arr, x => x === u))", """element_at(col("toks"), i + lit(1))"""),
      Seq("u -> len(list_filter(", "toks[i] || ' ' || toks[i+1]")),
    ("image feature projection", text, Seq("\"l_min\""), Seq.empty),
    ("BPE pair histogram", text,
      Seq("substring(w, i + 1, 1) AS b"), Seq("substr(w, i + 1, 1) AS b")),
    ("embedding vectors as doubles", vector,
      Seq.empty, Seq("CAST(embedding AS DOUBLE[])")),
    ("int8 quantization", vector,
      Seq("* 127d + 0.5d"), Seq("* 127 + 0.5)")),
    ("IVF sizing", vector,
      Seq("n / math.ceil(math.sqrt(n.toDouble))"),
      Seq("// CAST(ceil(sqrt(count(*))) AS BIGINT)")),
    ("IVF probes and candidates", vector,
      Seq("""e.where(col("vec_id") < probeMax)""",
        """.orderBy(VectorOps.dot(col("qv"), col("cv")).desc"""),
      Seq("WHERE cl.vec_id <> p.q_id", "WHERE rn <= (SELECT nprobe FROM s)")),
    ("PQ ADC sum and ranking", vector,
      Seq("Seq.fill(PqM)(lit(1.0d))"),
      Seq("ORDER BY list_dot_product(dl, $pqOnesSql)")))

  for ((stage, file, spark, duck) <- stages)
    test(s"$stage: one Spark builder and one DuckDB spelling, in ${Paths.get(file).getFileName}") {
      for (needle <- spark ++ duck) {
        val hits = sources.map { case (f, t) => f -> occurrences(t, needle) }
          .filter(_._2 > 0)
        assert(hits == Map(file -> 1), needle)
      }
    }
}
