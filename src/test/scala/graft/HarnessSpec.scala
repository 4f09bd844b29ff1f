package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One session shape and one developer CLI: every SparkSession under
  * `src/` is built by `Harness.session`, and `Dev.run` drives its
  * subcommands on the shared test session.
  */
class HarnessSpec extends GraftSpec {
  private val q = "agg_pricing_q1"

  test("Harness.scala is the one file under src/ that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val root = Paths.get("src")
    assert(Files.isDirectory(root))
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toSeq
    assert(hits == Seq("main/scala/graft/Harness.scala"))
  }

  test("Dev plan, time and profile run on the shared session at sf0.001") {
    val plan = Dev.run(spark, Array("plan", "--sf", TestEnv.Sf001, q))
    assert(plan.contains(s"===== $q =====") && plan.contains("== Physical Plan =="))

    val dir = Files.createTempDirectory("graft_dev_plan")
    val wrote = Dev.run(spark, Array("plan", "--audit", "--sf", TestEnv.Sf001,
      "--out", dir.toString, "t", q))
    val file = dir.resolve(s"${q}_t.txt")
    assert(wrote == s"wrote $file")
    assert(Files.readString(file).contains("== Physical Plan =="))

    val time = Dev.run(spark, Array("time", q, TestEnv.Sf001))
    val rows = SparkEntry.queries(q)(spark, TestEnv.Sf001).count()
    assert(time.startsWith(s"""{"query":"$q","sec":""") && time.contains(s""""rows":$rows,"""))

    val profile = Dev.run(spark, Array("profile", q, TestEnv.Sf001))
    assert(profile.startsWith(s"== $q  total=") && profile.contains("sum executorRunTime"))
  }

  test("Dev fails with the usage text on bad arguments") {
    for (args <- Seq(Array("bogus"), Array.empty[String], Array("plan"),
        Array("plan", "--out", "d", q), Array("time", q, "a", "b"))) {
      val e = intercept[IllegalArgumentException](Dev.run(spark, args))
      assert(e.getMessage == Dev.Usage, args.mkString(" "))
    }
    val e = intercept[IllegalArgumentException](Dev.run(spark, Array("time", "no_such_query")))
    assert(e.getMessage.contains("unknown query 'no_such_query'"))
  }
}
