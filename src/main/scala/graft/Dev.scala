package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable

/** Developer CLI over the declared queries, in the `Harness` session:
  *
  *   - `time` runs one query in a fresh JVM: an untimed warm-up on the
  *     smallest-SF sibling (JIT and classloading, see [[WarmDir]]), then one
  *     timed run, printed as one JSON line. Run it interleaved across code
  *     variants to tell a code change from a host swing.
  *   - `plan` prints (or with `--out` writes to `<dir>/<query>_<suffix>.txt`)
  *     each query's formatted explain. `--audit` turns auto-broadcast off,
  *     the view PlanAuditSpec pins. The corpus is `--sf`, else
  *     SPARK_GRAFT_SF_DIR, else sf0.01 (the audit's SF).
  *   - `profile` runs one query like `time` and prints a per-stage cost
  *     table (executor time and CPU, wall, tasks, shuffle and input bytes,
  *     call site), sorted by executor time.
  *
  * `time` and `profile` read the corpus from `[sfDir]`, else
  * SPARK_GRAFT_SF_DIR, else sf0.1. Cores come from SPARK_GRAFT_CPUS.
  */
object Dev {
  val Usage: String =
    """usage: graft.Dev time <query> [sfDir]
      |       graft.Dev plan [--audit] [--sf <dir>] [--out <dir> <suffix>] <query> [query ...]
      |       graft.Dev profile <query> [sfDir]""".stripMargin

  def main(args: Array[String]): Unit = {
    val cmd = parse(args) // bad arguments fail before a session is built
    val spark = Harness.session(Harness.cpus)
    try println(cmd(spark)) finally spark.stop()
  }

  /** Runs one subcommand on `spark` and returns what `main` prints. */
  def run(spark: SparkSession, args: Array[String]): String = parse(args)(spark)

  private def parse(args: Array[String]): SparkSession => String = args.toList match {
    case "time" :: q :: sf if sf.size <= 1 =>
      time(_, query(q), sf.headOption.getOrElse(benchSf))
    case "profile" :: q :: sf if sf.size <= 1 =>
      profile(_, query(q), sf.headOption.getOrElse(benchSf))
    case "plan" :: rest => planArgs(rest, PlanOpts())
    case _ => usage()
  }

  private final case class PlanOpts(audit: Boolean = false,
      sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
      out: Option[(String, String)] = None)

  @annotation.tailrec
  private def planArgs(args: List[String], o: PlanOpts): SparkSession => String = args match {
    case "--audit" :: rest => planArgs(rest, o.copy(audit = true))
    case "--sf" :: dir :: rest => planArgs(rest, o.copy(sfDir = dir))
    case "--out" :: dir :: suffix :: rest => planArgs(rest, o.copy(out = Some((dir, suffix))))
    case Nil => usage()
    case qs if !qs.exists(_.startsWith("--")) => plan(_, o, qs.map(query))
    case _ => usage()
  }

  private def usage(): Nothing = throw new IllegalArgumentException(Usage)

  private def query(name: String): String = {
    require(SparkEntry.queries.contains(name), s"unknown query '$name'\n$Usage")
    name
  }

  private def benchSf: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Untimed warm-up on the smallest-SF sibling. It is skipped when that
    * dir is the timed dir: the timed run would then be a second, cache-warm
    * execution. Returns whether it ran.
    */
  private def warmUp(spark: SparkSession, name: String, sfDir: String): Boolean = {
    val (warmDir, warmed) = WarmDir.resolve(sfDir)
    if (warmed) SparkEntry.queries(name)(spark, warmDir).count()
    Cleanup.release(spark, blocking = true)
    warmed
  }

  private def timedCount(spark: SparkSession, name: String, sfDir: String): (Long, Double) =
    try Harness.timedCount(spark, name, sfDir)
    finally Cleanup.release(spark, blocking = true)

  private def time(spark: SparkSession, name: String, sfDir: String): String = {
    val warmed = warmUp(spark, name, sfDir)
    val (rows, sec) = timedCount(spark, name, sfDir)
    s"""{"query":"$name","sec":$sec,"rows":$rows,"sf":"$sfDir","warmed":$warmed}"""
  }

  private def plan(spark: SparkSession, o: PlanOpts, names: Seq[String]): String = {
    // A child session scopes the conf changes, so a caller's session (the
    // shared test session) keeps its own.
    val s = spark.newSession()
    s.conf.set("spark.sql.maxPlanStringLength", "2000000")
    if (o.audit) s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o.out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.map { name =>
      val txt = SparkEntry.queries(name)(s, o.sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      Cleanup.release(s, blocking = true)
      o.out match {
        case Some((dir, suffix)) =>
          val path = Paths.get(dir, s"${name}_$suffix.txt")
          Files.writeString(path, txt)
          s"wrote $path"
        case None => s"===== $name =====\n$txt"
      }
    }.mkString("\n")
  }

  private final case class Stage(name: String, site: String, wallMs: Long,
      execMs: Long, cpuMs: Long, tasks: Int, shRead: Long, shWrite: Long,
      input: Long, records: Long)

  private def profile(spark: SparkSession, name: String, sfDir: String): String = {
    val stages = mutable.ArrayBuffer[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.submissionTime; b <- si.completionTime } yield b - a)
          .getOrElse(-1L)
        stages += Stage(si.name,
          si.details.linesIterator
            .filter(l => l.contains("graft") && !l.contains("graft.Dev"))
            .take(2).mkString(" <- ").trim,
          wall, m.executorRunTime, m.executorCpuTime / 1000000L, si.numTasks,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
      }
    }
    warmUp(spark, name, sfDir)
    spark.sparkContext.addSparkListener(listener)
    val (_, sec) =
      try timedCount(spark, name, sfDir)
      finally spark.sparkContext.removeSparkListener(listener)
    val rows = stages.synchronized(stages.toList)
    val mb = (b: Long) => f"${b / 1048576.0}%8.1f"
    val cores = spark.sparkContext.defaultParallelism
    (Seq(
      f"== $name%s  total=$sec%.2f s  stages=${rows.size}%d ==",
      f"${"execMs"}%8s ${"cpuMs"}%8s ${"wallMs"}%7s ${"tasks"}%5s " +
        f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s ${"recsW"}%9s  name / site") ++
      rows.sortBy(-_.execMs).take(40).map { s =>
        f"${s.execMs}%8d ${s.cpuMs}%8d ${s.wallMs}%7d ${s.tasks}%5d " +
          f"${mb(s.shRead)} ${mb(s.shWrite)} ${mb(s.input)} ${s.records}%9d" +
          f"  ${s.name.take(60)}%s | ${s.site.take(120)}%s"
      } :+
      f"sum executorRunTime = ${rows.map(_.execMs).sum / 1000.0}%.2f s across " +
        f"${rows.map(_.tasks).sum}%d tasks; wall $sec%.2f s on $cores cores")
      .mkString("\n")
  }
}
