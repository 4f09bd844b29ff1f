package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval, in ms since the run started. `level` orders the
  * nesting: 0 operation, 1 query, 2 micro-batch or layer call, 3 stage.
  */
final case class Span(id: Int, name: String, level: Int, start: Double, end: Double,
    var parent: Int = -1) {
  def dur: Double = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once; with tracing off every call is a pass-through.
  */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - t0Epoch).toDouble

  def add(name: String, level: Int, start: Double, end: Double): Unit =
    if (enabled) synchronized { spans += Span(spans.length, name, level, start, end) }

  def span[T](name: String, level: Int)(f: => T): T =
    if (!enabled) f
    else {
      val s = nowMs
      try f finally add(name, level, s, nowMs)
    }

  /** Parent = the shortest span of a lower level that contains the span's
    * start (stage and batch times come from Spark's epoch-ms clock, hence
    * the 1 ms slack).
    */
  def resolved(): IndexedSeq[Span] = synchronized {
    val byLevel = spans.groupBy(_.level)
    spans.foreach { s =>
      val enclosing = (0 until s.level).flatMap(l => byLevel.getOrElse(l, Nil))
        .filter(p => p.start - 1.0 <= s.start && s.start <= p.end + 1.0)
      if (enclosing.nonEmpty) s.parent = enclosing.minBy(p => (-p.level, p.dur)).id
    }
    spans.toIndexedSeq
  }

  /** Mean self time per span name: duration minus the part of the interval
    * its children cover.
    */
  def selfTimes(all: IndexedSeq[Span]): Map[String, Double] = {
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    val self = all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.name -> math.max(0.0, s.dur - covered)
    }
    self.groupBy(_._1).map { case (n, v) => n -> v.map(_._2).sum / v.length }
  }

  def json(all: IndexedSeq[Span]): String =
    all.map(s => Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "level" -> Json.num(s.level), "start_ms" -> Json.num(s.start),
      "end_ms" -> Json.num(s.end), "parent" -> Json.num(s.parent),
      "run_id" -> Json.str(runId)))).mkString("[\n", ",\n", "\n]")
}

/** Engine counters from Spark's own listener events, counted while tracing
  * is on. Spark delivers events on its listener bus thread, so [[drain]]
  * waits for a marker job before the counters are read; the marker job's
  * own stages and tasks are not counted.
  */
final class EngineListener(tr: Tracer) extends SparkListener {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var gcMs = 0L
  val jobTimes = mutable.ArrayBuffer.empty[Double]
  private val taskRun = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  @volatile private var markerSeen: String = ""
  private val markerStages = mutable.HashSet.empty[Int]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; shuffleRead = 0
    shuffleWrite = 0; spill = 0; gcMs = 0; jobTimes.clear(); taskRun.clear(); skews.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val m = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.marker")))
    m match {
      case Some(v) => markerStages ++= e.stageIds; markerSeen = v
      case None if tr.enabled => jobs += 1; jobTimes += tr.fromEpoch(e.time)
      case None =>
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val run = taskRun.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
    if (run.nonEmpty && tr.enabled && !markerStages(si.stageId)) {
      stages += 1
      for (s <- si.submissionTime; c <- si.completionTime) tr.add("stage", 3, tr.fromEpoch(s), tr.fromEpoch(c))
      if (run.length >= 2) {
        val sorted = run.sorted
        skews += sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && tr.enabled && !markerStages(e.stageId)) {
      tasks += 1
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      taskRun.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Median over stages of (slowest task ÷ median task). */
  def taskSkew: Double = synchronized {
    if (skews.isEmpty) 1.0 else skews.sorted.apply(skews.length / 2)
  }

  /** Runs a marker job and waits until the bus has delivered it, so every
    * earlier event has reached this listener.
    */
  def drain(sc: SparkContext): Unit = {
    val marker = java.util.UUID.randomUUID().toString
    sc.setLocalProperty("perfbench.marker", marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen != marker && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
