package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One benchmark run: one workload in one fresh JVM with one local[k]
  * session. Prints the result as one JSON line, last on stdout.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --launch-ms <epoch ms the run was launched> --work <dir> --out <dir>
  *   [--cores <k>]  (local[k], default min(2, available processors))
  *
  * Untraced runs report the end-to-end metrics; traced runs the per-layer
  * metrics, the self time of each span kind and the tracing overhead, and
  * write their spans to `<out>/trace-<workload>-<seed>.json`.
  */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      launchMs: Long, work: Path, out: Path, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("launch-ms").toLong, Paths.get(get("work")), Paths.get(get("out")),
      m.get("cores").map(_.toInt).getOrElse(math.min(2, Runtime.getRuntime.availableProcessors())))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.Names.contains(a.workload),
      s"unknown workload '${a.workload}'; expected one of ${Workloads.Names.mkString(", ")}")
    Files.createDirectories(a.work)
    val cores = a.cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("local").toString)
      // bounded status history, so retained heap stops growing with the
      // number of operations a run happens to fit
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(s"${a.workload}-${a.seed}-${a.launchMs}")
    val result =
      try {
        if (a.trace) traced(spark, a, tr) else untraced(spark, a, tr)
      } finally spark.stop()
    println(result)
  }

  /** Heap in use after a full GC. Spark's ContextCleaner releases the
    * broadcasts and shuffles of dropped plans only once a GC has shown
    * them unreachable, so a second GC follows its cleaning pass.
    */
  private def heapAfterGcMiB(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Outcome of a timed loop. */
  private final case class Loop(ops: Int, opWalls: Seq[Double], latencies: Seq[Double],
      peakHeap: Double, failed: Long, attempted: Long, correct: Boolean, error: String)

  /** Operations until `seconds` of operation wall time have been measured;
    * each is followed, untimed, by its check and a GC. With `alternate`,
    * every second operation is traced and the hook runs after each one.
    */
  private def loop(w: Workload, seconds: Double, minOps: Int,
      alternate: Option[() => Unit] = None): Loop = {
    var ops = 0; var wall = 0.0; var failed = 0L; var attempted = 0L; var peak = 0.0
    val lat = mutable.ArrayBuffer.empty[Double]
    val walls = mutable.ArrayBuffer.empty[Double]
    try {
      while (wall < seconds || ops < minOps) {
        alternate.foreach(_ => w.tr.enabled = ops % 2 == 1)
        val t = System.nanoTime()
        w.tr.span("op", 0)(w.run())
        val dt = (System.nanoTime() - t) / 1e9
        wall += dt
        walls += dt
        ops += 1
        lat ++= w.latencySamplesMs
        alternate.foreach(_())
        val heap = heapAfterGcMiB()
        peak = math.max(peak, heap)
        System.err.println(f"perfbench: ${w.name} op $ops took $dt%.3f s, heap after GC $heap%.1f MiB")
        failed += w.check()
        attempted += w.attemptedPerOp
      }
      Loop(ops, walls.toSeq, lat.toSeq, peak, failed, attempted, correct = true, null)
    } catch {
      case e: CheckFailed =>
        Loop(ops, walls.toSeq, lat.toSeq, peak, failed, math.max(1L, attempted),
          correct = false, e.getMessage)
    }
  }

  private def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

  private def untraced(spark: SparkSession, a: Args, tr: Tracer): String = {
    val w = Workloads(a.workload, spark, a.seed, a.work, tr)
    w.setup()
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val warm = warmUp(w)
    val l = loop(w, a.seconds, minOps = 1)
    val finished = warm.orElse(Option(l.error))
    finished.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    result(finished.isEmpty, l.attempted, l.failed, Seq(
      ("setup_s", setupS, "s"),
      ("records_per_s", w.recordsPerOp * l.ops / l.opWalls.sum, "records/s"),
      ("latency_ms_p50", median(l.latencies), "ms"),
      ("peak_heap_mib", l.peakHeap, "MiB")))
  }

  /** Untimed operations, checked, before the timed loop. */
  private def warmUp(w: Workload): Option[String] =
    try {
      w.checkOnce()
      for (i <- 1 to w.warmUpOps) {
        val t = System.nanoTime()
        w.run()
        System.err.println(f"perfbench: ${w.name} warm-up ${i} took ${(System.nanoTime() - t) / 1e9}%.3f s")
        w.check()
      }
      None
    } catch { case e: CheckFailed => Some(e.getMessage) }

  /** Traced run: the workload's loop with untraced and traced operations
    * alternating (the overhead is the difference of their medians), then the layer
    * probes, then one traced (cold) operation of each other workload for
    * the layer metrics this workload does not exercise.
    */
  private def traced(spark: SparkSession, a: Args, tr: Tracer): String = {
    val sc = spark.sparkContext
    val w = Workloads(a.workload, spark, a.seed, a.work, tr)
    w.setup()
    val warm = warmUp(w)
    val listener = new EngineListener(tr)
    sc.addSparkListener(listener)
    listener.drain(sc); listener.reset()
    // untraced and traced operations alternate, so the JIT's warm-up trend
    // falls on both halves alike; the bus is drained before tracing stops,
    // so the traced operation's last events are still counted
    val t = loop(w, a.seconds, minOps = 4,
      alternate = Some { () => listener.drain(sc); tr.enabled = false })
    tr.enabled = false
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val traced = t.opWalls.indices.filter(_ % 2 == 1).map(t.opWalls)
    val plain = t.opWalls.indices.filter(_ % 2 == 0).map(t.opWalls)
    val perOp = traced.length.toDouble
    m("spark.jobs") = (listener.jobs / perOp, "count")
    m("spark.stages") = (listener.stages / perOp, "count")
    m("spark.tasks") = (listener.tasks / perOp, "count")
    m("spark.executor_run_ms") = (listener.runMs / perOp, "ms")
    m("spark.executor_cpu_ms") = (listener.cpuNs / 1e6 / perOp, "ms")
    m("spark.shuffle_read_bytes") = (listener.shuffleRead / perOp, "bytes")
    m("spark.shuffle_write_bytes") = (listener.shuffleWrite / perOp, "bytes")
    m("spark.spill_bytes") = (listener.spill / perOp, "bytes")
    m("spark.gc_ms") = (listener.gcMs / perOp, "ms")
    m("spark.task_skew") = (listener.taskSkew, "ratio")
    m("trace.op_ms_untraced") = (median(plain) * 1000.0, "ms")
    m("trace.op_ms_traced") = (median(traced) * 1000.0, "ms")
    m("trace.overhead_pct") = ((median(traced) / median(plain) - 1.0) * 100.0, "%")
    layerMetrics(w, traced.length, listener).foreach { case (k, v) => m(k) = v }
    val jobsOfLoop = listener.jobTimes.length

    // layer probes on the seeded inputs
    tr.enabled = true
    val probes = new Probes(spark, a.seed, tr)
    val drain = w match { case d: Drain => d; case _ => new Drain(spark, a.seed, a.work, tr) }
    probes.connector(drain.events)
    val dedup = w match { case d: Dedup => d; case _ => new Dedup(spark, a.seed, a.work, tr) }
    probes.operators(dedup.corpus)
    probes.out.foreach { case (k, v) => if (!m.contains(k)) m(k) = v }

    // layers the workload itself leaves idle: one traced op each
    val companions = Workloads.Names.filter(_ != a.workload).map(Workloads(_, spark, a.seed, a.work, tr))
      .map {
        case _: Drain => drain
        case _: Dedup => dedup
        case other => other
      }
    var error = warm.orElse(Option(t.error))
    for (c <- companions) {
      listener.drain(sc); listener.reset()
      tr.enabled = false
      try {
        c.setup()
        tr.enabled = true
        c.run()
        listener.drain(sc)
        tr.enabled = false
        c.check()
      } catch { case e: CheckFailed => error = error.orElse(Some(e.getMessage)) }
      layerMetrics(c, 1, listener).foreach { case (k, v) => if (!m.contains(k)) m(k) = v }
    }
    tr.enabled = false
    error.foreach(e => System.err.println(s"CHECK FAILED: $e"))

    val spans = tr.resolved()
    tr.selfTimes(spans).toSeq.sortBy(_._1).foreach { case (n, v) => m(s"self_ms.$n") = (v, "ms") }
    m("trace.spans") = (spans.length.toDouble, "count")
    val metrics = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
    Files.createDirectories(a.out)
    val file = a.out.resolve(s"trace-${a.workload}-${a.seed}.json")
    Files.writeString(file, Json.obj(Seq(
      "run_id" -> Json.str(tr.runId),
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed),
      "loop_ops" -> Json.num(t.ops),
      "loop_jobs" -> Json.num(jobsOfLoop),
      "report" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "spans" -> tr.json(spans))))
    // failures and attempts of the workload's own traced loop only, so
    // their share is the same as in untraced runs
    result(error.isEmpty, t.attempted, t.failed, metrics)
  }

  /** Per-layer metrics read from a workload's traced operations: Spark's
    * micro-batch progress and state operators, and the dedup queries.
    */
  private def layerMetrics(w: Workload, ops: Int, listener: EngineListener): Seq[(String, (Double, String))] = {
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    val ps: Seq[StreamingQueryProgress] = w.progress.toSeq
    if (ps.nonEmpty) {
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      for ((metric, key) <- Seq("batch.latest_offset_ms" -> "latestOffset",
          "batch.planning_ms" -> "queryPlanning", "batch.add_batch_ms" -> "addBatch",
          "batch.wal_commit_ms" -> "walCommit", "batch.commit_offsets_ms" -> "commitOffsets"))
        out += metric -> (median(ps.map(d(_, key))), "ms")
      val gaps = ps.groupBy(_.runId).values.flatMap { q =>
        val s = q.sortBy(_.batchId)
        s.zip(s.drop(1)).map { case (p, n) =>
          java.time.Instant.parse(n.timestamp).toEpochMilli -
            (java.time.Instant.parse(p.timestamp).toEpochMilli + d(p, "triggerExecution"))
        }
      }.toSeq
      out += "batch.gap_ms" -> (if (gaps.isEmpty) 0.0 else median(gaps), "ms")
      out += "batch.count" -> (ps.length.toDouble / ops, "count")
      val st = ps.flatMap(_.stateOperators.toSeq)
      if (st.nonEmpty) {
        out += "state.rows" -> (st.map(_.numRowsTotal).max.toDouble, "count")
        out += "state.memory_bytes" -> (st.map(_.memoryUsedBytes).max.toDouble, "bytes")
        out += "state.commit_ms" -> (median(st.map(_.commitTimeMs.toDouble)), "ms")
      }
    }
    w match {
      case d: Dedup if d.passes.nonEmpty =>
        val p = d.passes.toSeq
        out += "neardup.s" -> (median(p.map(_._1)), "s")
        out += "neardup.pairs" -> (p.head._2.toDouble, "count")
        out += "cluster.s" -> (median(p.map(_._3)), "s")
        out += "cluster.components" -> (p.head._4.toDouble, "count")
        val jobs = p.map { case (_, _, _, _, (s, e)) =>
          listener.jobTimes.count(j => j >= s && j <= e).toDouble }
        out += "cluster.jobs" -> (median(jobs), "count")
      case r: Roundtrip if r.transport > 0 =>
        out += "kpl.user_per_transport" -> (r.recordsPerOp.toDouble / r.transport, "ratio")
      case _ =>
    }
    out.toSeq
  }
}
