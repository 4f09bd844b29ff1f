package graft

/** Per-query wall time of the declared queries over one corpus
  * (`SPARK_GRAFT_SF_DIR`, default sf0.1), printed as one JSON line; an
  * unfiltered run also writes the `BENCH_FULL.json` sidecar.
  *
  * One protocol times every row:
  *   - each query runs once, in declaration order, through
  *     [[Harness.timedCount]];
  *   - a query whose first sample failed or took ≥ `RepeatFloorSec` runs
  *     `Repeats - 1` more times, as whole-set passes, so a host window
  *     lasting minutes cannot hit all of one query's samples;
  *   - when that first sample failed or took ≥ `BracketFloorSec`, each
  *     repeat is bracketed by a memory-bandwidth probe just before and just
  *     after its timed region, and the row gets an admissibility verdict;
  *   - the reported time is the median of the successful samples.
  *
  * Nothing but the query and its `count()` runs inside a timed region: the
  * probes, the listener settle wait and the state release all sit outside.
  */
object Bench {

  /** Samples per repeated query. */
  val Repeats = 3

  /** First-sample time at which a GC pause or scheduler hiccup is no
    * longer large enough to fake a 2× regression: below it one sample is
    * kept.
    */
  val RepeatFloorSec = 0.5

  /** First-sample time from which a query's repeats carry probe brackets. */
  val BracketFloorSec = 2.0

  /** One timed run. `sec` is -1.0 for a failed run. `at` is the offset of
    * the timed region from bench start; `ev` counts storage blocks dropped
    * inside it. `bw`/`bw_after` are the bracketing membw readings (B/s),
    * -1.0 when not taken or when the probe failed.
    */
  final case class Sample(sec: Double, at: Double, ev: Long,
      bw: Double = -1.0, bwAfter: Double = -1.0) {

    /** None when unbracketed, else whether the bracket's better reading
      * clears `healthyMembw` (one-sided dips occur inside healthy windows).
      */
    def clean(healthyMembw: Double): Option[Boolean] =
      if (bw < 0.0 && bwAfter < 0.0) None
      else Some(math.max(bw, bwAfter) >= healthyMembw)
  }

  /** Median of the successful (non-negative) values; -1.0 when none. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.filter(_ >= 0.0).sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** A query's median is admissible when a strict majority of ALL its
    * samples are clean: an unbracketed or failed-probe sample counts as not
    * clean, so the median is always bounded by a clean reading. With an
    * unbracketed first sample and two repeats, both repeats must be clean.
    */
  def admissible(samples: Seq[Sample], healthyMembw: Double): Boolean =
    samples.count(_.clean(healthyMembw).contains(true)) * 2 > samples.size

  /** Sum of the successful medians: a failed query (median -1.0) is named
    * in the output, never counted as a fast one.
    */
  def total(medians: Iterable[Double]): Double = medians.filter(_ >= 0.0).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Repo root for the probe script and the sidecar: env override, then
    // the working directory if it holds the probe script, then the
    // canonical path.
    val repoDir = sys.env.get("SPARK_GRAFT_REPO_DIR")
      .orElse(Option(System.getProperty("user.dir"))
        .filter(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(d, "tools", "host_probe.py"))))
      .getOrElse("/root/repo")
    val spark = Harness.session(Harness.cpus)
    // The persist-heavy queries leave caches and localCheckpoint RDDs
    // behind for their lazily-returned results; left in a shared session
    // they bleed into the timings of whatever runs next. The sweep blocks
    // and is followed by a GC so that no async block removal lands inside
    // the next timed region.
    def clearState(): Unit = {
      Cleanup.release(spark, blocking = true)
      System.gc()
    }
    // `ev` channel: storage blocks dropped (update to an invalid storage
    // level) during a timed region. A sample whose count jumps against its
    // siblings evicted and recomputed a persisted stage mid-query — an
    // in-suite interaction a fresh-JVM `Dev time` cannot show.
    val dropped = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onBlockUpdated(
            e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
          if (!e.blockUpdatedInfo.storageLevel.isValid)
            dropped.incrementAndGet()
      })
    val benchT0 = System.nanoTime()
    // Block updates arrive on the async listener bus, so the previous
    // sweep's drops can still be in flight when the next region opens. The
    // bus has no public drain hook; waiting until the counter holds still
    // for one interval (at most 1 s) empties the sweep's burst.
    def settleDropped(): Long = {
      val deadline = System.nanoTime() + 1000000000L
      var prev = dropped.get()
      var quiet = false
      while (!quiet && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val cur = dropped.get()
        quiet = cur == prev
        prev = cur
      }
      prev
    }
    // Both probe channels shell out to tools/host_probe.py, so their
    // readings share the units it is calibrated in. The wait is bounded: a
    // wedged probe degrades to a missing reading instead of hanging the
    // run. Its output (<1 KB) cannot fill the pipe, so reading after the
    // wait cannot deadlock.
    val probeNum = "[0-9][0-9.]*(?:[eE][+-]?[0-9]+)?"
    def runProbe(extraArgs: String*): Option[String] = try {
      val cmd = Seq("python3",
        java.nio.file.Paths.get(repoDir, "tools", "host_probe.py").toString) ++
        extraArgs
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      val p = pb.start()
      if (!p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        None
      } else Some(new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => None }
    def probeMembw(): Double =
      runProbe("--membw")
        .flatMap(out => s"membw=($probeNum)".r.findFirstMatchIn(out))
        .map(_.group(1).toDouble).getOrElse(-1.0)
    def time(q: Q, bracket: Boolean): Sample = {
      val bw = if (bracket) probeMembw() else -1.0
      val ev0 = settleDropped()
      val at = (System.nanoTime() - benchT0) / 1e9 // after the settle wait
      val sec = try Harness.timedCount(spark, q.name, sfDir)._2
        catch { case _: Throwable => -1.0 }
      val ev = dropped.get() - ev0 // before the sweep's own drops
      // The closing probe hugs the timed region: it runs before the sweep
      // and GC, which can take seconds.
      val bwAfter = if (bracket) probeMembw() else -1.0
      clearState()
      Sample(sec, at, ev, bw, bwAfter)
    }
    // SPARK_GRAFT_ONLY runs a subset inside the same protocol. A filtered
    // run is not suite evidence: it writes no sidecar and tags its line.
    val only = Harness.only(SparkEntry.all.map(_.name))
    val toRun: Seq[Q] =
      if (only.isEmpty) SparkEntry.all else SparkEntry.all.filter(q => only(q.name))
    // Run-level host bracket: capacity varies externally, so a total is
    // admissible evidence only between healthy readings. Null when the
    // probe is unavailable.
    def probe(): String = runProbe().map { out =>
      val agg = s"aggregate=($probeNum)".r.findFirstMatchIn(out).map(_.group(1))
      val single = s"single=($probeNum)".r.findFirstMatchIn(out).map(_.group(1))
      val bw = s"membw=($probeNum)".r.findFirstMatchIn(out).map(_.group(1))
      (agg, single) match {
        case (Some(a), Some(s)) =>
          val bwField = bw.map(b => s""","membw":$b""").getOrElse("")
          s"""{"agg":$a,"single":$s$bwField}"""
        case _ => "null"
      }
    }.getOrElse("null")
    val probeBefore = probe()
    // Streaming warm-up canary: the first streaming row would otherwise
    // absorb one-time streaming warm-up (state-store init, planner
    // classloading) into its samples. One untimed run of the first declared
    // stream_* row pays it — only on a warm-up dir distinct from the timed
    // one, since a run on the timed dir would leave that row's caches warm.
    // The decision is recorded in the sidecar (`stream_canary`).
    val (warmDir, warmDistinct) = WarmDir.resolve(sfDir)
    val canaryRan = warmDistinct && {
      toRun.find(_.name.startsWith("stream_")).exists { canary =>
        try { canary.fn(spark, warmDir).count(); true }
        catch { case _: Throwable => false }
      }
    }
    clearState()
    // Declaration order keeps JVM warm-up on the same first query every run.
    val firsts = toRun.map(q => q -> time(q, bracket = false))
    // A failed first sample counts as slow: its row is repeated and bracketed.
    def slow(first: Sample, floorSec: Double) = first.sec < 0.0 || first.sec >= floorSec
    val extra: Map[String, Seq[Sample]] =
      (1 until Repeats).flatMap(_ => firsts.collect {
        case (q, first) if slow(first, RepeatFloorSec) =>
          q.name -> time(q, bracket = slow(first, BracketFloorSec))
      }).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val samples = firsts.map { case (q, first) =>
      q.name -> (first +: extra.getOrElse(q.name, Seq.empty))
    }
    val probeAfter = probe() // after the last timed query, before teardown
    val results = samples.map { case (k, v) => k -> median(v.map(_.sec)) }
    val totalSec = total(results.map(_._2))
    val failed = results.collect { case (k, v) if v < 0.0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Locale.ROOT: a comma decimal separator would break every artifact.
    def fix(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // Per-query values rounded to ms keep the one line short enough for a
    // captured output tail; the unrounded map is in the sidecar.
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fix(v, 3) }
      .mkString("{", ",", "}")
    val filteredTag = if (only.nonEmpty) ""","filtered":true""" else ""
    val line =
      s"""{"metric":"total","value":$totalSec,"unit":"sec","queries":$qs,""" +
        s""""failed":$failed,"sf":${jstr(sfDir)}$filteredTag}"""
    val full = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullSamples = samples.filter(_._2.size > 1)
      .map { case (k, v) => "\"" + k + "\":" + v.map(_.sec).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // `bw`/`bw_after` are omitted, not written as -1, when not measured.
    val meta = samples.map { case (k, v) =>
      "\"" + k + "\":" + v.map { s =>
        val bwField =
          if (s.bw >= 0.0) s""","bw":${fix(s.bw, 0)}""" else ""
        val bwAfterField =
          if (s.bwAfter >= 0.0) s""","bw_after":${fix(s.bwAfter, 0)}""" else ""
        s"""{"at":${fix(s.at, 2)},"sec":${fix(s.sec, 3)},"ev":${s.ev}$bwField$bwAfterField}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val canaryJson =
      s"""{"ran":$canaryRan,"warm_distinct":$warmDistinct,"dir":${jstr(warmDir)}}"""
    // The verdict map travels in the artifact, so no reader re-derives the
    // rule. The membw line is read from tools/host_probe.py, where it is
    // calibrated; if it cannot be read the map is omitted (not assessed).
    val healthyMembw: Option[Double] = try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(repoDir, "tools", "host_probe.py"))
      s"HEALTHY_MEMBW\\s*=\\s*($probeNum)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    } catch { case _: Throwable => None }
    val admissibilityField = healthyMembw.map { healthy =>
      samples
        .filter { case (_, v) => v.exists(_.clean(healthy).isDefined) }
        .map { case (k, v) =>
          val flags = v.map(_.clean(healthy))
          val fieldVals = flags.map(_.fold("null")(_.toString)).mkString("[", ",", "]")
          s""""$k":{"samples":$fieldVals,"n_bracketed":${flags.count(_.isDefined)},""" +
            s""""n_samples":${v.size},"admissible":${admissible(v, healthy)}}"""
        }.mkString(""","query_admissibility":{""", ",", "}")
    }.getOrElse("")
    if (only.isEmpty) {
      val sidecarPath = java.nio.file.Paths.get(repoDir, "BENCH_FULL.json")
      // Every run appends its {total, sf, probe bracket} to `runs` (last
      // 20 kept), so the spread across runs is part of the artifact and a
      // small-SF smoke run stays distinguishable from sf0.1 evidence.
      val runEntry =
        s"""{"total":$totalSec,"sf":${jstr(sfDir)},"probe_before":$probeBefore,""" +
          s""""probe_after":$probeAfter}"""
      val prevRuns: Seq[String] = try {
        val txt = java.nio.file.Files.readString(sidecarPath)
        """"runs":\[(.*)\]\}\s*$""".r.findFirstMatchIn(txt)
          .map(_.group(1)).filter(_.nonEmpty)
          .map(_.split("(?<=\\}),(?=\\{)").toSeq).getOrElse(Seq.empty)
      } catch { case _: Throwable => Seq.empty }
      val runs = (prevRuns :+ runEntry).takeRight(20).mkString("[", ",", "]")
      try java.nio.file.Files.writeString(sidecarPath,
        s"""{"total":$totalSec,"failed":$failed,"sf":${jstr(sfDir)},""" +
          s""""probe_before":$probeBefore,"probe_after":$probeAfter,""" +
          s""""stream_canary":$canaryJson,"queries":$full,"samples":$fullSamples,""" +
          s""""sample_meta":$meta$admissibilityField,"runs":$runs}""")
      catch { case _: Throwable => () } // sidecar is best-effort
    } else {
      println(s"""{"filtered_meta":$meta$admissibilityField,"stream_canary":$canaryJson}""")
    }
    spark.stop()
    println(line) // last stdout line: survives tail-capture intact
  }
}
