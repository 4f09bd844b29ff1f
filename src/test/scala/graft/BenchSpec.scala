package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Bench.Sample

/** Bench's pure rules: which rows are repeated, the median over successful
  * samples, the per-query admissibility flag and the total; and the one
  * query timer that Bench, the probes and `Dev` share.
  */
class BenchSpec extends GraftSpec {
  private val healthy = 1.7e10
  private val first = Sample(sec = 3.0, at = 0.0, ev = 0)
  private def repeat(bw: Double, bwAfter: Double) =
    Sample(sec = 2.5, at = 1.0, ev = 0, bw = bw, bwAfter = bwAfter)

  test("an unbracketed first sample plus two clean repeats is admissible") {
    val v = Seq(first, repeat(2.0e10, 1.5e10), repeat(1.2e10, 1.8e10))
    assert(v.map(_.clean(healthy)) == Seq(None, Some(true), Some(true)))
    assert(Bench.admissible(v, healthy))
  }

  test("one dirty repeat, or one whose probes both failed, is not admissible") {
    assert(!Bench.admissible(Seq(first, repeat(2.0e10, 2.0e10), repeat(1.6e10, 1.5e10)), healthy))
    assert(!Bench.admissible(Seq(first, repeat(2.0e10, 2.0e10), repeat(-1.0, -1.0)), healthy))
  }

  test("the first declared row is always repeated, any other row only when its first sample is slow or failed") {
    val fast = Sample(sec = 0.3, at = 0.0, ev = 0)
    val failed = Sample(sec = -1.0, at = 0.0, ev = 0)
    assert(Bench.repeated(0, fast))
    assert(Bench.repeated(0, first))
    assert(!Bench.repeated(1, fast))
    assert(Bench.repeated(1, first))
    assert(Bench.repeated(1, failed))
    assert(!Bench.repeated(2, Sample(sec = Bench.RepeatFloorSec - 0.01, at = 0.0, ev = 0)))
    assert(Bench.repeated(2, Sample(sec = Bench.RepeatFloorSec, at = 0.0, ev = 0)))
  }

  test("failed samples are left out of the median") {
    assert(Bench.median(Seq(-1.0, 3.0, 1.0)) == 2.0)
    assert(Bench.median(Seq(4.0, -1.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(0.7)) == 0.7)
  }

  test("an all-failed row has median -1.0 and is left out of the total") {
    val medians = Seq(Bench.median(Seq(1.5)), Bench.median(Seq(-1.0, -1.0, -1.0)), 2.0)
    assert(medians(1) == -1.0)
    assert(Bench.total(medians) == 3.5)
    assert(Bench.total(Seq.empty) == 0.0)
  }

  test("Harness.scala holds the one System.nanoTime timer around a query's count() under src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root))
    val timer = """(?s)System\.nanoTime\(\)[^}]{0,200}?\.count\(\)""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> timer.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(hits == Map("scala/graft/Harness.scala" -> 1))
  }
}
