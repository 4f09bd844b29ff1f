package perfbench

import scala.collection.mutable

/** Answers computed apart from the program, in plain Scala, that the
  * workloads' outputs are checked against.
  */
object Reference {

  /** Exact all-pairs Jaccard ≥ 0.8 over token sets, with integer arithmetic
    * only (5·|A∩B| ≥ 4·|A∪B|). PPJoin-style prefix filtering over a global
    * rare-first token order: a pair at ≥ 0.8 must share a token within the
    * first |s| − ⌈0.8·|s|⌉ + 1 tokens of each set. Returns
    * (a, b, |A∩B|, |A∪B|) with a < b, indices into `sets`.
    */
  def pairs(sets: Array[Array[String]]): mutable.ArrayBuffer[(Long, Long, Int, Int)] = {
    val freq = mutable.HashMap.empty[String, Int]
    sets.foreach(_.foreach(t => freq(t) = freq.getOrElse(t, 0) + 1))
    val rank = freq.toArray.sortBy { case (t, f) => (f, t) }.map(_._1).zipWithIndex.toMap
    val docs = sets.map(s => s.distinct.map(rank).sorted)
    val order = docs.indices.sortBy(i => (docs(i).length, i))
    val index = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    val out = mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
    val seen = mutable.HashSet.empty[Int]
    for (x <- order) {
      val xs = docs(x)
      val n = xs.length
      if (n > 0) {
        val prefix = n - (4 * n + 4) / 5 + 1
        seen.clear()
        var p = 0
        while (p < prefix) {
          index.get(xs(p)).foreach(_.foreach { y =>
            if (seen.add(y) && 5 * docs(y).length >= 4 * n) {
              val inter = intersect(xs, docs(y))
              val union = n + docs(y).length - inter
              if (5 * inter >= 4 * union)
                out += ((math.min(x, y).toLong, math.max(x, y).toLong, inter, union))
            }
          })
          p += 1
        }
        p = 0
        while (p < prefix) { index.getOrElseUpdate(xs(p), mutable.ArrayBuffer.empty) += x; p += 1 }
      }
    }
    out
  }

  private def intersect(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    c
  }

  /** keep_id per doc: the smallest id of its connected component over
    * `edges` (union-find).
    */
  def labels(n: Int, edges: Iterable[(Long, Long)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    Array.tabulate(n)(i => find(i).toLong)
  }

  /** (hour start epoch s, event_type) → (count, sum of cents). */
  def tumbling(ev: Array[Gen.Event]): Map[(Long, String), (Long, Long)] =
    ev.groupBy(e => (e.tsSec - Math.floorMod(e.tsSec, 3600L), e.eventType))
      .map { case (k, es) => k -> (es.length.toLong, es.map(_.cents).sum) }
}
