package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Everything a workload feeds the program is made
  * here from `--seed`; the same seed gives byte-identical inputs.
  */
object Gen {

  // ------------------------------------------------------------- events --

  /** Hour-aligned base of the generated event times (2024-05-01 00:00 UTC). */
  val EventEpochSec = 1714521600L
  val EventHours = 48
  val EventTypes: Array[String] = Array("view", "click", "cart", "purchase", "share")
  private val TypeCumWeights = Array(50, 78, 90, 97, 100) // skewed mix, percent

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** One generated event; `cents` is the exact 2-decimal `value`. */
  final case class Event(id: Long, userId: Long, eventType: String, tsSec: Long, cents: Long) {
    def partitionKey: String = s"user-$userId"
    def json: String = {
      val t = TsFormat.format(java.time.Instant.ofEpochSecond(tsSec))
      f"""{"event_id":$id,"user_id":$userId,"event_type":"$eventType","ts":"$t",""" +
        f""""value":${cents / 100}.${cents % 100}%02d}"""
    }
  }

  /** `n` events over [[EventHours]] hours in arrival order that is not time
    * order (event time jitters around the arrival position), users drawn
    * from a skewed population so some partition keys are hot.
    */
  def events(seed: Long, n: Int): Array[Event] = {
    val r = new SplittableRandom(seed ^ 0x5EEDE7E7L)
    val span = EventHours * 3600L
    Array.tabulate(n) { i =>
      val arrival = span * i / n
      val ts = math.min(span - 1, math.max(0L, arrival + r.nextLong(-1800L, 1800L)))
      val u = r.nextInt(100)
      val pct = r.nextInt(100)
      val tpe = EventTypes(TypeCumWeights.indexWhere(pct < _))
      // 0.01 .. 999.99, never zero so no sum can hide a dropped record
      Event(i.toLong, (u * u) / 10L + r.nextInt(2000).toLong, tpe,
        EventEpochSec + ts, r.nextLong(1L, 100000L))
    }
  }

  def eventPayloads(ev: Array[Event]): Array[(String, Array[Byte])] =
    ev.map(e => (e.partitionKey, e.json.getBytes(UTF_8)))

  // ------------------------------------------------------- keyed records --

  /** Round-trip records: `keys` partition keys, each record's payload names
    * its key and its position within that key, so per-key order can be
    * checked after the round trip. Payload sizes vary 40..400 bytes.
    */
  final case class KeyedRecord(key: String, pos: Int, payload: Array[Byte])

  def keyedRecords(seed: Long, n: Int, keys: Int): Array[KeyedRecord] = {
    val r = new SplittableRandom(seed ^ 0x0DDBA11L)
    val next = new Array[Int](keys)
    Array.tabulate(n) { _ =>
      val k = math.min(keys - 1, (keys * math.pow(r.nextDouble(), 2.0)).toInt) // hot keys
      val pos = next(k); next(k) += 1
      val pad = "x" * r.nextInt(0, 360)
      val key = f"key-$k%03d"
      KeyedRecord(key, pos, s"""{"k":"$key","n":$pos,"pad":"$pad"}""".getBytes(UTF_8))
    }
  }

  // ------------------------------------------------------------- corpus --

  /** A generated document: `tokens` is its distinct token set (what the
    * program's tokenizer recovers from `text`).
    */
  final case class Doc(id: Long, text: String, tokens: Array[String])

  /** The generated corpus; doc ids are the array indices. */
  final case class Corpus(docs: Array[Doc])

  val VocabSize = 60000
  private val Cons = "bcdfghklmnprstvw"
  private val Vows = "aeio"

  /** Pseudo-word for vocabulary index `i` (unique per index). */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    while ({ val d = x & 63; sb += Cons(d >> 2); sb += Vows(d & 3); x >>>= 6; x > 0 }) ()
    sb.toString
  }

  /** Reserved tokens of the planted pairs; `q` is never produced by [[word]]. */
  private def planted(i: Int): String = "qu" + word(i)

  /** Planted exact-τ pairs: a 28-token set inside a 35-token set
    * (Jaccard 28/35 = 0.8 exactly), on reserved tokens, the same for every
    * seed, so any fault at exactly τ shows the same way in every run.
    */
  val PlantedPairs = 3
  private def plantedPair(p: Int): (Array[String], Array[String]) = {
    val big = Array.tabulate(35)(i => planted(p * 100 + i))
    (big.take(28), big)
  }

  /** Designed make-up of the corpus (counts are the same for every seed,
    * so a pass always checks the same number of pairs and labels).
    */
  val DupGroupSizes: Seq[(Int, Int)] = Seq(2 -> 12, 3 -> 4, 5 -> 1, 12 -> 1) // size -> groups
  val PairFamilies = 16        // base + one variant
  val TripleFamilies = 5       // base + two variants
  val PairFamiliesWithCopy = 3 // base + variant + exact copy of the variant

  /** Zipf(1) sampler over the vocabulary. */
  private final class Zipf(n: Int) {
    private val cum = {
      val c = new Array[Double](n); var s = 0.0; var i = 0
      while (i < n) { s += 1.0 / (i + 1); c(i) = s; i += 1 }
      c.map(_ / s)
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** `n` heavy-tailed lengths, Pareto(α=1.3, x_min=8) capped at 1500, taken
    * at evenly spaced quantiles so every seed gets the same multiset of
    * lengths (in its own order); only which tokens fill them varies.
    */
  private def lengths(r: SplittableRandom, n: Int, min: Int): Iterator[Int] = {
    val ls = Array.tabulate(n) { i =>
      val u = (i + 0.5) / n
      math.max(min, math.min(1500, (8.0 / math.pow(1.0 - u, 1.0 / 1.3)).toInt))
    }
    for (i <- ls.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ls(i); ls(i) = ls(j); ls(j) = t
    }
    ls.iterator
  }

  /** `total` documents: background singletons plus the designed groups,
    * families and planted pairs, ids shuffled over [0, total). Background
    * documents that land at Jaccard ≥ 0.8 with anything by chance are drawn
    * again, so the exact pair set is the designed one whatever the seed.
    */
  def corpus(seed: Long, total: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0xC0FFEEL)
    val zipf = new Zipf(VocabSize)
    def tokenSet(len: Int): Array[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      var tries = 0
      while (s.size < len && tries < len * 50) { s += word(zipf.next(r)); tries += 1 }
      s.toArray
    }
    def fresh(avoid: collection.Set[String], k: Int): Array[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < k) { val w = word(r.nextInt(VocabSize)); if (!avoid(w)) s += w }
      s.toArray
    }
    // unit = one designed block of token sets; background units are singletons
    val units = mutable.ArrayBuffer.empty[(Boolean, Array[Array[String]])] // (background, sets)
    val groupLen = lengths(r, DupGroupSizes.map(_._2).sum, 12)
    for ((size, groups) <- DupGroupSizes; _ <- 0 until groups) {
      val s = tokenSet(groupLen.next()); units += ((false, Array.fill(size)(s)))
    }
    def variant(base: Array[String], used: mutable.Set[String]): Array[String] = {
      val k = math.max(1, base.length / 25)
      val rep = fresh(used, k); used ++= rep
      val drop = mutable.Set.empty[Int]
      while (drop.size < k) drop += r.nextInt(base.length)
      base.indices.filterNot(drop).map(base).toArray ++ rep
    }
    val families = PairFamilies + TripleFamilies + PairFamiliesWithCopy
    val familyLen = lengths(r, families, 30)
    for (f <- 0 until families) {
      val base = tokenSet(familyLen.next())
      val used = mutable.Set.empty[String] ++= base
      val v1 = variant(base, used)
      val sets =
        if (f < PairFamilies) Array(base, v1)
        else if (f < PairFamilies + TripleFamilies) {
          // fresh edits: J(v1, v2) >= (L-2k)/(L+2k) > 0.8 for k <= L/25
          Array(base, v1, variant(base, used))
        } else Array(base, v1, v1)
      units += ((false, sets))
    }
    for (p <- 0 until PlantedPairs) {
      val (a, b) = plantedPair(p); units += ((false, Array(a, b)))
    }
    val designedDocs = units.map(_._2.length).sum
    require(total > designedDocs, s"corpus of $total docs cannot hold $designedDocs designed docs")
    lengths(r, total - designedDocs, 8).foreach(l => units += ((true, Array(tokenSet(l)))))

    // flatten with shuffled ids
    val ids = Array.range(0, total).map(_.toLong)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val sets = new Array[Array[String]](total)
    val unitOf = new Array[Int](total)
    val background = new Array[Boolean](total)
    var at = 0
    units.zipWithIndex.foreach { case ((bg, ss), u) =>
      ss.foreach { s =>
        val id = ids(at).toInt; sets(id) = s; unitOf(id) = u; background(id) = bg; at += 1
      }
    }
    // redraw background docs that match anything outside their own unit
    var clean = false
    var rounds = 0
    while (!clean) {
      val bad = Reference.pairs(sets).iterator
        .filter { case (a, b, _, _) => unitOf(a.toInt) != unitOf(b.toInt) }
        .map { case (a, b, _, _) =>
          if (background(b.toInt)) b.toInt else if (background(a.toInt)) a.toInt
          else throw new IllegalStateException(s"designed docs $a and $b collide")
        }.toSet
      clean = bad.isEmpty
      bad.foreach(i => sets(i) = tokenSet(sets(i).length))
      rounds += 1
      require(rounds < 20, "corpus generator did not converge")
    }
    val docs = Array.tabulate(total) { i =>
      Doc(i.toLong, render(sets(i), r), sets(i))
    }
    Corpus(docs)
  }

  /** Text for a token set: shuffled order, some tokens repeated, so
    * identical sets make different texts (the tokenizer keeps distinct
    * tokens).
    */
  private def render(set: Array[String], r: SplittableRandom): String = {
    val b = mutable.ArrayBuffer.empty[String] ++= set
    val extra = set.length / 5
    for (_ <- 0 until extra) b += set(r.nextInt(set.length))
    for (i <- b.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
    }
    b.mkString(" ")
  }
}
