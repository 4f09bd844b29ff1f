package graft.sources.kinesis

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The KPL encoder's exact bytes: fixed records give a fixed blob, so a
  * rewrite of `Kpl.aggregate` cannot drift from the wire format the
  * decoder and real consumers read. The expected values were taken from
  * the `ArrayBuffer`-based encoder this one replaced.
  */
class KplGoldenSpec extends graft.GraftSpec {

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  test("three records over two keys encode to the golden blob") {
    val blob = Kpl.aggregate(Seq(
      "alpha" -> """{"n":1}""".getBytes(UTF_8),
      "beta"  -> """{"n":2}""".getBytes(UTF_8),
      "alpha" -> """{"n":3}""".getBytes(UTF_8)))
    assert(hex(blob) ==
      "f3899ac2" +                                   // magic
        "0a05616c706861" + "0a0462657461" +          // key table: alpha, beta
        "1a0b08001a077b226e223a317d" +               // (0, {"n":1})
        "1a0b08011a077b226e223a327d" +               // (1, {"n":2})
        "1a0b08001a077b226e223a337d" +               // (0, {"n":3})
        "3332ac3ed1cf7348f4bccf7ae0f484fe")          // md5 of the body
  }

  test("two-byte varints (key index 129, lengths 300 and 307) encode to the golden blob") {
    val recs = (0 until 130).map(i => s"k$i" -> s"d$i".getBytes(UTF_8)) ++
      Seq("k129" -> Array.emptyByteArray, "k7" -> new Array[Byte](300))
    val blob = Kpl.aggregate(recs)
    assert(blob.length == 2197)
    // The last two records: (129, empty) and (7, 300 zero bytes) in a
    // 307-byte Record message, followed by the data and the md5 trailer.
    assert(hex(blob.slice(blob.length - 16 - 315, blob.length - 16 - 300)) ==
      "1a050881011a00" + "1ab10208071aac02")
    assert(hex(MessageDigest.getInstance("SHA-256").digest(blob)) ==
      "876234be559b4db5337746cb26f9bf7b80a201a4196d28448bb865480f1af3fe")
    assert(Kpl.parse(blob).map(_.map { case (k, d) => (k, d.toSeq) }) ==
      Some(recs.map { case (k, d) => (k, d.toSeq) }))
  }
}
