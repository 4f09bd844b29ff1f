package graft.sources.kinesis

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KPL (Kinesis Producer Library) record aggregation — the PUBLIC wire
  * format real Kinesis producers use by default, covered by the reference's
  * test surface (SURVEY §2.1 `KPLBasedKinesisTestUtils` row). A source that
  * hands user code an aggregated blob as one record silently corrupts
  * payload rows, so the decode path must deaggregate.
  *
  * Wire format (public AWS documentation / aws/amazon-kinesis-producer
  * aggregation-format.md):
  *
  *   magic 0xF3 0x89 0x9A 0xC2
  *   protobuf AggregatedRecord {
  *     repeated string partition_key_table    = 1;
  *     repeated string explicit_hash_key_table = 2;
  *     repeated Record records                 = 3;  // message
  *   }
  *   Record {
  *     required uint64 partition_key_index     = 1;
  *     optional uint64 explicit_hash_key_index = 2;
  *     required bytes  data                    = 3;
  *     repeated Tag    tags                    = 4;  // skipped
  *   }
  *   md5(protobuf body) — 16-byte trailer
  *
  * The protobuf subset is hand-rolled (varint + length-delimited only, with
  * unknown-field skipping) — no protobuf dependency exists offline, and the
  * format is small and frozen. Anything that fails ANY check (magic, md5,
  * truncation, bad index) is treated as a plain non-aggregated record, which
  * is exactly the KCL deaggregator's fallback behavior.
  */
object Kpl {

  private val Magic = Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)

  // ------------------------------------------------------------ encoder --

  /** Encode (partitionKey, payload) pairs as one KPL-aggregated blob —
    * the producer side (used by the sink-side batching path and by tests
    * pushing realistic aggregated traffic through the fake service).
    *
    * Every length prefix is computed up front, so the blob is written once
    * into an exactly-sized array and the MD5 trailer is digested in place.
    */
  def aggregate(records: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(records.nonEmpty, "cannot aggregate zero records")
    val keyIndex = mutable.LinkedHashMap[String, Int]()
    // (key index, data, length of the Record message)
    val recs = records.iterator.map { case (pk, data) =>
      val i = keyIndex.getOrElseUpdate(pk, keyIndex.size)
      (i, data, 2 + varintSize(i) + varintSize(data.length) + data.length)
    }.toArray
    val keys = keyIndex.keys.map(_.getBytes(UTF_8)).toArray
    val bodyLen = keys.map(k => 1 + varintSize(k.length) + k.length).sum +
      recs.map { case (_, _, len) => 1 + varintSize(len) + len }.sum
    val w = new Writer(new Array[Byte](Magic.length + bodyLen + 16))
    Magic.foreach(w.byte(_))
    keys.foreach { k => w.byte(0x0A); w.bytes(k) } // field 1, wire type 2
    recs.foreach { case (i, data, len) =>
      w.byte(0x1A); w.varint(len)                  // field 3, wire type 2
      w.byte(0x08); w.varint(i)                    //   field 1, wire type 0
      w.byte(0x1A); w.bytes(data)                  //   field 3, wire type 2
    }
    val md5 = MessageDigest.getInstance("MD5")
    md5.update(w.buf, Magic.length, bodyLen)
    md5.digest(w.buf, w.pos, 16)
    w.buf
  }

  private def varintSize(v: Int): Int = (38 - Integer.numberOfLeadingZeros(v | 1)) / 7

  /** Protobuf writer over a presized buffer: single bytes, unsigned
    * varints and length-delimited byte strings.
    */
  private final class Writer(val buf: Array[Byte]) {
    var pos = 0
    def byte(b: Int): Unit = { buf(pos) = b.toByte; pos += 1 }
    def varint(v0: Int): Unit = {
      var v = v0
      while ((v & ~0x7F) != 0) { byte((v & 0x7F) | 0x80); v >>>= 7 }
      byte(v)
    }
    def bytes(b: Array[Byte]): Unit = {
      varint(b.length)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
  }

  // ------------------------------------------------------------ decoder --

  /** Parse a KPL blob to (partitionKey, data) pairs; None when the blob is
    * not (valid) KPL — callers fall back to treating it as one record.
    */
  def parse(blob: Array[Byte]): Option[Seq[(String, Array[Byte])]] = {
    if (blob == null || blob.length < Magic.length + 16) return None
    var i = 0
    while (i < Magic.length) { if (blob(i) != Magic(i)) return None; i += 1 }
    val body = java.util.Arrays.copyOfRange(blob, Magic.length, blob.length - 16)
    val md5 = java.util.Arrays.copyOfRange(blob, blob.length - 16, blob.length)
    if (!MessageDigest.getInstance("MD5").digest(body).sameElements(md5)) return None
    try {
      val keys = new ArrayBuffer[String]()
      val recs = new ArrayBuffer[(Long, Array[Byte])]() // (pkIndex, data)
      val r = new Reader(body)
      while (r.hasMore) {
        val (field, wt) = r.tag()
        (field, wt) match {
          case (1, 2) => keys += new String(r.lengthDelimited(), UTF_8)
          case (3, 2) =>
            val rr = new Reader(r.lengthDelimited())
            var pkIdx = -1L
            var data: Array[Byte] = null
            while (rr.hasMore) {
              val (f2, w2) = rr.tag()
              (f2, w2) match {
                case (1, 0) => pkIdx = rr.varint()
                case (3, 2) => data = rr.lengthDelimited()
                case _      => rr.skip(w2)
              }
            }
            if (pkIdx < 0 || data == null) return None
            recs += ((pkIdx, data))
          case _ => r.skip(wt)
        }
      }
      if (recs.isEmpty) return None
      Some(recs.map { case (idx, data) =>
        if (idx >= keys.length) return None
        (keys(idx.toInt), data)
      }.toSeq)
    } catch { case _: IllegalArgumentException => None }
  }

  /** Minimal protobuf wire reader: varints, length-delimited fields, and
    * skipping of the remaining wire types. Throws IllegalArgumentException
    * on truncation (`parse` then reads the blob as non-KPL).
    */
  private final class Reader(b: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < b.length
    def tag(): (Int, Int) = {
      val t = varint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }
    def varint(): Long = {
      var shift = 0
      var acc = 0L
      while (true) {
        require(pos < b.length && shift < 64, "truncated varint")
        val x = b(pos); pos += 1
        acc |= (x & 0x7FL) << shift
        if ((x & 0x80) == 0) return acc
        shift += 7
      }
      acc // unreachable
    }
    def lengthDelimited(): Array[Byte] = {
      val n = varint()
      require(n >= 0 && pos + n <= b.length, "truncated length-delimited field")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + n.toInt)
      pos += n.toInt
      out
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => require(pos + 8 <= b.length, "truncated fixed64"); pos += 8
      case 2 => lengthDelimited()
      case 5 => require(pos + 4 <= b.length, "truncated fixed32"); pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }

  /** The kernel of [[KplDeaggregate]]: KPL blobs expand to their member
    * records (with their own partition keys); anything else passes through
    * as a single element with a NULL key (callers coalesce to the record's
    * transport-level partitionKey).
    */
  def deaggregateToArrayData(blob: Array[Byte]): ArrayData = parse(blob) match {
    case Some(recs) =>
      new GenericArrayData(recs.map { case (pk, data) =>
        InternalRow(UTF8String.fromString(pk), data)
      }.toArray[Any])
    case None =>
      new GenericArrayData(Array[Any](InternalRow(null, blob)))
  }

  /** Element type of the deaggregated array. */
  val ElementType: StructType = StructType(Seq(
    StructField("partitionKey", StringType, nullable = true),
    StructField("data", BinaryType, nullable = false)))
}

/** Catalyst expression: BINARY → ARRAY<STRUCT<partitionKey, data>>, replaced
  * by a `StaticInvoke` of [[Kpl.deaggregateToArrayData]], so the decode stays
  * inside whole-stage codegen with the surrounding explode/projections — the
  * SURVEY UDF policy's "narrow codegen expression, no UDF" escalation.
  */
case class KplDeaggregate(child: Expression)
  extends RuntimeReplaceable with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes = Seq(BinaryType)

  override lazy val replacement: Expression =
    StaticInvoke(Kpl.getClass, ArrayType(Kpl.ElementType, containsNull = false),
      "deaggregateToArrayData", Seq(child), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): KplDeaggregate =
    copy(child = newChild)
}
