package graft.kinesis

import java.io.ByteArrayOutputStream
import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** KPL aggregated-record wire format, reimplemented from scratch.
  *
  * Wire layout (reference: `AggRecord.java:61-74`): 4-byte magic
  * `F3 89 9A C2` ‖ protobuf(AggregatedRecord) ‖ MD5(protobuf body).
  * Protobuf schema (public awslabs/kinesis-aggregation `messages.proto`):
  * {{{
  *   message AggregatedRecord {
  *     repeated string partition_key_table     = 1;
  *     repeated string explicit_hash_key_table = 2;
  *     repeated Record records                 = 3;
  *   }
  *   message Tag {
  *     required string key   = 1;
  *     optional string value = 2;
  *   }
  *   message Record {
  *     required uint64 partition_key_index     = 1;
  *     optional uint64 explicit_hash_key_index = 2;
  *     required bytes  data                    = 3;
  *     repeated Tag    tags                    = 4;
  *   }
  * }}}
  * Keys are dictionary-encoded (reference: `AggRecord.java:163-174,263-297`):
  * each record stores a varint index into insertion-ordered key tables.
  * The protobuf writer is hand-rolled (varint + length-delimited fields)
  * because no protobuf dependency is available offline — ~40 lines.
  */
object AggRecordCodec {

  val Magic: Array[Byte] = Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)
  /** Kinesis hard cap per record (reference: `AggRecord.java:33`). */
  val MaxBytesPerRecord: Int = 1048576
  val Md5Length: Int = 16
  val PartitionKeyMinLength = 1
  val PartitionKeyMaxLength = 256
  val Uint128Max: BigInteger = BigInteger.ONE.shiftLeft(128).subtract(BigInteger.ONE)

  /** Protobuf varint byte width: ceil(bitsNeeded / 7)
    * (reference: `AggRecord.java:128-149`). */
  def varintSize(value: Long): Int = {
    require(value >= 0, "Size values should not be negative.")
    if (value == 0L) 1
    else {
      val bits = 64 - java.lang.Long.numberOfLeadingZeros(value)
      (bits + 6) / 7
    }
  }

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeLenDelimited(out: ByteArrayOutputStream, tag: Int, bytes: Array[Byte]): Unit = {
    out.write(tag)
    writeVarint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  def md5(bytes: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(bytes)

  /** MD5-derived uint128 explicit hash key as a decimal string — the
    * routing key used when none is supplied (reference:
    * `AggRecord.java:231-243`; equivalent to folding the digest
    * big-endian into a 128-bit unsigned integer). */
  def createExplicitHashKey(partitionKey: String): String =
    new BigInteger(1, md5(partitionKey.getBytes(StandardCharsets.UTF_8))).toString(10)

  def validatePartitionKey(pk: String): Unit = {
    require(pk != null, "Partition key cannot be null")
    val len = pk.getBytes(StandardCharsets.UTF_8).length
    require(len >= PartitionKeyMinLength && len <= PartitionKeyMaxLength,
      s"Invalid partition key. Length must be at least 1 and at most 256, got $len")
  }

  def validateExplicitHashKey(ehk: String): Unit = if (ehk != null) {
    val b = try new BigInteger(ehk) catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"Invalid explicitHashKey, must be an integer, got $ehk")
    }
    require(b.signum() >= 0 && b.compareTo(Uint128Max) <= 0,
      s"Invalid explicitHashKey, must be in [0, 2^128-1], got $ehk")
  }

  def validateData(data: Array[Byte]): Unit = {
    val max = MaxBytesPerRecord - Magic.length - Md5Length
    require(data == null || data.length <= max,
      s"Data must be less than or equal to $max bytes in size, got ${data.length} bytes")
  }

  /** One user record inside an aggregate: dictionary indices + payload. */
  final case class PackedRecord(pkIndex: Int, ehkIndex: Int, data: Array[Byte])

  /** An immutable, completed aggregate ready for the wire. */
  final case class Aggregate(
      partitionKeyTable: IndexedSeq[String],
      explicitHashKeyTable: IndexedSeq[String],
      records: IndexedSeq[PackedRecord],
      messageSizeBytes: Int) {
    def numUserRecords: Int = records.length
    /** First record's keys address the whole aggregate (reference:
      * `AggRecord.java:177-180`). */
    def partitionKey: String = partitionKeyTable(records.head.pkIndex)
    def explicitHashKey: String = explicitHashKeyTable(records.head.ehkIndex)
    def sizeBytes: Int =
      if (records.isEmpty) 0 else Magic.length + messageSizeBytes + Md5Length

    /** magic ‖ protobuf ‖ md5(protobuf) (reference: `AggRecord.java:61-74`). */
    def toRecordBytes: Array[Byte] = {
      if (records.isEmpty) return Array.emptyByteArray
      val body = new ByteArrayOutputStream(messageSizeBytes)
      partitionKeyTable.foreach(k => writeLenDelimited(body, 0x0A, k.getBytes(StandardCharsets.UTF_8)))
      explicitHashKeyTable.foreach(k => writeLenDelimited(body, 0x12, k.getBytes(StandardCharsets.UTF_8)))
      records.foreach { r =>
        val rec = new ByteArrayOutputStream(r.data.length + 16)
        rec.write(0x08); writeVarint(rec, r.pkIndex.toLong)
        rec.write(0x10); writeVarint(rec, r.ehkIndex.toLong)
        writeLenDelimited(rec, 0x1A, r.data) // data = field 3 (tag 0x1A)
        writeLenDelimited(body, 0x1A, rec.toByteArray)
      }
      val bodyBytes = body.toByteArray
      val out = new ByteArrayOutputStream(bodyBytes.length + Magic.length + Md5Length)
      out.write(Magic, 0, Magic.length)
      out.write(bodyBytes, 0, bodyBytes.length)
      val digest = md5(bodyBytes)
      out.write(digest, 0, digest.length)
      out.toByteArray
    }
  }

  /** Mutable accumulate-until-overflow builder (reference semantics of
    * `AggRecord.addUserRecord` + `RecordAggregator`): `add` returns false
    * when the record would push the serialized size past the 1 MiB hard
    * cap; the caller then emits via `clearAndGet` and re-adds.
    */
  final class Builder {
    private val pkTable = mutable.LinkedHashMap.empty[String, Int]
    private val ehkTable = mutable.LinkedHashMap.empty[String, Int]
    private val records = IndexedSeq.newBuilder[PackedRecord]
    private var nRecords = 0
    private var messageSize = 0

    def numUserRecords: Int = nRecords
    def sizeBytes: Int =
      if (nRecords == 0) 0 else Magic.length + messageSize + Md5Length

    /** Exact serialized-size delta of adding this record, without
      * serializing (reference: `AggRecord.java:94-126`): key-table entries
      * if unseen, plus the inner record's varint framing. */
    def recordSizeDelta(pk: String, ehk: String, data: Array[Byte]): Int = {
      var size = 0
      if (!pkTable.contains(pk)) {
        val len = pk.getBytes(StandardCharsets.UTF_8).length
        size += 1 + varintSize(len.toLong) + len
      }
      if (!ehkTable.contains(ehk)) {
        val len = ehk.getBytes(StandardCharsets.UTF_8).length
        size += 1 + varintSize(len.toLong) + len
      }
      var inner = 0L
      inner += 1 + varintSize(pkTable.getOrElse(pk, pkTable.size).toLong)
      inner += 1 + varintSize(ehkTable.getOrElse(ehk, ehkTable.size).toLong)
      inner += 1 + varintSize(data.length.toLong) + data.length
      size += 1 + varintSize(inner)
      size + inner.toInt
    }

    /** Try to add; false = would exceed the hard cap (emit first). */
    def add(pk: String, ehkOpt: Option[String], data: Array[Byte]): Boolean = {
      val ehk = ehkOpt.getOrElse(createExplicitHashKey(pk))
      validatePartitionKey(pk)
      validateExplicitHashKey(ehk)
      validateData(data)
      val delta = recordSizeDelta(pk, ehk, data)
      if (sizeBytes + delta > MaxBytesPerRecord) return false
      val pkIdx = pkTable.getOrElseUpdate(pk, pkTable.size)
      val ehkIdx = ehkTable.getOrElseUpdate(ehk, ehkTable.size)
      records += PackedRecord(pkIdx, ehkIdx, data)
      nRecords += 1
      messageSize += delta
      true
    }

    /** Emit the current aggregate (None if empty) and reset. */
    def clearAndGet(): Option[Aggregate] = {
      if (nRecords == 0) return None
      val agg = Aggregate(pkTable.keys.toIndexedSeq, ehkTable.keys.toIndexedSeq,
        records.result(), messageSize)
      pkTable.clear(); ehkTable.clear(); records.clear()
      nRecords = 0; messageSize = 0
      Some(agg)
    }
  }

  // ---- Decoder (round-trip verification + consumer-side tests) ---------

  /** Protobuf read position over `buf(pos until end)`; nested messages
    * get a sub-cursor over the same array, so nothing is copied until a
    * field's bytes are taken. */
  private final class Cursor(buf: Array[Byte], var pos: Int, end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var res = 0L; var b = 0
      do {
        require(pos < end, "truncated varint")
        b = buf(pos) & 0xFF; pos += 1
        res |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      res
    }
    /** Step over the next `n` bytes, returning where they start. */
    private def skip(n: Long): Int = {
      require(n >= 0 && n <= end - pos, s"field of $n bytes overruns its message")
      val at = pos; pos += n.toInt; at
    }
    /** Step over a length-delimited field, returning where its contents start. */
    private def field(): Int = skip(varint())
    def message(): Cursor = { val at = field(); new Cursor(buf, at, pos) }
    def bytes(): Array[Byte] = { val at = field(); java.util.Arrays.copyOfRange(buf, at, pos) }
    def string(): String = { val at = field(); new String(buf, at, pos - at, StandardCharsets.UTF_8) }
    /** Skip an unknown field by wire type, as protobuf consumers must (a
      * real KPL may append `tags` = field 4, or future fields). */
    def skipField(tag: Int): Unit = (tag & 7) match {
      case 0 => varint()
      case 1 => skip(8)
      case 2 => field()
      case 5 => skip(4)
      case wt => throw new IllegalArgumentException(s"unsupported wire type $wt (tag $tag)")
    }
  }

  /** Parse wire bytes back into an Aggregate; validates magic + digest.
    *
    * Field numbers follow the public KPL aggregation schema (data = 3,
    * tags = 4), as published identically in amazon-kinesis-producer's
    * `aggregation-format.md`, amazon-kinesis-client's `messages.proto`
    * (the `software.amazon.kinesis.retrieval.kpl.Messages` the reference's
    * `AggRecord.java:25` builds with), and awslabs/kinesis-aggregation. */
  def decode(bytes: Array[Byte]): Aggregate = {
    require(bytes.length > Magic.length + Md5Length, "too short")
    require(java.util.Arrays.equals(bytes, 0, Magic.length, Magic, 0, Magic.length), "bad magic")
    val end = bytes.length - Md5Length
    val md = MessageDigest.getInstance("MD5")
    md.update(bytes, Magic.length, end - Magic.length)
    require(java.util.Arrays.equals(md.digest(), 0, Md5Length, bytes, end, bytes.length),
      "digest mismatch")

    val body = new Cursor(bytes, Magic.length, end)
    val pks = IndexedSeq.newBuilder[String]
    val ehks = IndexedSeq.newBuilder[String]
    val recs = IndexedSeq.newBuilder[PackedRecord]
    while (body.hasMore) {
      body.varint().toInt match {
        case 0x0A => pks += body.string()
        case 0x12 => ehks += body.string()
        case 0x1A =>
          val rec = body.message()
          var pkIdx = 0; var ehkIdx = 0; var data: Array[Byte] = null
          while (rec.hasMore) {
            rec.varint().toInt match {
              case 0x08 => pkIdx = rec.varint().toInt
              case 0x10 => ehkIdx = rec.varint().toInt
              case 0x1A => data = rec.bytes() // data = field 3
              case other => rec.skipField(other)
            }
          }
          // `data` is a REQUIRED proto field — its absence means a
          // malformed record, most likely an archive written by this
          // repo's pre-fix encoder (data at field 4/tag 0x22, skipped here
          // as `tags`). Fail loudly rather than yield empty payloads.
          require(data != null,
            "record has no data field (3); wire bytes may predate the field-3 fix")
          recs += PackedRecord(pkIdx, ehkIdx, data)
        case other => body.skipField(other)
      }
    }
    Aggregate(pks.result(), ehks.result(), recs.result(), end - Magic.length)
  }
}
