package graft.kinesis

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import graft.Check
import AggRecordCodec._

/** Wire-format + size-accounting invariants (SURVEY §5.2.3). */
class CodecSpec extends AnyFunSuite {

  private def forAll[A](g: Gen[A])(f: A => Boolean): Unit =
    Check.ok(Prop.forAll(g)(f))

  private val genPk: Gen[String] =
    Gen.chooseNum(1, 30).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
  private val genData: Gen[Array[Byte]] =
    Gen.chooseNum(0, 2000).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
  private val genEhk: Gen[Option[String]] = Gen.option(
    Gen.chooseNum(0L, Long.MaxValue).map(v => BigInteger.valueOf(v).toString))
  private val genRecord: Gen[(String, Option[String], Array[Byte])] =
    for { pk <- genPk; e <- genEhk; d <- genData } yield (pk, e, d)

  test("varintSize matches an actual varint encoding") {
    forAll(Gen.chooseNum(0L, Long.MaxValue)) { v =>
      var x = v; var n = 1
      while ((x & ~0x7FL) != 0L) { n += 1; x >>>= 7 }
      varintSize(v) == n
    }
    assert(varintSize(0L) == 1 && varintSize(127L) == 1 && varintSize(128L) == 2)
  }

  test("incremental size accounting is byte-exact vs real serialization") {
    forAll(Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, genRecord))) { records =>
      val b = new Builder
      val added = records.takeWhile { case (pk, e, d) => b.add(pk, e, d) }
      if (added.isEmpty) true
      else {
        val claimed = b.sizeBytes
        val agg = b.clearAndGet().get
        agg.toRecordBytes.length == claimed && agg.sizeBytes == claimed
      }
    }
  }

  test("encode/decode round trip preserves payloads, keys, order") {
    forAll(Gen.nonEmptyListOf(genRecord)) { records =>
      val b = new Builder
      val added = records.takeWhile { case (pk, e, d) => b.add(pk, e, d) }
      if (added.isEmpty) true
      else {
        val agg = b.clearAndGet().get
        val decoded = decode(agg.toRecordBytes)
        decoded.numUserRecords == added.length &&
          decoded.partitionKeyTable == agg.partitionKeyTable &&
          decoded.explicitHashKeyTable == agg.explicitHashKeyTable &&
          decoded.records.zip(added).forall { case (r, (pk, ehkOpt, data)) =>
            decoded.partitionKeyTable(r.pkIndex) == pk &&
              ehkOpt.forall(e => decoded.explicitHashKeyTable(r.ehkIndex) == e) &&
              r.data.toSeq == data.toSeq
          }
      }
    }
  }

  test("wire format: magic prefix, md5 suffix") {
    val b = new Builder
    assert(b.add("pk", None, Array[Byte](1, 2, 3)))
    val bytes = b.clearAndGet().get.toRecordBytes
    assert(bytes.take(4).toSeq == Seq(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte))
    val body = bytes.slice(4, bytes.length - 16)
    assert(md5(body).toSeq == bytes.takeRight(16).toSeq)
  }

  test("golden bytes: exact KPL protobuf layout (data = field 3, tag 0x1A)") {
    // Pins the wire format against the public KPL aggregation schema
    // (awslabs/kinesis-aggregation messages.proto): an encoder/decoder pair
    // sharing a wrong tag would round-trip but break real KCL consumers.
    val b = new Builder
    assert(b.add("a", Some("123"), "hi".getBytes(StandardCharsets.UTF_8)))
    val bytes = b.clearAndGet().get.toRecordBytes
    val expectedBody = Array(
      0x0A, 0x01, 0x61,                   // partition_key_table[0] = "a"
      0x12, 0x03, 0x31, 0x32, 0x33,       // explicit_hash_key_table[0] = "123"
      0x1A, 0x08,                         // records[0], 8 bytes
      0x08, 0x00,                         //   partition_key_index = 0
      0x10, 0x00,                         //   explicit_hash_key_index = 0
      0x1A, 0x02, 0x68, 0x69              //   data = "hi" (field 3!)
    ).map(_.toByte)
    assert(bytes.slice(4, bytes.length - 16).toSeq == expectedBody.toSeq)
    assert(bytes.take(4).toSeq == Magic.toSeq)
    assert(bytes.takeRight(16).toSeq == md5(expectedBody).toSeq)
  }

  test("decode skips unknown fields (KPL tags field, future extensions)") {
    // Hand-build a body whose record carries `tags` (field 4) and an unknown
    // varint field 5, and whose top level carries an unknown fixed64 field.
    import java.io.ByteArrayOutputStream
    val body = new ByteArrayOutputStream()
    def w(xs: Int*): Unit = xs.foreach(body.write)
    w(0x0A, 0x02, 0x70, 0x6B)             // pk table: "pk"
    w(0x12, 0x01, 0x37)                   // ehk table: "7"
    // record: pkIdx 0, ehkIdx 0, data "xy", tags {key:"k"}, field5 varint
    w(0x1A, 0x0F,
      0x08, 0x00, 0x10, 0x00,
      0x1A, 0x02, 0x78, 0x79,
      0x22, 0x03, 0x0A, 0x01, 0x6B,       //   tags = [{key:"k"}] — skipped
      0x28, 0x2A)                         //   unknown field 5 varint — skipped
    w(0x31, 1, 2, 3, 4, 5, 6, 7, 8)       // top-level unknown fixed64 field 6
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Magic, 0, 4); out.write(bodyBytes, 0, bodyBytes.length)
    val digest = md5(bodyBytes); out.write(digest, 0, 16)
    val agg = decode(out.toByteArray)
    assert(agg.partitionKeyTable == IndexedSeq("pk"))
    assert(agg.explicitHashKeyTable == IndexedSeq("7"))
    assert(agg.records.map(r => new String(r.data, StandardCharsets.UTF_8)) ==
      IndexedSeq("xy"))
  }

  test("decode rejects records whose data sits at the pre-fix tag 0x22") {
    // an archive written by the old encoder (data = field 4) must fail
    // loudly, not decode to silently-empty payloads
    import java.io.ByteArrayOutputStream
    val body = new ByteArrayOutputStream()
    def w(xs: Int*): Unit = xs.foreach(body.write)
    w(0x0A, 0x01, 0x61)                   // pk "a"
    w(0x12, 0x01, 0x37)                   // ehk "7"
    w(0x1A, 0x08,
      0x08, 0x00, 0x10, 0x00,
      0x22, 0x02, 0x68, 0x69)             // data at WRONG tag 0x22
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Magic, 0, 4); out.write(bodyBytes, 0, bodyBytes.length)
    val digest = md5(bodyBytes); out.write(digest, 0, 16)
    val e = intercept[IllegalArgumentException](decode(out.toByteArray))
    assert(e.getMessage.contains("no data field"))
  }

  test("decode rejects a field whose length overruns its message") {
    // a data length pointing past the record (into the MD5 trailer) must
    // fail, not read neighbouring bytes or truncate silently
    import java.io.ByteArrayOutputStream
    val body = new ByteArrayOutputStream()
    def w(xs: Int*): Unit = xs.foreach(body.write)
    w(0x0A, 0x01, 0x61)                   // pk "a"
    w(0x12, 0x01, 0x37)                   // ehk "7"
    w(0x1A, 0x08,
      0x08, 0x00, 0x10, 0x00,
      0x1A, 0x09, 0x68, 0x69)             // data claims 9 bytes, record has 2
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Magic, 0, 4); out.write(bodyBytes, 0, bodyBytes.length)
    val digest = md5(bodyBytes); out.write(digest, 0, 16)
    val e = intercept[IllegalArgumentException](decode(out.toByteArray))
    assert(e.getMessage.contains("overruns"))
  }

  test("dictionary encoding: repeated keys stored once, insertion order") {
    val b = new Builder
    assert(b.add("k1", Some("1"), Array[Byte](1)))
    assert(b.add("k2", Some("2"), Array[Byte](2)))
    assert(b.add("k1", Some("1"), Array[Byte](3)))
    val agg = b.clearAndGet().get
    assert(agg.partitionKeyTable == IndexedSeq("k1", "k2"))
    assert(agg.explicitHashKeyTable == IndexedSeq("1", "2"))
    assert(agg.records.map(_.pkIndex) == IndexedSeq(0, 1, 0))
  }

  test("uint128 EHK derivation matches the reference's byte-fold formula") {
    // reference formula (AggRecord.java:231-243): Σ (digest[i]&255) << (15-i)*8
    forAll(genPk) { pk =>
      val digest = md5(pk.getBytes(StandardCharsets.UTF_8))
      var expected = BigInteger.ZERO
      for (i <- 0 until 16) {
        expected = expected.add(
          BigInteger.valueOf(digest(i) & 0xFF).shiftLeft((16 - i - 1) * 8))
      }
      val got = createExplicitHashKey(pk)
      val v = new BigInteger(got)
      got == expected.toString(10) && v.signum() >= 0 && v.compareTo(Uint128Max) <= 0
    }
  }

  test("validators enforce reference bounds") {
    intercept[IllegalArgumentException](validatePartitionKey(""))
    intercept[IllegalArgumentException](validatePartitionKey("x" * 257))
    validatePartitionKey("x" * 256)
    intercept[IllegalArgumentException](validateExplicitHashKey("-1"))
    intercept[IllegalArgumentException](validateExplicitHashKey("not-a-number"))
    intercept[IllegalArgumentException](
      validateExplicitHashKey(Uint128Max.add(BigInteger.ONE).toString))
    validateExplicitHashKey(Uint128Max.toString)
    intercept[IllegalArgumentException](
      validateData(new Array[Byte](MaxBytesPerRecord - 4 - 16 + 1)))
  }
}
