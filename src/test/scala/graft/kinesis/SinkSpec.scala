package graft.kinesis

import java.nio.ByteBuffer
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.Check
import scala.jdk.CollectionConverters._
import scala.math.Ordering.Implicits.seqOrdering

/** At-least-once sink semantics against the in-memory transport:
  * delivery, rebuild-retry with re-routing, bounded back-off, random
  * fault schedules, shard spread, and the distributed DataFrame path.
  */
class SinkSpec extends AnyFunSuite {

  private def payloads(n: Int, size: Int = 200): Seq[Array[Byte]] =
    (0 until n).map(i => s"payload-$i-${"x" * size}".getBytes("UTF-8"))

  private def receivedPayloads(k: InMemoryKinesis): Seq[Seq[Byte]] =
    k.received.values.asScala.toSeq.flatMap(_.asScala).map { wire =>
      AggRecordCodec.decode(wire).records.map(_.data.toSeq)
    }.flatten

  private val cfg = KinesisSinkSemantics.Config(
    streamName = "t", backoffMillis = 1, maxAggSize = 20000, maxLastSize = 2000)

  test("clean path: every payload delivered exactly once, count correct") {
    val k = new InMemoryKinesis(numShards = 4)
    val ehks = ShardModel.explicitHashKeys("t", k)
    val in = payloads(500)
    val n = KinesisSinkSemantics.writePartition(in.iterator, k, ehks, cfg)
    assert(n == 500)
    assert(receivedPayloads(k).sorted == in.map(_.toSeq).sorted)
  }

  test("per-record failures in a multi-entry call: only failed entries retry") {
    // small aggregates → many entries per grouped PutRecords call;
    // every 4th record (i.e. entry) fails individually
    val k = new InMemoryKinesis(numShards = 4, failRecordEvery = 4)
    val ehks = ShardModel.explicitHashKeys("t", k)
    val in = payloads(300)
    val n = KinesisSinkSemantics.writePartition(in.iterator, k, ehks, cfg)
    assert(n == 300)
    // failed entries were never stored, so selective retry delivers
    // exactly once — no duplicates despite the failure schedule
    assert(receivedPayloads(k).sorted == in.map(_.toSeq).sorted)
    assert(k.received.asScala.nonEmpty)
  }

  test("multi-entry grouping respects the per-call entry and byte caps") {
    def callSizes(in: Seq[Array[Byte]], c: KinesisSinkSemantics.Config): Seq[Int] = {
      val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
      val k = new InMemoryKinesis(numShards = 2)
      val spy = new PutRecordsTransport {
        override def putRecords(s: String, entries: Seq[PutEntry]): PutResult = {
          calls.synchronized { calls += entries.size }
          assert(entries.map(_.data.length.toLong).sum <= KinesisSinkSemantics.PutRecordsMaxBytes)
          k.putRecords(s, entries)
        }
      }
      val n = KinesisSinkSemantics.writePartition(in.iterator, spy,
        ShardModel.explicitHashKeys("t", k), c)
      assert(n == in.size)
      assert(receivedPayloads(k).sorted == in.map(_.toSeq).sorted)
      calls.toSeq
    }
    // maxAggSize = 1 admits each second record as the last: 1,200 payloads
    // pack into 600 two-record aggregates, sent as 500 + 100
    assert(callSizes(payloads(1200), cfg.copy(maxAggSize = 1)) == Seq(500, 100))
    // one 600 kB payload per aggregate: eight fit under 5 MiB, nine do not
    val big = (0 until 20).map(i => Array.fill[Byte](600000)(i.toByte))
    assert(callSizes(big, KinesisSinkSemantics.Config("t", backoffMillis = 1)) == Seq(8, 8, 4))
  }

  test("shard listing paginates and midpoints land inside each range") {
    val k = new InMemoryKinesis(numShards = 5)
    val shards = ShardModel.allShards("t", k)
    assert(shards.size == 5)
    val ehks = ShardModel.explicitHashKeys("t", k)
    assert(ehks.length == 5)
    ehks.zip(shards).foreach { case (e, s) =>
      val v = new java.math.BigInteger(e)
      assert(v.compareTo(new java.math.BigInteger(s.startingHashKey)) >= 0)
      assert(v.compareTo(new java.math.BigInteger(s.endingHashKey)) <= 0)
    }
  }

  test("injected failures: rebuild-retry still delivers everything") {
    val k = new InMemoryKinesis(numShards = 4, failEvery = 3)
    val ehks = ShardModel.explicitHashKeys("t", k)
    val in = payloads(800)
    val n = KinesisSinkSemantics.writePartition(in.iterator, k, ehks, cfg)
    assert(n == 800)
    // every payload arrives exactly once: a failed PutRecords delivers
    // nothing, the rebuilt aggregate carries the full shadow batch
    assert(receivedPayloads(k).sorted == in.map(_.toSeq).sorted)
  }

  test("rebuild with a longer EHK splits instead of overflowing the cap") {
    // pack an aggregate right up to the 1 MiB cap with a 1-char EHK, then
    // force a retry that rebuilds with 39-char EHKs: repack must split
    val b = new AggRecordCodec.Builder
    val payload = Array.fill[Byte](10000)(1)
    while (b.add("a", Some("1"), payload)) ()
    val agg = b.clearAndGet().get
    assert(agg.sizeBytes > 1000000)
    val batch = PackedBatch(agg, agg.records.map(_.data))
    val bigEhks = Array.fill(4)(java.math.BigInteger.ONE.shiftLeft(127).toString)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Int]
    var calls = 0
    val flakyOnce = new PutRecordsTransport {
      override def putRecords(s: String, e: Seq[PutEntry]): PutResult = {
        calls += 1
        if (calls == 1) PutResult(e.size, Seq.empty) // fail the original send
        else {
          delivered ++= e.map(x => AggRecordCodec.decode(x.data).numUserRecords)
          PutResult(0, e.map(_ => "x"))
        }
      }
    }
    KinesisSinkSemantics.sendGroupWithRetry(Seq(batch), flakyOnce,
      new ShardModel.Router(bigEhks, 1L),
      KinesisSinkSemantics.Config("t", backoffMillis = 1))
    assert(delivered.sum == agg.numUserRecords, s"lost records: $delivered")
    assert(delivered.size >= 2, s"expected a split rebuild, got $delivered")
  }

  test("selective throttle: penalty only on throttled shards, EHK carried into retry") {
    var now = 0L
    val throttle = new ShardThrottle("t-" + System.nanoTime(),
      bytesPerSec = 1 << 20, recordsPerSec = 1000,
      nanoTime = () => now, sleep = ms => now += ms * 1000000L)
    val batches = (0 until 3).map { i =>
      val b = new AggRecordCodec.Builder
      assert(b.add("a", Some((i + 1).toString), Array[Byte](i.toByte)))
      PackedBatch(b.clearAndGet().get, IndexedSeq(Array[Byte](i.toByte)))
    }
    val callEhks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val transport = new PutRecordsTransport {
      override def putRecords(s: String, e: Seq[PutEntry]): PutResult = {
        callEhks.synchronized { callEhks += e.map(_.explicitHashKey) }
        if (callEhks.size == 1) // first call: only the middle entry throttles
          PutResult(1, Seq("x"), throttledRecordCount = 1,
            failedIndices = Seq(1), throttledIndices = Seq(1))
        else PutResult(0, e.map(_ => "x"))
      }
    }
    val router = new ShardModel.Router(Array("777"), 1L) // a re-roll would draw 777
    KinesisSinkSemantics.sendGroupWithRetry(batches, transport, router,
      KinesisSinkSemantics.Config("t", backoffMillis = 1, throttle = Some(throttle)))
    assert(callEhks.head == Seq("1", "2", "3"))
    assert(callEhks(1) == Seq("2"),
      s"throttled entry must retry on its ORIGINAL shard key: ${callEhks(1)}")
    assert(throttle.factorOf("2") == 0.5, "throttled shard not penalized")
    assert(throttle.factorOf("1") == 1.0 && throttle.factorOf("3") == 1.0,
      "back-off penalty leaked onto shards that were never throttled")
  }

  test("non-throttle failures still re-roll a fresh EHK (reference semantics)") {
    val b = new AggRecordCodec.Builder
    assert(b.add("a", Some("1"), Array[Byte](9)))
    val batch = PackedBatch(b.clearAndGet().get, IndexedSeq(Array[Byte](9)))
    val callEhks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val transport = new PutRecordsTransport {
      override def putRecords(s: String, e: Seq[PutEntry]): PutResult = {
        callEhks.synchronized { callEhks += e.map(_.explicitHashKey) }
        if (callEhks.size == 1) PutResult(1, Seq.empty, failedIndices = Seq(0))
        else PutResult(0, e.map(_ => "x"))
      }
    }
    KinesisSinkSemantics.sendGroupWithRetry(Seq(batch), transport,
      new ShardModel.Router(Array("777"), 1L),
      KinesisSinkSemantics.Config("t", backoffMillis = 1))
    assert(callEhks.head == Seq("1") && callEhks(1) == Seq("777"))
  }

  test("permanent failure: bounded retries then gives up (no reference infinite loop)") {
    val alwaysFail = new PutRecordsTransport {
      override def putRecords(s: String, e: Seq[PutEntry]): PutResult =
        PutResult(e.size, Seq.empty)
    }
    val router = new ShardModel.Router(Array("1", "2"), 1L)
    val b = new AggRecordCodec.Builder
    assert(b.add("a", Some("1"), Array[Byte](1, 2)))
    val batch = PackedBatch(b.clearAndGet().get, IndexedSeq(Array[Byte](1, 2)))
    val ex = intercept[IllegalStateException] {
      KinesisSinkSemantics.sendGroupWithRetry(Seq(batch), alwaysFail, router,
        cfg.copy(maxRetries = 3))
    }
    assert(ex.getMessage.contains("after 3 retries"))
  }

  test("back-off delay stays within [0, 30 s] and never decreases") {
    Seq(0L, 1L, 100L, 30000L, Long.MaxValue).foreach { base =>
      val delays = (0 to 200).map(a =>
        KinesisSinkSemantics.backoffDelay(cfg.copy(backoffMillis = base), a))
      assert(delays.forall(d => d >= 0 && d <= 30000), s"base $base: $delays")
      assert(delays.zip(delays.tail).forall { case (a, b) => a <= b }, s"base $base: $delays")
    }
  }

  test("random fault schedules: every payload arrives, every aggregate decodes within 1 MiB") {
    val every = Gen.oneOf(0 +: (2 to 9))
    // mostly small payloads plus a tail above the 100 kB last-record
    // limit, so the gate's flush-first and hard-cap branches are reached
    val size = Gen.frequency(9 -> Gen.chooseNum(1, 2000), 1 -> Gen.chooseNum(100001, 400000))
    val gen = for {
      failEvery <- every; throttleEvery <- every; failRecordEvery <- every
      sizes <- Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, size))
    } yield (failEvery, throttleEvery, failRecordEvery, sizes)
    Check.okNoShrink(gen, minTests = 200) { case (fe, te, fre, sizes) =>
      val k = new InMemoryKinesis(numShards = 8, failEvery = fe, throttleEvery = te,
        failRecordEvery = fre)
      val in = sizes.zipWithIndex.map { case (n, i) => Array.tabulate[Byte](n)(j => (i * 31 + j).toByte) }
      val n = KinesisSinkSemantics.writePartition(in.iterator, k,
        ShardModel.explicitHashKeys("t", k),
        KinesisSinkSemantics.Config("t", maxRetries = 1000, backoffMillis = 0))
      val stored = k.received.values.asScala.toSeq.flatMap(_.asScala)
      val got = stored.flatMap(w => AggRecordCodec.decode(w).records.map(r => ByteBuffer.wrap(r.data))).toSet
      k.received.clear() // the stream registry outlives the case
      n == in.size && stored.forall(_.length <= AggRecordCodec.MaxBytesPerRecord) &&
        in.forall(p => got(ByteBuffer.wrap(p)))
    }
  }

  test("router spreads batches across shards") {
    val ehks = ShardModel.evenRanges(8)
      .map { case (lo, hi) => ShardModel.midpoint(lo, hi).toString }.toArray
    val distinctFirstDraws = (0 until 16)
      .map(pid => new ShardModel.Router(ehks, 42L + pid).next()).distinct
    assert(distinctFirstDraws.size >= 4,
      "adjacent-seed routers must not all pick the same shard")
    val r = new ShardModel.Router(ehks, 42L)
    val spread = (0 until 200).map(_ => r.next()).distinct
    assert(spread.size == 8)
  }

  test("reference-shaped API: write(streamName, iterator) returns the count") {
    val k = new InMemoryKinesis(numShards = 3)
    val in = payloads(321)
    val n = GraftKinesisWriter.write("ref-api", in.iterator, k, k)
    assert(n == 321)
    assert(receivedPayloads(k).sorted == in.map(_.toSeq).sorted)
  }

  test("distributed DataFrame write: all rows delivered via mapPartitions") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val k = new InMemoryKinesis(numShards = 4)
    val df = (0 until 2000).map(i => s"row-$i").toDF("s")
      .select(org.apache.spark.sql.functions.col("s").cast("binary").as("payload"))
      .repartition(6)
    val n = KinesisSinkSemantics.write(df, "payload", k, k,
      cfg.copy(streamName = "dist"))
    assert(n == 2000)
    assert(receivedPayloads(k).size == 2000)
    assert(k.received.keySet.asScala.size >= 2, "expect multiple shards hit")
  }
}
