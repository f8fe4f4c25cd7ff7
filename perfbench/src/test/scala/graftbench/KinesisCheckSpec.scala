package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kinesis._

/** The benchmark's own Kinesis instruments and checks. */
class KinesisCheckSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // small, but with a tail above the 100,000 B last-record limit
  private val params = KinesisLoad.Params(payloads = 600, tailOneIn = 40, tailMax = 300000)
  private val data = KinesisLoad.payloads(7L, params)
  private val want = data.map(KinesisLoad.digest)

  /** Forwards every entry except the `dropAt`-th, which it reports as
    * delivered without storing it. */
  private final class DroppingTransport(inner: PutRecordsTransport, dropAt: Int)
      extends PutRecordsTransport {
    private var seen = 0
    override def putRecords(streamName: String, entries: Seq[PutEntry]): PutResult = synchronized {
      val keep = entries.filter { _ => seen += 1; seen != dropAt }
      val r = inner.putRecords(streamName, keep)
      r.copy(shardIds = r.shardIds ++ Seq.fill(entries.size - keep.size)("shardId-dropped"))
    }
  }

  private def writeAll(transport: PutRecordsTransport, stream: InMemoryKinesis): Long = {
    val cfg = KinesisSinkSemantics.Config(streamName = stream.id, backoffMillis = 1)
    val ehks = ShardModel.explicitHashKeys(stream.id, stream)
    KinesisSinkSemantics.writePartition(data.iterator, transport, ehks, cfg)
  }

  test("a clean write passes the check") {
    val stream = new InMemoryKinesis(8)
    val written = writeAll(stream, stream)
    val (records, errs) = KinesisLoad.checkWrite(want, KinesisLoad.received(stream), written)
    assert(errs.isEmpty)
    assert(records.size == data.length)
    assert(KinesisLoad.checkRead(records, records.map(KinesisLoad.digest)).isEmpty)
  }

  test("a transport that silently drops one entry fails the check") {
    val stream = new InMemoryKinesis(8)
    val written = writeAll(new DroppingTransport(stream, dropAt = 3), stream)
    assert(written == data.length) // the sink cannot tell
    val (_, errs) = KinesisLoad.checkWrite(want, KinesisLoad.received(stream), written)
    assert(errs.exists(_.contains("never arrived")), errs)
  }

  test("a corrupted aggregate or a lost read-back record fails the check") {
    val stream = new InMemoryKinesis(8)
    val written = writeAll(stream, stream)
    val got = KinesisLoad.received(stream)
    val (records, _) = KinesisLoad.checkWrite(want, got, written)
    val (shard, aggs) = got.head
    val bad = aggs.head.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte // breaks the MD5
    val (_, errs) = KinesisLoad.checkWrite(want, got.updated(shard, bad +: aggs.tail), written)
    assert(errs.exists(_.contains("does not decode")), errs)
    assert(KinesisLoad.checkRead(records, records.tail.map(KinesisLoad.digest)).nonEmpty)
  }

  test("the counting transport agrees with what the stream received") {
    for (faults <- Seq(false, true)) {
      val stream =
        if (faults) new InMemoryKinesis(8, failEvery = 2, throttleEvery = 3, failRecordEvery = 3)
        else new InMemoryKinesis(8)
      val id = s"count-$faults-${stream.id}"
      val written = writeAll(new KinesisLoad.CountingTransport(stream, id), stream)
      val c = KinesisLoad.countersOf(id)
      val got = KinesisLoad.received(stream)
      assert(c.entries.get - c.failed.get == got.values.map(_.size.toLong).sum)
      if (!faults) assert(c.wireBytes.get == got.values.flatten.map(_.length.toLong).sum)
      else assert(c.failed.get > 0 && c.throttled.get > 0)
      assert(KinesisLoad.checkWrite(want, got, written)._2.isEmpty)
    }
  }

  test("the replayed packing matches the sink's writes exactly") {
    val nparts = 3
    val df = KinesisLoad.frame(spark, data, nparts)
    val stream = new InMemoryKinesis(8)
    val id = s"replay-${stream.id}"
    val cfg = KinesisSinkSemantics.Config(streamName = stream.id)
    val written = KinesisSinkSemantics.write(df, "data",
      new KinesisLoad.CountingTransport(stream, id), stream, cfg)
    assert(written == data.length)
    val r = KinesisLoad.replay(data, nparts, ShardModel.explicitHashKeys(stream.id, stream), cfg)
    val c = KinesisLoad.countersOf(id)
    assert(r.aggregates == c.entries.get)
    assert(r.wireBytes == c.wireBytes.get)
    assert(r.aggregateBytes.max <= 1048576)
    df.unpersist()
  }
}
