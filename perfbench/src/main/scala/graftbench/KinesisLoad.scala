package graftbench

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.kinesis._

/** Inputs, instruments and checks of the two Kinesis workloads. */
object KinesisLoad {

  /** Payload set of one pass: mostly small records plus a seeded tail of
    * records above the 100,000 B last-record limit, so the 1,000,000 B
    * gate, the last-record rule and the 1 MiB hard cap all fire. */
  final case class Params(
      payloads: Int = 40000,
      smallMin: Int = 100,
      smallMax: Int = 2048,
      tailOneIn: Int = 400,
      tailMin: Int = 100001,
      tailMax: Int = 600000,
      shards: Int = 8) {
    def toJson: Json = Json.obj(
      "payloads" -> Json.Int64(payloads), "small_bytes" -> Json.Arr(Seq(
        Json.Int64(smallMin), Json.Int64(smallMax))),
      "tail_one_in" -> Json.Int64(tailOneIn), "tail_bytes" -> Json.Arr(Seq(
        Json.Int64(tailMin), Json.Int64(tailMax))),
      "shards" -> Json.Int64(shards))
  }

  /** Fault schedule and back-off of `kinesis_faults`. The throttle budget
    * sits far above the sink's unthrottled rate, so waiting comes from the
    * service's throttle signal halving a shard's budget, not from the
    * provisioned budget itself. */
  final case class Faults(
      failRecordEvery: Int = 50,
      throttleEvery: Int = 9,
      failEvery: Int = 11,
      backoffMillis: Long = 1,
      shardBytesPerSec: Long = 64L << 20,
      shardRecordsPerSec: Long = 100000L) {
    def toJson: Json = Json.obj(
      "fail_record_every" -> Json.Int64(failRecordEvery),
      "throttle_every" -> Json.Int64(throttleEvery),
      "fail_every" -> Json.Int64(failEvery),
      "backoff_ms" -> Json.Int64(backoffMillis),
      "throttle_shard_bytes_per_s" -> Json.Int64(shardBytesPerSec),
      "throttle_shard_records_per_s" -> Json.Int64(shardRecordsPerSec))
  }

  /** Distinct payloads: an 8-byte index followed by seeded random bytes.
    * One record in every `tailOneIn` (at a seeded place in its stretch) is
    * a tail record; tail sizes step evenly through the tail range from a
    * seeded start. Every seed thus moves about the same number of bytes, and
    * any contiguous partition gets a like share of them. */
  def payloads(seed: Long, p: Params): Array[Array[Byte]] = {
    val rnd = new java.util.SplittableRandom(seed)
    val k = p.payloads / p.tailOneIn
    val offset = rnd.nextInt(k)
    val tail = (0 until k).map { j =>
      val size = p.tailMin + (p.tailMax - p.tailMin).toLong * ((j + offset) % k) / math.max(1, k - 1)
      (j * p.tailOneIn + rnd.nextInt(p.tailOneIn)) -> size.toInt
    }.toMap
    Array.tabulate(p.payloads) { i =>
      val n = tail.getOrElse(i, rnd.nextInt(p.smallMin, p.smallMax + 1))
      val b = new Array[Byte](n)
      val buf = ByteBuffer.wrap(b)
      buf.putLong(i.toLong)
      while (buf.remaining() >= 8) buf.putLong(rnd.nextLong())
      while (buf.hasRemaining) buf.put(rnd.nextInt().toByte)
      b
    }
  }

  /** The payloads as an `nparts`-partition DataFrame, materialised in
    * memory so building it is not billed to the sink. */
  def frame(spark: SparkSession, data: Array[Array[Byte]], nparts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("data", BinaryType, nullable = false)))
    val rdd = spark.sparkContext.parallelize(data.toSeq, nparts).map(Row(_))
    val df = spark.createDataFrame(rdd, schema).persist(StorageLevel.MEMORY_ONLY)
    require(df.count() == data.length)
    df
  }

  /** Index ranges of each partition, as `parallelize` slices a Seq. */
  def slices(n: Int, nparts: Int): Seq[(Int, Int)] =
    (0 until nparts).map(i => ((i.toLong * n / nparts).toInt, ((i + 1).toLong * n / nparts).toInt))

  final class Counters {
    val calls = new AtomicLong
    val entries = new AtomicLong
    val wireBytes = new AtomicLong
    val failed = new AtomicLong
    val throttled = new AtomicLong
    val busyNs = new AtomicLong
  }
  private val counters = new ConcurrentHashMap[String, Counters]()
  def countersOf(id: String): Counters = counters.computeIfAbsent(id, _ => new Counters)

  /** Counts and times every PutRecords call. State lives in a static
    * registry keyed by `id`, because Spark ships a copy of the transport
    * to each task. */
  final class CountingTransport(inner: PutRecordsTransport, val id: String)
      extends PutRecordsTransport {
    override def putRecords(streamName: String, entries: Seq[PutEntry]): PutResult = {
      val c = countersOf(id)
      val t0 = System.nanoTime()
      val r = inner.putRecords(streamName, entries)
      val t1 = System.nanoTime()
      c.calls.incrementAndGet()
      c.entries.addAndGet(entries.size.toLong)
      c.wireBytes.addAndGet(entries.iterator.map(_.data.length.toLong).sum)
      c.failed.addAndGet(r.failedRecordCount.toLong)
      c.throttled.addAndGet(r.throttledRecordCount.toLong)
      c.busyNs.addAndGet(t1 - t0)
      Trace.record("PutRecordsTransport.putRecords", Trace.ambient, t0, t1)
      r
    }
  }

  /** What the sink's packing and encoding produce for these payloads,
    * recomputed outside the sink with the public packer and codec: each
    * partition's payloads go through `BatchingIterator` with the router
    * seed `writePartition` uses, then `toRecordBytes` and `decode`. */
  final case class Replay(aggregates: Long, wireBytes: Long, packNs: Long, encodeNs: Long,
      decodeNs: Long, aggregateBytes: Seq[Int])

  def replay(data: Array[Array[Byte]], nparts: Int, ehks: Array[String],
      cfg: KinesisSinkSemantics.Config): Replay = {
    var aggs = 0L; var bytes = 0L; var packNs = 0L; var encNs = 0L; var decNs = 0L
    val sizes = mutable.ArrayBuffer.empty[Int]
    slices(data.length, nparts).zipWithIndex.foreach { case ((lo, hi), pid) =>
      val router = new ShardModel.Router(ehks, cfg.routerSeed + pid)
      val it = new BatchingIterator(
        data.iterator.slice(lo, hi).map(p => (cfg.partitionKey, Option.empty[String], p)),
        () => router.next(), cfg.maxAggSize, cfg.maxLastSize)
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        more = Trace.span("Batching.next")(it.hasNext)
        if (more) {
          val b = Trace.span("Batching.next")(it.next())
          val t1 = System.nanoTime()
          val wire = Trace.span("AggRecordCodec.encode")(b.aggregate.toRecordBytes)
          val t2 = System.nanoTime()
          Trace.span("AggRecordCodec.decode")(AggRecordCodec.decode(wire))
          val t3 = System.nanoTime()
          packNs += t1 - t0; encNs += t2 - t1; decNs += t3 - t2
          aggs += 1; bytes += wire.length; sizes += wire.length
        } else packNs += System.nanoTime() - t0
      }
    }
    Replay(aggs, bytes, packNs, encNs, decNs, sizes.toSeq)
  }

  /** Every aggregate the stream holds, per shard. */
  def received(stream: InMemoryKinesis): Map[String, Seq[Array[Byte]]] =
    stream.received.asScala.map { case (k, v) => k -> v.synchronized(v.asScala.toSeq) }.toMap

  /** Correctness of one write: every received aggregate decodes (magic
    * and MD5 checked) and fits the 1 MiB cap, every generated payload
    * arrived at least once, and `write` returned the payload count.
    * Payloads are compared by (xxhash64, length). Returns the user records
    * received, and the problems found. */
  def checkWrite(want: Array[(Long, Int)], got: Map[String, Seq[Array[Byte]]],
      written: Long): (Seq[Array[Byte]], Seq[String]) = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (written != want.length) errs += s"write returned $written, expected ${want.length}"
    val records = mutable.ArrayBuffer.empty[Array[Byte]]
    got.values.flatten.foreach { wire =>
      if (wire.length > 1048576) errs += s"aggregate of ${wire.length} B exceeds 1 MiB"
      try records ++= AggRecordCodec.decode(wire).records.map(_.data)
      catch { case e: Exception => errs += s"aggregate does not decode: ${e.getMessage}" }
    }
    val counts = mutable.HashMap.empty[(Long, Int), Int]
    records.foreach(r => counts.updateWith(digest(r))(c => Some(c.getOrElse(0) + 1)))
    val missing = want.count { k =>
      counts.get(k) match {
        case Some(c) if c > 0 => counts(k) = c - 1; false
        case _ => true
      }
    }
    if (missing > 0) errs += s"$missing of ${want.length} payloads never arrived"
    (records.toSeq, errs.toSeq)
  }

  /** (xxhash64, length) of a payload: the multiset key the read check
    * compares, computed as Spark's `xxhash64` column computes it. */
  def digest(b: Array[Byte]): (Long, Int) =
    (org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L), b.length)

  /** The source must return exactly the received user records. */
  def checkRead(received: Seq[Array[Byte]], read: Seq[(Long, Int)]): Seq[String] = {
    val want = received.map(digest).sorted
    val got = read.sorted
    if (want == got) Nil
    else Seq(s"source returned ${got.size} records, ${want.size} received; multisets differ")
  }

  /** Max ÷ mean aggregates per shard over all `shards` shards. */
  def shardSkew(got: Map[String, Seq[Array[Byte]]], shards: Int): Double = {
    val sizes = got.values.map(_.size.toDouble).toSeq
    if (sizes.isEmpty) 0.0 else sizes.max / (sizes.sum / shards)
  }
}
