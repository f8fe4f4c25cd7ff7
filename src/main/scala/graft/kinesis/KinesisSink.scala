package graft.kinesis

import java.math.BigInteger
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One PutRecords entry: the aggregate's first PK/EHK + wire bytes
  * (reference: `AggRecord.java:186-193`). */
final case class PutEntry(partitionKey: String, explicitHashKey: String, data: Array[Byte])

/** Outcome of one PutRecords call. PutRecords reports per-record results
  * in request order, so failures are positions within the call:
  * `failedIndices` are the entries to rebuild and resend, and
  * `throttledIndices` the subset that failed with
  * ProvisionedThroughputExceeded — the back-off penalty lands only on
  * those shards. `shardIds` are the shards of the delivered entries. */
final case class PutResult(shardIds: Seq[String],
    failedIndices: Seq[Int] = Seq.empty,
    throttledIndices: Seq[Int] = Seq.empty) {
  def failedRecordCount: Int = failedIndices.size
  def throttledRecordCount: Int = throttledIndices.size
}

/** Transport boundary. The AWS SDK is not resolvable offline (and the
  * engine is cloud-agnostic); production would implement this with
  * `KinesisClient.putRecords`. Tests use [[InMemoryKinesis]], including
  * injected fault schedules for the retry path. Must be serializable:
  * instances ship to executor tasks.
  */
trait PutRecordsTransport extends Serializable {
  def putRecords(streamName: String, entries: Seq[PutEntry]): PutResult
}

/** In-memory Kinesis stand-in: n open shards evenly splitting the uint128
  * keyspace; records land on the shard whose hash range contains their
  * EHK. `failEvery` injects a deterministic failure on every k-th call to
  * exercise the rebuild-retry path.
  *
  * State lives in a JVM-static registry keyed by instance id: Spark
  * serializes task closures even under `local[*]`, so instance fields
  * would silo state per task copy — the static map keeps all task copies
  * and the driver looking at the same stream (single-JVM test transport).
  * This file is the only code that touches that state; readers go through
  * [[InMemoryKinesis.shards]] and [[InMemoryKinesis.aggregates]].
  */
object InMemoryKinesis {
  /** One shard's metadata: hash range, lineage, and — once closed by a
    * split/merge — the aggregate count at close time (a consumer must
    * drain exactly that many before reading the children). */
  private final case class ShardMeta(
      lo: BigInteger, hi: BigInteger,
      parents: Seq[String],
      closedAt: Option[Int])

  /** One shard as a [[shards]] snapshot saw it: its metadata plus the
    * number of aggregates stored in it so far. */
  private[kinesis] final case class Shard(id: String, lo: BigInteger, hi: BigInteger,
      parents: Seq[String], closedAt: Option[Int], stored: Int)

  private final class State {
    val calls = new AtomicLong(0)
    val recordSeq = new AtomicLong(0)
    val received = new ConcurrentHashMap[String, java.util.List[Array[Byte]]]()
    /** insertion-ordered shard table; all access synchronized on it */
    val shards = new java.util.LinkedHashMap[String, ShardMeta]()
    var nextShardNum = 0
    def newShardId(): String = { val i = nextShardNum; nextShardNum += 1; f"shardId-$i%012d" }
    def sizeOf(shard: String): Int = {
      val l = received.get(shard); if (l == null) 0 else l.size
    }
  }
  private val registry = new ConcurrentHashMap[String, State]()
  private def state(id: String): State =
    registry.computeIfAbsent(id, _ => new State)

  /** Every shard of stream `id` in creation order, taken under the
    * shard-table lock so lineage, counts at close and stored counts agree.
    * A stream no [[InMemoryKinesis]] has used yet has no shards, and
    * reading it creates none. */
  private[kinesis] def shards(id: String): Seq[Shard] = {
    val s = registry.get(id)
    if (s == null) Seq.empty else snapshot(s)
  }

  private def snapshot(s: State): Seq[Shard] = s.shards.synchronized {
    import scala.jdk.CollectionConverters._
    // iterator (not entrySet().asScala, a Set) preserves insertion order
    s.shards.entrySet().iterator().asScala.map { e =>
      val m = e.getValue
      Shard(e.getKey, m.lo, m.hi, m.parents, m.closedAt, s.sizeOf(e.getKey))
    }.toVector
  }

  /** The aggregates stored at positions [from, until) of one shard (fewer
    * if it holds fewer). */
  private[kinesis] def aggregates(id: String, shard: String, from: Int, until: Int): Seq[Array[Byte]] = {
    val s = registry.get(id)
    val list = if (s == null) null else s.received.get(shard)
    if (list == null) Seq.empty
    else list.synchronized((from until math.min(until, list.size)).map(list.get))
  }
}

final class InMemoryKinesis(numShards: Int, failEvery: Int = 0,
    /** stable name so the streaming source can address this stream */
    val id: String = java.util.UUID.randomUUID().toString,
    /** every k-th call reports ProvisionedThroughputExceeded instead */
    throttleEvery: Int = 0,
    /** every k-th RECORD (across calls) fails individually — the partial
      * PutRecords failure mode multi-entry calls must handle */
    failRecordEvery: Int = 0)
  extends PutRecordsTransport with ShardLister {
  import InMemoryKinesis.ShardMeta
  private def st = {
    val s = InMemoryKinesis.state(id)
    s.shards.synchronized {
      if (s.shards.isEmpty)
        ShardModel.evenRanges(numShards).foreach { case (lo, hi) =>
          s.shards.put(s.newShardId(), ShardMeta(lo, hi, Seq.empty, None))
        }
    }
    s
  }
  def received: ConcurrentHashMap[String, java.util.List[Array[Byte]]] = st.received

  private def shards: Seq[InMemoryKinesis.Shard] = InMemoryKinesis.snapshot(st)

  override def page(streamName: String, token: Option[String]): (Seq[ShardInfo], Boolean) = {
    val all = shards.map { s =>
      ShardInfo(s.id, s.lo.toString, s.hi.toString, s.closedAt.map(_.toString), s.parents)
    }
    // two pages to exercise the pagination path
    token match {
      case None => (all.take((all.size + 1) / 2), all.size > 1)
      case Some(t) => (all.dropWhile(_.shardId <= t), false)
    }
  }

  private def shardFor(ehk: String): String = {
    val k = new BigInteger(ehk)
    shards.find(s => s.closedAt.isEmpty && k.compareTo(s.lo) >= 0 && k.compareTo(s.hi) <= 0)
      .getOrElse(throw new IllegalStateException(s"no open shard covers $ehk")).id
  }

  /** Split an open shard at its range midpoint: the parent closes at its
    * current aggregate count; two children (each citing the parent) take
    * the halves — the lifecycle real Kinesis SplitShard performs. */
  def splitShard(shardId: String): (String, String) = {
    val s = st
    s.shards.synchronized {
      val m = s.shards.get(shardId)
      require(m != null && m.closedAt.isEmpty, s"$shardId not open")
      s.shards.put(shardId, m.copy(closedAt = Some(s.sizeOf(shardId))))
      val mid = ShardModel.midpoint(m.lo, m.hi)
      val c1 = s.newShardId(); val c2 = s.newShardId()
      s.shards.put(c1, ShardMeta(m.lo, mid, Seq(shardId), None))
      s.shards.put(c2, ShardMeta(mid.add(BigInteger.ONE), m.hi, Seq(shardId), None))
      (c1, c2)
    }
  }

  /** Merge two open adjacent shards: both close at their current counts;
    * one child citing both parents covers the union range. */
  def mergeShards(a: String, b: String): String = {
    val s = st
    s.shards.synchronized {
      val ma = s.shards.get(a); val mb = s.shards.get(b)
      require(ma != null && mb != null && ma.closedAt.isEmpty && mb.closedAt.isEmpty,
        s"$a/$b not open")
      require(ma.hi.add(BigInteger.ONE) == mb.lo || mb.hi.add(BigInteger.ONE) == ma.lo,
        s"$a and $b are not adjacent")
      s.shards.put(a, ma.copy(closedAt = Some(s.sizeOf(a))))
      s.shards.put(b, mb.copy(closedAt = Some(s.sizeOf(b))))
      val c = s.newShardId()
      s.shards.put(c, ShardMeta(ma.lo.min(mb.lo), ma.hi.max(mb.hi), Seq(a, b), None))
      c
    }
  }

  override def putRecords(streamName: String, entries: Seq[PutEntry]): PutResult = {
    val s = st
    val n = s.calls.incrementAndGet()
    if (failEvery > 0 && n % failEvery == 0)
      return PutResult(Seq.empty, failedIndices = entries.indices)
    if (throttleEvery > 0 && n % throttleEvery == 0)
      return PutResult(Seq.empty, failedIndices = entries.indices,
        throttledIndices = entries.indices)
    val failed = Seq.newBuilder[Int]
    val shardIds = entries.zipWithIndex.map { case (e, i) =>
      val rec = s.recordSeq.incrementAndGet()
      if (failRecordEvery > 0 && rec % failRecordEvery == 0) {
        failed += i
        "" // per-record failure: not delivered, no shard
      } else {
        val sid = shardFor(e.explicitHashKey)
        s.received.computeIfAbsent(sid, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Array[Byte]]()))
          .add(e.data)
        sid
      }
    }
    PutResult(shardIds.filter(_.nonEmpty), failedIndices = failed.result())
  }
}

/** At-least-once sink with rebuild-retry (reference:
  * `KinesisWriter.scala:199-228`). Packed aggregates go out in
  * multi-entry PutRecords calls and failures are handled per entry: only
  * the entries the service reports failed are rebuilt from their raw
  * shadow payloads and resent. A throttled entry keeps its EHK; any other
  * failure re-rolls a fresh one, as the reference does for every failure.
  * Retries are bounded and exponential — a deliberate deviation from the
  * reference, whose `failCount` is never incremented
  * (`KinesisWriter.scala:92` returns it unchanged), making its 30-retry
  * cap dead code and its back-off a flat 2 s forever.
  */
object KinesisSinkSemantics {

  /** PutRecords API limits per call. */
  val PutRecordsMaxEntries: Int = 500
  val PutRecordsMaxBytes: Long = 5L * 1024 * 1024
  private val MaxBackoffMillis = 30000L

  final case class Config(
      streamName: String,
      maxRetries: Int = 30,
      /** base back-off; doubles per attempt, capped at 30 s */
      backoffMillis: Long = 100,
      maxAggSize: Int = 1000000,
      maxLastSize: Int = 100000,
      partitionKey: String = "a", // the reference routes purely by EHK ("a" for every record, `KinesisWriter.scala:154`)
      routerSeed: Long = 42L,
      /** per-shard 1 MiB/s + 1000 rec/s budget ([[ShardThrottle]]);
        * None = unthrottled (tests, unlimited transports) */
      throttle: Option[ShardThrottle] = None)

  /** Delay before retry `attempt` (0-based): `backoffMillis` doubled per
    * attempt, capped at 30 s. Base and exponent are clamped before the
    * shift — 30000 << 15 still fits a Long and any base ≥ 1 reaches the
    * cap by attempt 15 — so the shift can never wrap negative. */
  private[kinesis] def backoffDelay(cfg: Config, attempt: Int): Long =
    math.min(math.min(cfg.backoffMillis, MaxBackoffMillis) << math.min(attempt, 15),
      MaxBackoffMillis)

  /** The packing policy (R8–R15): every record keyed by
    * `cfg.partitionKey`, gate sizes from `cfg`, one EHK drawn from
    * `router` per aggregate — or, for a retry rebuild, every record
    * pinned to `ehk`. */
  private def pack(payloads: Iterator[Array[Byte]], ehk: Option[String],
      router: ShardModel.Router, cfg: Config): Iterator[PackedBatch] =
    new BatchingIterator(payloads.map(p => (cfg.partitionKey, ehk, p)),
      () => router.next(), cfg.maxAggSize, cfg.maxLastSize)

  /** Pack one partition's payloads. The router is seeded
    * `routerSeed + partitionId`, which keeps routing deterministic yet
    * de-correlated across partitions; it is returned with the batches
    * because retry rebuilds keep drawing from it. The sink, the KPL
    * archive writer and `q_kinesis_pack_stats` all pack through here. */
  def packPartition(payloads: Iterator[Array[Byte]], ehks: Array[String],
      cfg: Config, partitionId: Int): (ShardModel.Router, Iterator[PackedBatch]) = {
    val router = new ShardModel.Router(ehks, cfg.routerSeed + partitionId)
    (router, pack(payloads, None, router, cfg))
  }

  /** Send a group of packed batches as one multi-entry PutRecords call and
    * retry only the entries the service reports failed. A failed batch is
    * rebuilt from its shadow through the full gate logic: a longer
    * replacement EHK can push an at-the-cap aggregate over 1 MiB, in which
    * case the rebuild splits into several batches rather than failing.
    * Rebuilt records carry `cfg.partitionKey`, as in the reference
    * (routing is EHK-only; the shadow holds payloads only,
    * `MyAggregator.scala:11-22`). Routing on retry depends on the failure
    * kind: a THROTTLED entry keeps its original EHK, so the
    * multiplicative-decrease penalty ([[ShardThrottle.onThrottled]]) lands
    * on a key that is actually reused and the next `acquire` paces the hot
    * shard at its reduced budget (the KPL rate-limiter model — a deliberate
    * deviation from the reference's re-roll, whose penalty state would be
    * abandoned with the key); any other failure re-rolls a fresh EHK as the
    * reference does (`KinesisWriter.scala:217-224`), since the error may be
    * shard-specific. At-least-once: a transport exception re-sends
    * everything still pending. */
  def sendGroupWithRetry(
      group: Seq[PackedBatch],
      transport: PutRecordsTransport,
      router: ShardModel.Router,
      cfg: Config): Unit = {
    var pending = group
    var failCount = 0
    while (pending.nonEmpty) {
      val entries = pending.map { b =>
        PutEntry(b.aggregate.partitionKey, b.aggregate.explicitHashKey,
          b.aggregate.toRecordBytes)
      }
      // backpressure: block until each target shard (identified by its
      // routing EHK) has 1 MiB/s + 1000 rec/s budget for its entry
      entries.foreach(e =>
        cfg.throttle.foreach(_.acquire(e.explicitHashKey, e.data.length.toLong)))
      val (failedIdx: Seq[Int], throttledIdx: Set[Int]) =
        try {
          val res = transport.putRecords(cfg.streamName, entries)
          val thr = res.throttledIndices.toSet
          // penalize exactly the throttled shards
          thr.foreach(i => cfg.throttle.foreach(_.onThrottled(entries(i).explicitHashKey)))
          (res.failedIndices, thr)
        } catch { case scala.util.control.NonFatal(_) => (entries.indices, Set.empty[Int]) }
      if (failedIdx.nonEmpty) {
        if (failCount >= cfg.maxRetries)
          throw new IllegalStateException(
            s"Exponential back-off failed after $failCount retries. Giving up.")
        Thread.sleep(backoffDelay(cfg, failCount))
        failCount += 1
        pending = failedIdx.flatMap { i =>
          val b = pending(i)
          val ehk =
            if (throttledIdx(i)) b.aggregate.explicitHashKey // carry back-off state
            else router.next() // re-roll (reference semantics)
          pack(b.shadow.iterator, Some(ehk), router, cfg).toSeq
        }
      } else pending = Seq.empty
    }
  }

  /** Write one partition's payload iterator: pack (R8–R15) → send (R19).
    * Batches are grouped into multi-entry PutRecords calls within the
    * API's entry and byte limits; per-entry failures retry selectively.
    * Returns the number of user records written (R21). */
  def writePartition(
      payloads: Iterator[Array[Byte]],
      transport: PutRecordsTransport,
      ehks: Array[String],
      cfg: Config,
      partitionId: Int = 0): Long = {
    val (router, batches) = packPartition(payloads, ehks, cfg, partitionId)
    var count = 0L
    val group = Seq.newBuilder[PackedBatch]
    var groupN = 0; var groupBytes = 0L
    def flush(): Unit = {
      val g = group.result()
      if (g.nonEmpty) sendGroupWithRetry(g, transport, router, cfg)
      group.clear(); groupN = 0; groupBytes = 0L
    }
    batches.foreach { b =>
      if (groupN >= PutRecordsMaxEntries || groupBytes + b.sizeBytes > PutRecordsMaxBytes)
        flush()
      group += b; groupN += 1; groupBytes += b.sizeBytes
      count += b.numUserRecords
    }
    flush()
    count
  }

  /** Distributed write of a binary-payload Dataset/DataFrame column.
    * Shard metadata is fetched once on the driver (as the reference does
    * once per `write` call); each partition packs and sends independently —
    * the Spark-native equivalent of the reference's single-threaded loop,
    * with Spark task retry supplying at-least-once on top.
    */
  def write(df: DataFrame, payloadCol: String, transport: PutRecordsTransport,
      lister: ShardLister, cfg: Config): Long = {
    val ehks = ShardModel.explicitHashKeys(cfg.streamName, lister)
    require(ehks.nonEmpty, s"stream ${cfg.streamName} has no open shards")
    val acc = df.sparkSession.sparkContext.longAccumulator("kinesis.userRecords")
    df.select(col(payloadCol)).queryExecution.toRdd.foreachPartition { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val payloads = rows.map(_.getBinary(0))
      acc.add(writePartition(payloads, transport, ehks, cfg, pid))
    }
    acc.value
  }

  /** Structured Streaming entry: attach as `df.writeStream.foreachBatch(
    * KinesisSinkSemantics.foreachBatch(payloadCol, transport, lister, cfg))`. */
  def foreachBatch(payloadCol: String, transport: PutRecordsTransport,
      lister: ShardLister, cfg: Config): (DataFrame, Long) => Unit =
    (df: DataFrame, _: Long) => { write(df, payloadCol, transport, lister, cfg); () }
}
