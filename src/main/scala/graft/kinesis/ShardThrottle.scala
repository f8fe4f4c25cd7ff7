package graft.kinesis

import java.util.concurrent.ConcurrentHashMap

/** Client-side per-shard ingest budget — the service limit the reference's
  * batching exists to respect (Kinesis caps each shard at 1 MiB/s and
  * 1000 records/s; `KinesisWriter.scala:35` documents the aggregation
  * rationale). A token bucket per shard: `acquire` blocks (via `sleep`)
  * until the target shard has both byte and record budget, so a producer
  * saturating one hot shard backs off instead of farming throttling
  * errors out of PutRecords.
  *
  * Shards are keyed by the explicit hash key the router draws (one
  * midpoint EHK per open shard, so the key identifies the shard).
  *
  * Scope: per-JVM. Buckets live in a static registry keyed by throttle id
  * (the same single-JVM pattern as [[InMemoryKinesis]]) so every task in
  * an executor shares one budget. Across executors there is no
  * coordination — size `bytesPerSec` as the per-shard service limit
  * divided by the number of concurrent writer tasks per shard (at most
  * the executor count when routing is random), exactly how the KPL's
  * client-side rate limiter is provisioned.
  *
  * Time and sleep are injectable so tests drive a virtual clock instead
  * of wall-clock sleeping.
  */
final class ShardThrottle(
    val id: String,
    bytesPerSec: Long = 1L << 20,
    recordsPerSec: Long = 1000L,
    nanoTime: () => Long = () => System.nanoTime(),
    sleep: Long => Unit = ms => Thread.sleep(ms),
    /** drop buckets idle this long — retries re-roll EHKs, so abandoned
      * keys would otherwise accumulate for the life of the executor JVM */
    idleEvictMillis: Long = 10000L) extends Serializable {

  import ShardThrottle._

  /** Block until `shardKey` has budget for one entry of `bytes`; returns
    * the milliseconds waited (0 = no throttling engaged). Entries larger
    * than one second's budget draw the bucket negative rather than
    * deadlocking (the deficit delays subsequent sends). */
  def acquire(shardKey: String, bytes: Long, records: Long = 1L): Long = {
    val b = bucketOf(shardKey)
    var waited = 0L
    var done = false
    while (!done) {
      // compute under the lock, sleep OUTSIDE it: sleeping while holding
      // the monitor would block sibling tasks (and onThrottled) for the
      // whole wait, uninterruptibly
      val sleepMs: Long = b.synchronized {
        refill(b)
        val bps = bytesPerSec.toDouble * b.factor
        val rps = recordsPerSec.toDouble * b.factor
        // cap the requirement at current burst capacity so oversized
        // entries (≤1 MiB aggregate vs a sub-MiB/s or throttled budget)
        // still make progress by drawing the bucket negative
        val needBytes = math.min(bytes.toDouble, bps)
        val needRecs = math.min(records.toDouble, rps)
        if (b.bytes >= needBytes && b.records >= needRecs) {
          b.bytes -= bytes.toDouble
          b.records -= records.toDouble
          done = true
          0L
        } else {
          val msForBytes = (needBytes - b.bytes) * 1000.0 / bps
          val msForRecs = (needRecs - b.records) * 1000.0 / rps
          // sleep in ≤1 s slices: each loop iteration refills (touching
          // lastNanos), so a bucket someone is actively waiting on can
          // never look idle to the eviction sweep — and waits react to
          // factor recovery within a second instead of oversleeping
          val ms = math.min(1000L,
            math.max(1L, math.ceil(math.max(msForBytes, msForRecs)).toLong))
          b.waitedMs += ms
          ms
        }
      }
      if (!done) {
        sleep(sleepMs)
        waited += sleepMs
      }
    }
    waited
  }

  /** Total milliseconds this throttle id has spent blocked (all shards),
    * including buckets since evicted. */
  def totalWaitMillis: Long = {
    var sum = evictedWaitMs.getOrDefault(id, 0L)
    registry.forEach { (k, b) => if (k._1 == id) sum += b.synchronized(b.waitedMs) }
    sum
  }

  /** Live bucket count for this throttle id (eviction observability). */
  def bucketCount: Int = {
    var n = 0
    registry.forEach { (k, _) => if (k._1 == id) n += 1 }
    n
  }

  /** The service throttled this shard (ProvisionedThroughputExceeded):
    * halve its effective budget (multiplicative decrease, floor 1/8) —
    * the provisioned-limit model can be stale or shared with other
    * producers, so back off below it and let [[refill]]'s additive
    * recovery find the true sustainable rate. */
  def onThrottled(shardKey: String): Unit = {
    val b = bucketOf(shardKey)
    b.synchronized { b.factor = math.max(0.125, b.factor * 0.5) }
  }

  /** Effective budget factor for a shard (1.0 = full provisioned rate). */
  def factorOf(shardKey: String): Double = {
    val b = bucketOf(shardKey)
    b.synchronized(b.factor)
  }

  private def bucketOf(shardKey: String): Bucket =
    bucket(id, shardKey, bytesPerSec, recordsPerSec, nanoTime(), idleEvictMillis * 1000000L)

  private def refill(b: Bucket): Unit = {
    val now = nanoTime()
    val dt = (now - b.lastNanos) / 1e9
    if (dt > 0) {
      // additive recovery: +10% of full rate per second, capped at 1.0
      b.factor = math.min(1.0, b.factor + dt * 0.1)
      val bps = bytesPerSec.toDouble * b.factor
      val rps = recordsPerSec.toDouble * b.factor
      b.bytes = math.min(bps, b.bytes + dt * bps)
      b.records = math.min(rps, b.records + dt * rps)
      b.lastNanos = now
    }
  }
}

object ShardThrottle {
  private final class Bucket(var bytes: Double, var records: Double,
      var lastNanos: Long) {
    var waitedMs: Long = 0L
    /** adaptive budget multiplier (see onThrottled/refill) */
    var factor: Double = 1.0
  }
  private val registry = new ConcurrentHashMap[(String, String), Bucket]()
  /** waited-ms carried over from evicted buckets, per throttle id */
  private val evictedWaitMs = new ConcurrentHashMap[String, Long]()
  private def bucket(id: String, shardKey: String, bps: Long, rps: Long,
      now: Long, idleNanos: Long): Bucket = {
    var created = false
    val b = registry.computeIfAbsent((id, shardKey),
      // start full: Kinesis permits a one-second burst to the cap
      _ => { created = true; new Bucket(bps.toDouble, rps.toDouble, now) })
    // sweep on the growth path only: new keys appear when retries re-roll
    // EHKs, which is exactly when abandoned buckets accumulate. A shard
    // an executor hasn't touched for `idleNanos` (by this id's clock) has
    // nothing worth keeping: its budget is refilled and its back-off
    // factor recovered within ~10 s anyway.
    if (created) {
      val it = registry.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if ((e.getKey._1 == id) && (e.getValue ne b)) {
          val v = e.getValue
          val (idleFor, waited) = v.synchronized((now - v.lastNanos, v.waitedMs))
          if (idleFor > idleNanos) {
            evictedWaitMs.merge(id, waited, (a, bb) => a + bb)
            it.remove()
          }
        }
      }
    }
    b
  }
}
