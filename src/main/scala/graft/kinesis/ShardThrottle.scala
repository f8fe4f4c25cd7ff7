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
  * midpoint EHK per open shard, so the key identifies the shard). Every
  * key, a re-rolled retry's included, comes from the listed open-shard
  * midpoints, so a throttle id holds at most one bucket per shard ever
  * listed and buckets are never evicted.
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
    sleep: Long => Unit = ms => Thread.sleep(ms)) extends Serializable {

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
          // sleep in ≤1 s slices: each loop iteration refills, so a wait
          // reacts to the factor's additive recovery within a second
          // instead of oversleeping the budget computed before it
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

  /** Total milliseconds this throttle id has spent blocked (all shards). */
  def totalWaitMillis: Long = {
    var sum = 0L
    registry.forEach { (k, b) => if (k._1 == id) sum += b.synchronized(b.waitedMs) }
    sum
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
    registry.computeIfAbsent((id, shardKey),
      // start full: Kinesis permits a one-second burst to the cap
      _ => new Bucket(bytesPerSec.toDouble, recordsPerSec.toDouble, nanoTime()))

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
}
