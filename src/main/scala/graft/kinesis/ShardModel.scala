package graft.kinesis

import java.math.BigInteger
import scala.annotation.tailrec
import scala.util.Random

/** Shard metadata model + hash-range routing (reference:
  * `KinesisWriter.scala:39-80`). The uint128 keyspace is carried as
  * decimal strings / BigInteger — DecimalType(38) cannot hold 2^128-1.
  */
final case class ShardInfo(
    shardId: String,
    startingHashKey: String,
    endingHashKey: String,
    /** null/None ⇔ shard is open (reference: `KinesisWriter.scala:51`). */
    endingSequenceNumber: Option[String],
    /** lineage after a split/merge: the closed shard(s) this one replaces;
      * a consumer must drain parents before children (Kinesis ordering). */
    parentShardIds: Seq[String] = Seq.empty)

/** Paginated shard listing — the driver-side metadata boundary. Pluggable
  * so tests (and the in-memory transport) can model resharding without
  * AWS. `page` mirrors DescribeStream: returns (shards, hasMore). */
trait ShardLister {
  def page(streamName: String, exclusiveStartShardId: Option[String]): (Seq[ShardInfo], Boolean)
}

object ShardModel {

  /** All shards via tail-recursive pagination (reference:
    * `KinesisWriter.scala:67-80`). */
  def allShards(streamName: String, lister: ShardLister): Seq[ShardInfo] = {
    @tailrec
    def loop(token: Option[String], acc: Seq[ShardInfo]): Seq[ShardInfo] = {
      val (shards, more) = lister.page(streamName, token)
      val newAcc = acc ++ shards
      if (more && newAcc.nonEmpty) loop(Some(newAcc.last.shardId), newAcc)
      else newAcc
    }
    loop(None, Seq.empty)
  }

  /** Midpoint of the hash range [lo, hi] (reference:
    * `KinesisWriter.scala:46-57`): lo + (hi - lo) / 2 over the uint128
    * keyspace — the routing key for a shard and its split point. */
  def midpoint(lo: BigInteger, hi: BigInteger): BigInteger =
    lo.add(hi.subtract(lo).divide(BigInteger.TWO))

  /** Open-shard hash-range midpoints as decimal strings. */
  def explicitHashKeys(streamName: String, lister: ShardLister): Array[String] =
    allShards(streamName, lister)
      .filter(_.endingSequenceNumber.isEmpty)
      .map(s => midpoint(new BigInteger(s.startingHashKey), new BigInteger(s.endingHashKey)).toString)
      .toArray

  /** Uniform n-way split of the uint128 keyspace (what Kinesis does for a
    * freshly created n-shard stream) — used by the in-memory transport. */
  def evenRanges(n: Int): Seq[(BigInteger, BigInteger)] = {
    val max = AggRecordCodec.Uint128Max
    val width = max.add(BigInteger.ONE).divide(BigInteger.valueOf(n.toLong))
    (0 until n).map { i =>
      val lo = width.multiply(BigInteger.valueOf(i.toLong))
      val hi = if (i == n - 1) max else width.multiply(BigInteger.valueOf(i + 1L)).subtract(BigInteger.ONE)
      (lo, hi)
    }
  }

  /** Seeded random midpoint router (reference: `KinesisWriter.scala:37-43`):
    * one EHK per in-flight aggregate, re-drawn after every flush, giving
    * uniform shard load regardless of key skew. Seed fixed for
    * reproducibility, per the reference. */
  final class Router(ehks: Array[String], seed: Long = 42L) {
    require(ehks.nonEmpty, "no open shards")
    // Mix the seed (splitmix64-style): java.util.Random's first draws are
    // strongly correlated across adjacent seeds, which would route every
    // partition's first aggregate to the same shard.
    private val rnd = new Random(mix(seed))
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def next(): String = ehks(rnd.nextInt(ehks.length))
  }
}
