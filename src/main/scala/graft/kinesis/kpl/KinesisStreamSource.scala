package graft.kinesis.kpl

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.kinesis.InMemoryKinesis

/** Structured Streaming source with Kinesis consumer semantics
  * (BASELINE.json's "Structured Streaming + Kinesis source"): micro-batch
  * offsets are per-shard cursors into each shard's aggregate sequence —
  * exactly how a Kinesis consumer tracks per-shard sequence numbers — and
  * each micro-batch plans one input partition per shard with new data, so
  * read parallelism = shard count, as on the real service.
  *
  * Aggregates are decoded (KPL magic‖protobuf‖MD5 → user records) in the
  * reader, yielding one row per user record:
  * (shard_id, agg_seq, partition_key, explicit_hash_key, data).
  *
  * What the source needs from a stream is two calls on
  * [[InMemoryKinesis]] (addressed via option `kinesis.id`):
  * `InMemoryKinesis.shards`, one snapshot of every shard's parents, count
  * at close and stored-aggregate count, which drives the offsets and the
  * parent-before-child gate; and `InMemoryKinesis.aggregates`, a read of
  * one shard's aggregate range, which the reader decodes. Offsets,
  * planning and decode use nothing else, so a binding over
  * ListShards/GetShardIterator/GetRecords replaces only those two calls.
  * Usage: {{{
  *   spark.readStream.format("graft.kinesis.kpl.KinesisStreamSource")
  *     .option("kinesis.id", stream.id).load()
  * }}}
  */
class KinesisStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisStreamSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisStreamTable(properties.get("kinesis.id"))
}

object KinesisStreamSource {
  val Name = "graft.kinesis.kpl.KinesisStreamSource"
  val schema: StructType = StructType(Seq(
    StructField("shard_id", StringType, nullable = false),
    StructField("agg_seq", IntegerType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("explicit_hash_key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** One row per user record of the range's aggregates, in shard order. */
  private[kpl] def read(range: KinesisShardRange): Iterator[InternalRow] = {
    val shardUtf8 = UTF8String.fromString(range.shard)
    InMemoryKinesis.aggregates(range.id, range.shard, range.from, range.until)
      .iterator.zipWithIndex.flatMap { case (wire, i) =>
        KplRows.decode(wire)((pk, ehk, data) =>
          new GenericInternalRow(Array[Any](shardUtf8, range.from + i, pk, ehk, data)))
      }
  }
}

final class KinesisStreamTable(id: String) extends Table with SupportsRead {
  require(id != null, "option kinesis.id required")
  override def name(): String = s"kinesis:$id"
  override def schema(): StructType = KinesisStreamSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KinesisStreamSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KinesisMicroBatchStream(id)
      }
    }
}

/** Per-shard cursor offset, JSON-serialized for the checkpoint log. */
final case class ShardCursors(cursors: Map[String, Int]) extends Offset {
  override def json(): String =
    cursors.toSeq.sortBy(_._1)
      .map { case (s, c) => s""""$s":$c""" }.mkString("{", ",", "}")
}

object ShardCursors {
  private val entry = """"([^"]+)"\s*:\s*(\d+)""".r
  def fromJson(json: String): ShardCursors =
    ShardCursors(entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toInt).toMap)
}

final class KinesisMicroBatchStream(id: String) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  override def initialOffset(): Offset = ShardCursors(Map.empty)

  /** Kinesis resharding ordering: a child shard's cursor may not advance
    * until every parent is fully drained as of this batch's START offset
    * (cursor ≥ the parent's count-at-close). Until then the child reports
    * its start cursor, so its rows surface only in a later micro-batch —
    * parent before child, the KCL lease ordering guarantee. Implemented
    * via SupportsAdmissionControl (the start-aware latestOffset);
    * commit-time tracking would lag a batch and stall processAllAvailable.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val done = start.asInstanceOf[ShardCursors].cursors
    val shards = InMemoryKinesis.shards(id)
    val closedAt = shards.map(s => s.id -> s.closedAt).toMap
    ShardCursors(shards.filter(_.stored > 0).map { s =>
      val parentsDrained = s.parents.forall { p =>
        closedAt.get(p).flatten.exists(done.getOrElse(p, 0) >= _)
      }
      s.id -> (if (parentsDrained) s.stored else done.getOrElse(s.id, 0))
    }.toMap)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used via SupportsAdmissionControl")

  override def deserializeOffset(json: String): Offset = ShardCursors.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ShardCursors].cursors
    val to = end.asInstanceOf[ShardCursors].cursors
    to.toSeq.sortBy(_._1).flatMap { case (shard, hi) =>
      val lo = from.getOrElse(shard, 0)
      if (hi > lo) Some(KinesisShardRange(id, shard, lo, hi): InputPartition) else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) =>
      new KplRows.Reader(KinesisStreamSource.read(p.asInstanceOf[KinesisShardRange]))
}

final case class KinesisShardRange(id: String, shard: String, from: Int, until: Int)
  extends InputPartition
