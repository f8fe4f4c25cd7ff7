package graft.kinesis.kpl

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.kinesis.{AggRecordCodec, KinesisSinkSemantics}

/** DataSource V2 reader for KPL aggregated-record wire files — the
  * format the Kinesis sink emits (and a Kinesis consumer would archive):
  * each file holds one aggregate (`F3 89 9A C2` ‖ protobuf ‖ MD5,
  * reference `AggRecord.java:61-74`). Usage:
  * {{{ spark.read.format("graft.kinesis.kpl").load(dir) }}}
  * → rows (partition_key, explicit_hash_key, data, source_file).
  *
  * One input partition per file: aggregates are ≤ 1 MiB by construction,
  * so a file is the natural split unit and scans parallelize across the
  * archive with no further splitting logic.
  *
  * All file IO goes through the Hadoop FileSystem API (resolved from the
  * session's Hadoop conf), so `path` may live on HDFS/S3/any object store
  * the cluster is configured for — not just a filesystem shared by driver
  * and executors.
  */
class KplFileFormat extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KplFileFormat.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KplTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

/** Hadoop `Configuration` is not `Serializable`; this wrapper ships it to
  * executors via its own write/readFields (the same trick Spark's internal
  * `SerializableConfiguration` uses, which is `private[spark]`). */
final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

object KplFileFormat {
  val Name = "graft.kinesis.kpl.KplFileFormat"
  val schema: StructType = StructType(Seq(
    StructField("partition_key", StringType, nullable = false),
    StructField("explicit_hash_key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false),
    StructField("source_file", StringType, nullable = false)))

  /** Write each packed batch of `payloads` as one wire file under `dir`
    * (the archive layout the reader consumes), packed as the sink packs
    * with its default config. Runs per-partition on executors; returns
    * total user records written. */
  def writeWireFiles(payloads: org.apache.spark.sql.DataFrame,
      payloadCol: String, dir: String, ehks: Array[String]): Long = {
    val conf = new SerializableHadoopConf(
      payloads.sparkSession.sessionState.newHadoopConf())
    val cfg = KinesisSinkSemantics.Config(streamName = dir)
    val counts = payloads.select(org.apache.spark.sql.functions.col(payloadCol))
      .rdd.mapPartitionsWithIndex { (pid, rows) =>
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(conf.value)
        val (_, batches) = KinesisSinkSemantics.packPartition(
          rows.map(_.getAs[Array[Byte]](0)), ehks, cfg, pid)
        var n = 0L
        batches.zipWithIndex.foreach { case (b, i) =>
          val out = fs.create(new org.apache.hadoop.fs.Path(base, f"part-$pid%05d-$i%05d.kpl"), true)
          try out.write(b.aggregate.toRecordBytes) finally out.close()
          n += b.numUserRecords
        }
        Iterator.single(n)
      }
    counts.sum().toLong
  }
}

final class KplTable(path: String) extends Table with SupportsRead {
  require(path != null, "path option required")
  override def name(): String = s"kpl:$path"
  override def schema(): StructType = KplFileFormat.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KplScanBuilder(path)
}

final class KplScanBuilder(path: String) extends ScanBuilder {
  override def build(): Scan = new KplScan(path,
    new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
}

final case class KplFilePartition(file: String) extends InputPartition

final class KplScan(path: String, conf: SerializableHadoopConf)
    extends Scan with Batch {
  override def readSchema(): StructType = KplFileFormat.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf.value)
    val root = fs.getFileStatus(p)
    val files =
      if (root.isDirectory)
        fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".kpl"))
      else Array(root)
    files.sortBy(_.getPath.getName)
      .map(s => KplFilePartition(s.getPath.toString): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KplReaderFactory(conf)
}

/** Serializable factory: ships the Hadoop conf to executors. */
final case class KplReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KplPartitionReader(partition.asInstanceOf[KplFilePartition].file, conf)
}

final class KplPartitionReader(file: String, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {
  private lazy val rows: Iterator[InternalRow] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf.value)
    val len = fs.getFileStatus(p).getLen
    require(len <= AggRecordCodec.MaxBytesPerRecord,
      s"$file: ${len}B exceeds the 1 MiB aggregate cap — not a KPL wire file")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    val agg = AggRecordCodec.decode(bytes)
    val fileUtf8 = UTF8String.fromString(file)
    agg.records.iterator.map { r =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(agg.partitionKeyTable(r.pkIndex)),
        UTF8String.fromString(agg.explicitHashKeyTable(r.ehkIndex)),
        r.data,
        fileUtf8))
    }
  }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
