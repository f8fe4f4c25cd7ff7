package graft.kinesis

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.kinesis.kpl.{KinesisStreamSource, ShardCursors}

/** End-to-end: Kinesis-semantics sink writes aggregates → the custom
  * MicroBatchStream source consumes them as a Structured Streaming query
  * with per-shard cursor offsets — exactly-once across micro-batches. */
class KinesisStreamSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sink(k: InMemoryKinesis, msgs: Seq[String]): Unit = {
    val cfg = KinesisSinkSemantics.Config("s", backoffMillis = 1,
      maxAggSize = 4000, maxLastSize = 400)
    val df = msgs.toDF("s").select(col("s").cast("binary").as("payload"))
      .repartition(3)
    KinesisSinkSemantics.write(df, "payload", k, k, cfg)
    ()
  }

  private def putOne(k: InMemoryKinesis, ehk: String, msg: String): Unit = {
    val b = new AggRecordCodec.Builder
    assert(b.add("a", Some(ehk), msg.getBytes("UTF-8")))
    val agg = b.clearAndGet().get
    assert(k.putRecords("s", Seq(PutEntry(agg.partitionKey,
      agg.explicitHashKey, agg.toRecordBytes))).failedRecordCount == 0)
  }

  /** Run the source on `k` to completion from `checkpoint`, adding each
    * row's (batch id, shard, data) to `into`. */
  private def drain(k: InMemoryKinesis, checkpoint: String,
      into: ConcurrentLinkedQueue[(Long, String, String)]): Unit = {
    val q = spark.readStream.format(KinesisStreamSource.Name)
      .option("kinesis.id", k.id).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.select(col("shard_id"), col("data").cast("string")).as[(String, String)]
          .collect().foreach { case (shard, data) => into.add((batchId, shard, data)) }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("offset json round trip") {
    val o = ShardCursors(Map("shardId-000000000001" -> 3, "shardId-000000000000" -> 7))
    assert(ShardCursors.fromJson(o.json()) == o)
    assert(o.json() == """{"shardId-000000000000":7,"shardId-000000000001":3}""")
  }

  test("sink → streaming source: all records, exactly once, across batches") {
    val k = new InMemoryKinesis(numShards = 4)
    sink(k, (0 until 500).map(i => s"first-$i"))

    val q = spark.readStream.format(KinesisStreamSource.Name)
      .option("kinesis.id", k.id)
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("kinesis_stream")
      .start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("kinesis_stream").count()
      assert(afterFirst == 500, s"first batch delivered $afterFirst")
      // second wave lands on the same shards; only the delta is read
      sink(k, (500 until 800).map(i => s"second-$i"))
      q.processAllAvailable()
      val all = spark.table("kinesis_stream")
        .select(col("data").cast("string")).as[String].collect()
      assert(all.length == 800, s"expected exactly-once 800, got ${all.length}")
      assert(all.toSet ==
        ((0 until 500).map(i => s"first-$i") ++ (500 until 800).map(i => s"second-$i")).toSet)
      // read parallelism follows shards
      val shards = spark.table("kinesis_stream")
        .select(countDistinct(col("shard_id"))).head().getLong(0)
      assert(shards >= 2, s"expected multi-shard read, got $shards")
    } finally q.stop()
  }

  test("a shard that first receives data mid-stream is picked up (resharding shape)") {
    val k = new InMemoryKinesis(numShards = 4)
    val ehks = ShardModel.explicitHashKeys("s", k)
    def put(ehkIdx: Int, msg: String): Unit = {
      val b = new AggRecordCodec.Builder
      assert(b.add("a", Some(ehks(ehkIdx)), msg.getBytes("UTF-8")))
      val agg = b.clearAndGet().get
      assert(k.putRecords("s", Seq(PutEntry(agg.partitionKey,
        agg.explicitHashKey, agg.toRecordBytes))).failedRecordCount == 0)
    }
    put(0, "only-shard-0")
    val q = spark.readStream.format(kpl.KinesisStreamSource.Name)
      .option("kinesis.id", k.id).load()
      .writeStream.outputMode("append")
      .format("memory").queryName("reshard").start()
    try {
      q.processAllAvailable()
      assert(spark.table("reshard").count() == 1)
      // a previously-silent shard starts producing — like a child shard
      // opening after a split; the next offset range must include it
      put(3, "new-shard-3")
      put(0, "more-shard-0")
      q.processAllAvailable()
      import spark.implicits._
      val got = spark.table("reshard")
        .select(col("data").cast("string")).as[String].collect().toSet
      assert(got == Set("only-shard-0", "new-shard-3", "more-shard-0"))
    } finally q.stop()
  }

  test("shard split: children withheld until the parent is drained") {
    val k = new InMemoryKinesis(numShards = 1)
    val ehks = ShardModel.explicitHashKeys("s", k)
    def put(ehk: String, msg: String): Unit = {
      val b = new AggRecordCodec.Builder
      assert(b.add("a", Some(ehk), msg.getBytes("UTF-8")))
      val agg = b.clearAndGet().get
      assert(k.putRecords("s", Seq(PutEntry(agg.partitionKey,
        agg.explicitHashKey, agg.toRecordBytes))).failedRecordCount == 0)
    }
    // unread data in the parent, then a split, then data in both children
    put(ehks(0), "parent-1")
    put(ehks(0), "parent-2")
    val (c1, c2) = k.splitShard("shardId-000000000000")
    val childEhks = ShardModel.explicitHashKeys("s", k) // midpoints of c1, c2
    assert(childEhks.length == 2)
    childEhks.foreach(e => put(e, s"child-of-$e"))

    // record which micro-batch each shard's rows arrive in
    val arrivals = scala.collection.mutable.Map.empty[String, Long]
    val q = spark.readStream.format(KinesisStreamSource.Name)
      .option("kinesis.id", k.id).load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        df.select("shard_id").distinct().collect().foreach { r =>
          arrivals.synchronized {
            arrivals.updateWith(r.getString(0))(o => Some(o.fold(batchId)(math.min(_, batchId))))
          }
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val parentBatch = arrivals("shardId-000000000000")
      assert(Seq(c1, c2).forall(arrivals.contains), s"children never read: $arrivals")
      assert(Seq(c1, c2).forall(arrivals(_) > parentBatch),
        s"child rows must arrive strictly after the parent is drained: $arrivals")
    } finally q.stop()
  }

  test("shard merge: the merged child waits for BOTH parents") {
    val k = new InMemoryKinesis(numShards = 2)
    val ehks = ShardModel.explicitHashKeys("s", k)
    def put(ehk: String, msg: String): Unit = {
      val b = new AggRecordCodec.Builder
      assert(b.add("a", Some(ehk), msg.getBytes("UTF-8")))
      val agg = b.clearAndGet().get
      k.putRecords("s", Seq(PutEntry(agg.partitionKey, agg.explicitHashKey,
        agg.toRecordBytes)))
      ()
    }
    put(ehks(0), "pa"); put(ehks(1), "pb")
    val c = k.mergeShards("shardId-000000000000", "shardId-000000000001")
    val merged = ShardModel.explicitHashKeys("s", k)
    assert(merged.length == 1)
    put(merged(0), "child")
    val arrivals = scala.collection.mutable.Map.empty[String, Long]
    val q = spark.readStream.format(KinesisStreamSource.Name)
      .option("kinesis.id", k.id).load()
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        df.select("shard_id").distinct().collect().foreach { r =>
          arrivals.synchronized {
            arrivals.updateWith(r.getString(0))(o => Some(o.fold(batchId)(math.min(_, batchId))))
          }
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(arrivals.contains(c), s"merged shard never read: $arrivals")
      assert(arrivals(c) > arrivals("shardId-000000000000"), s"$arrivals")
      assert(arrivals(c) > arrivals("shardId-000000000001"), s"$arrivals")
    } finally q.stop()
  }

  test("streaming source feeds the windowless relational operators") {
    val k = new InMemoryKinesis(numShards = 2)
    sink(k, (0 until 100).map(i => s"$i|val$i"))
    val q = spark.readStream.format(KinesisStreamSource.Name)
      .option("kinesis.id", k.id)
      .load()
      .select(split(col("data").cast("string"), "\\|").getItem(0).cast("long").as("n"))
      .groupBy((col("n") % 10).as("bucket")).count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("kinesis_agg")
      .start()
    try {
      q.processAllAvailable()
      val counts = spark.table("kinesis_agg").as[(Long, Long)].collect().toMap
      assert(counts == (0L until 10L).map(_ -> 10L).toMap)
    } finally q.stop()
  }

  test("a source attached to a never-written stream reads nothing and creates no shards") {
    val id = "never-written-" + java.util.UUID.randomUUID()
    val stream = new kpl.KinesisMicroBatchStream(id)
    assert(stream.latestOffset(stream.initialOffset(), stream.getDefaultReadLimit) ==
      ShardCursors(Map.empty))
    assert(InMemoryKinesis.shards(id).isEmpty)
    // the stream's own first use still lays out its shards
    assert(ShardModel.allShards("s", new InMemoryKinesis(numShards = 3, id = id)).size == 3)
  }

  test("restart on the same checkpoint: every record exactly once across both runs") {
    val k = new InMemoryKinesis(numShards = 4)
    val checkpoint = java.nio.file.Files.createTempDirectory("kinesis_restart_chk").toString
    val rows = new ConcurrentLinkedQueue[(Long, String, String)]()
    val wave1 = (0 until 300).map(i => s"wave1-$i")
    val wave2 = (0 until 200).map(i => s"wave2-$i")
    sink(k, wave1)
    drain(k, checkpoint, rows)
    assert(rows.asScala.map(_._3).toSeq.sorted == wave1.sorted)
    sink(k, wave2)
    drain(k, checkpoint, rows)
    assert(rows.asScala.map(_._3).toSeq.sorted == (wave1 ++ wave2).sorted)
  }

  test("restart across a split: the rest of the parent arrives before any child row") {
    val k = new InMemoryKinesis(numShards = 1)
    val parent = "shardId-000000000000"
    val checkpoint = java.nio.file.Files.createTempDirectory("kinesis_split_chk").toString
    val rows = new ConcurrentLinkedQueue[(Long, String, String)]()
    val ehk = ShardModel.explicitHashKeys("s", k).head
    putOne(k, ehk, "parent-1"); putOne(k, ehk, "parent-2")
    drain(k, checkpoint, rows)
    val firstRun = rows.size
    assert(firstRun == 2)
    putOne(k, ehk, "parent-3"); putOne(k, ehk, "parent-4")
    val (c1, c2) = k.splitShard(parent)
    ShardModel.explicitHashKeys("s", k).foreach(e => putOne(k, e, s"child-$e"))
    drain(k, checkpoint, rows)
    val second = rows.asScala.toSeq.drop(firstRun)
    val (fromParent, fromChildren) = second.partition(_._2 == parent)
    assert(fromParent.map(_._3).sorted == Seq("parent-3", "parent-4"))
    assert(fromChildren.map(_._2).toSet == Set(c1, c2) && fromChildren.size == 2)
    assert(fromParent.map(_._1).max < fromChildren.map(_._1).min,
      s"child rows must arrive strictly after the parent is drained: $second")
  }
}
