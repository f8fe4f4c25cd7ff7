package graftbench

import java.util.UUID
import scala.collection.mutable
import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, xxhash64}
import graft.kinesis._
import graft.kinesis.kpl.{KinesisStreamSource, ShardCursors}

/** Every per-layer metric, with its unit. A workload that does not
  * exercise a layer reports 0 for it. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "Batching.busy_s" -> "s", "Batching.aggregates" -> "count",
    "Batching.fill_ratio" -> "ratio", "AggRecordCodec.encode_s" -> "s",
    "AggRecordCodec.decode_s" -> "s", "KinesisSink.self_s" -> "s",
    "KinesisSink.transport_calls" -> "count", "KinesisSink.entries_per_call" -> "count",
    "KinesisSink.transport_busy_s" -> "s", "KinesisSink.failed_entries" -> "count",
    "KinesisSink.throttled_entries" -> "count", "KinesisSink.useful_entry_ratio" -> "ratio",
    "KinesisSink.wire_amplification" -> "ratio", "ShardThrottle.wait_ms" -> "ms",
    "ShardModel.shard_skew" -> "ratio", "KinesisStreamSource.micro_batches" -> "count",
    "KinesisStreamSource.batch_s_p50" -> "s", "KinesisStreamSource.input_partitions" -> "count",
    "plan.build_s" -> "s", "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
    "plan.planning_s" -> "s", "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.checkpoint_jobs" -> "count", "TextDedup.jobs" -> "count",
    "tables.input_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_s" -> "s", "spark.gc_s" -> "s")

  /** All metrics in order, taking values from `got` and 0 elsewhere. */
  def fill(got: Map[String, Double]): Seq[(String, String, Double)] = {
    val unknown = got.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    all.map { case (n, u) => (n, u, got.getOrElse(n, 0.0)) }
  }

  /** Scheduler counts of traced passes, per pass. */
  def scheduler(ls: Seq[QueryLoad.SchedulerListener]): Map[String, Double] = {
    val n = ls.size.toDouble
    def per(f: QueryLoad.SchedulerListener => Long, scale: Double = 1.0) = ls.map(f).sum / scale / n
    Map(
      "spark.jobs" -> per(_.jobs.get), "spark.stages" -> per(_.stages.get),
      "spark.tasks" -> per(_.tasks.get), "spark.checkpoint_jobs" -> per(_.checkpointJobs.get),
      "TextDedup.jobs" -> per(_.textDedupJobs.get),
      "tables.input_mb" -> per(_.inputBytes.get, 1048576.0),
      "spark.shuffle_write_mb" -> per(_.shuffleWrite.get, 1048576.0),
      "spark.shuffle_read_mb" -> per(_.shuffleRead.get, 1048576.0),
      "spark.spill_mb" -> per(_.spillBytes.get, 1048576.0),
      "spark.task_s" -> per(_.taskMs.get, 1000.0), "spark.gc_s" -> per(_.gcMs.get, 1000.0))
  }

  def codegen(since: (Long, Long)): Map[String, Double] = {
    val (classes, ns) = QueryLoad.codegen
    Map("codegen.classes" -> (classes - since._1).toDouble,
      "codegen.compile_s" -> (ns - since._2) / 1e9)
  }
}

/** `kinesis_roundtrip` (no faults, then a streaming read-back) and
  * `kinesis_faults` (all three fault schedules and a throttle, write only). */
final class KinesisWorkload(seed: Long, nproc: Int, faults: Option[KinesisLoad.Faults],
    readBack: Boolean, work: String) extends Workload {
  private val p = KinesisLoad.Params()
  private var data: Array[Array[Byte]] = _
  private var want: Array[(Long, Int)] = _
  private var df: DataFrame = _
  private val codegen0 = QueryLoad.codegen

  // full-size passes before timing, so the JIT has compiled the sink
  override def warmupPasses: Int = 3
  // no plans to clean up: one collection finds the live heap
  override def heapSettleMillis: Long = 0

  override def params: Json = Json.obj(
    "payload" -> p.toJson, "faults" -> faults.map(_.toJson).getOrElse(Json.Null),
    "read_back" -> Json.Bool(readBack), "partitions" -> Json.Int64(nproc.toLong),
    "payload_bytes" -> Json.Int64(data.iterator.map(_.length.toLong).sum))

  override def setup(spark: SparkSession): Unit = {
    data = KinesisLoad.payloads(seed, p)
    want = data.map(KinesisLoad.digest)
    df = KinesisLoad.frame(spark, data, nproc)
    // one small write loads the sink's classes before the timed passes
    val warm = new InMemoryKinesis(p.shards)
    KinesisSinkSemantics.write(df.limit(200), "data", warm, warm,
      KinesisSinkSemantics.Config(streamName = warm.id))
    warm.received.clear()
  }

  private final class Traced(val counters: KinesisLoad.Counters,
      val listener: QueryLoad.SchedulerListener, val writeTaskS: Double, val waitMs: Double,
      val skew: Double, val batches: Int, val batchS: Seq[Double], val partitions: Int)
  private val traced = mutable.ArrayBuffer.empty[Traced]
  private var replay: Option[KinesisLoad.Replay] = None

  override def pass(spark: SparkSession, index: Int, isTraced: Boolean): PassResult = {
    val id = s"perfbench-$seed-$index-${UUID.randomUUID()}"
    val stream = faults match {
      case None => new InMemoryKinesis(p.shards, id = id)
      case Some(f) => new InMemoryKinesis(p.shards, failEvery = f.failEvery, id = id,
        throttleEvery = f.throttleEvery, failRecordEvery = f.failRecordEvery)
    }
    val transport =
      if (isTraced) new KinesisLoad.CountingTransport(stream, id) else stream
    val throttle = faults.map(f => new ShardThrottle(id, f.shardBytesPerSec, f.shardRecordsPerSec))
    val cfg = KinesisSinkSemantics.Config(streamName = id,
      backoffMillis = faults.map(_.backoffMillis).getOrElse(100L), throttle = throttle)
    val listener = new QueryLoad.SchedulerListener
    if (isTraced) spark.sparkContext.addSparkListener(listener)
    val errors = mutable.ArrayBuffer.empty[String]

    val t0 = System.nanoTime()
    val written =
      try Trace.scope("KinesisSink.write")(
        KinesisSinkSemantics.write(df, "data", transport, stream, cfg))
      catch { case e: Exception => errors += s"write threw: $e"; -1L }
    val writeS = (System.nanoTime() - t0) / 1e9
    if (isTraced) BenchBridge.drainListeners(spark.sparkContext)
    val writeTaskS = listener.taskMs.get / 1000.0

    var readS = 0.0
    var readRows = Seq.empty[(Long, Int)]
    var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    if (readBack) {
      val t1 = System.nanoTime()
      try {
        val (rows, prog) = Trace.scope("KinesisStreamSource.read")(read(spark, id))
        readRows = rows; progress = prog
      } catch { case e: Exception => errors += s"read threw: $e" }
      readS = (System.nanoTime() - t1) / 1e9
    }
    if (isTraced) {
      spark.sparkContext.removeSparkListener(listener)
      BenchBridge.drainListeners(spark.sparkContext)
    }

    // correctness, untimed
    val got = KinesisLoad.received(stream)
    val (records, writeErrs) = KinesisLoad.checkWrite(want, got, written)
    errors ++= writeErrs
    if (readBack) errors ++= KinesisLoad.checkRead(records, readRows)
    if (isTraced) {
      val c = KinesisLoad.countersOf(id)
      val r = replay.getOrElse {
        val ehks = ShardModel.explicitHashKeys(id, stream)
        Trace.scope("replay")(KinesisLoad.replay(data, nproc, ehks, cfg))
      }
      replay = Some(r)
      // without faults every packed aggregate is sent exactly once
      if (faults.isEmpty && (r.aggregates != c.entries.get || r.wireBytes != c.wireBytes.get))
        errors += s"replay packed ${r.aggregates} aggregates / ${r.wireBytes} B, " +
          s"transport saw ${c.entries.get} / ${c.wireBytes.get} B"
      val stored = got.values.map(_.size.toLong).sum
      if (stored != c.entries.get - c.failed.get)
        errors += s"transport counted ${c.entries.get - c.failed.get} delivered, stream holds $stored"
      val nonEmpty = progress.filter(_.numInputRows > 0)
      traced += new Traced(c, listener, writeTaskS, throttle.map(_.totalWaitMillis.toDouble).getOrElse(0.0),
        KinesisLoad.shardSkew(got, p.shards), nonEmpty.size,
        nonEmpty.map(_.durationMs.get("triggerExecution").toDouble / 1000.0).toSeq,
        nonEmpty.map(pr => advanced(pr.sources.head.startOffset, pr.sources.head.endOffset)).sum)
    }
    stream.received.clear()
    val ops = if (readBack) 2 else 1
    val failed = math.min(ops, errors.size)
    PassResult(writeS + readS, Seq(writeS), ops, failed, errors.toSeq, isTraced, Seq("write"))
  }

  /** Number of shards whose cursor moved in one micro-batch. */
  private def advanced(start: String, end: String): Int = {
    val a = if (start == null) Map.empty[String, Int] else ShardCursors.fromJson(start).cursors
    ShardCursors.fromJson(end).cursors.count { case (s, c) => c > a.getOrElse(s, 0) }
  }

  /** Stream every record of stream `id` back through the source. Returns
    * the (xxhash64, length) of each record read and the query progress. */
  private def read(spark: SparkSession, id: String)
      : (Seq[(Long, Int)], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val sink: (DataFrame, Long) => Unit = (batch, _) =>
      batch.collect().foreach(r => rows.add((r.getLong(0), r.getInt(1))))
    val q = spark.readStream.format(KinesisStreamSource.Name).option("kinesis.id", id).load()
      .select(xxhash64(col("data")), length(col("data")))
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$work/checkpoints/$id")
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    (rows.asScala.toSeq, q.recentProgress.toSeq)
  }

  override def layers: Seq[(String, String, Double)] = {
    val n = traced.size.toDouble
    def per(f: Traced => Double) = traced.map(f).sum / n
    val calls = traced.map(_.counters.calls.get).sum.toDouble
    val entries = traced.map(_.counters.entries.get).sum.toDouble
    val failed = traced.map(_.counters.failed.get).sum.toDouble
    val wire = traced.map(_.counters.wireBytes.get).sum.toDouble
    val payloadBytes = data.iterator.map(_.length.toLong).sum * n
    val r = replay
    val base = Map(
      "KinesisSink.transport_calls" -> calls / n,
      "KinesisSink.entries_per_call" -> entries / calls,
      "KinesisSink.transport_busy_s" -> per(_.counters.busyNs.get / 1e9),
      "KinesisSink.self_s" -> per(t => t.writeTaskS - t.counters.busyNs.get / 1e9),
      "KinesisSink.failed_entries" -> failed / n,
      "KinesisSink.throttled_entries" -> per(_.counters.throttled.get.toDouble),
      "KinesisSink.useful_entry_ratio" -> (entries - failed) / entries,
      "KinesisSink.wire_amplification" -> wire / payloadBytes,
      "ShardThrottle.wait_ms" -> per(_.waitMs),
      "ShardModel.shard_skew" -> per(_.skew),
      "KinesisStreamSource.micro_batches" -> per(_.batches.toDouble),
      "KinesisStreamSource.batch_s_p50" ->
        (if (readBack) Stats.median(traced.flatMap(_.batchS).toSeq) else 0.0),
      "KinesisStreamSource.input_partitions" -> per(_.partitions.toDouble)) ++
      r.map(r => Map(
        "Batching.busy_s" -> r.packNs / 1e9, "Batching.aggregates" -> r.aggregates.toDouble,
        "Batching.fill_ratio" -> r.aggregateBytes.sum.toDouble / r.aggregates / 1e6,
        "AggRecordCodec.encode_s" -> r.encodeNs / 1e9,
        "AggRecordCodec.decode_s" -> r.decodeNs / 1e9)).getOrElse(Map.empty) ++
      Layers.scheduler(traced.map(_.listener).toSeq) ++ Layers.codegen(codegen0)
    Layers.fill(base)
  }
}

/** `queries`: one client runs the list in the seed's order, each query
  * forced through a `noop` write. Unless `check` is off, a check pass before
  * the timed passes writes every result for the oracle compare. */
final class QueryWorkload(seed: Long, data: String, work: String, names: Seq[String],
    check: Boolean) extends Workload {
  private val order = QueryLoad.ordered(names, seed)
  private val fns = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val codegen0 = QueryLoad.codegen
  private var checkPassS = 0.0
  private var checked = !check
  private val failedChecks = mutable.ArrayBuffer.empty[String]

  // the check pass compiles every plan; without it, one untimed pass does
  override def warmupPasses: Int = if (check) 0 else 1

  override def params: Json = Json.obj(
    "queries" -> Json.Arr(order.map(Json.Str)),
    "oracle_sql" -> Json.Obj(order.flatMap(n => oracle.get(n).map(n -> Json.Str(_)))),
    "data" -> Json.Str(data), "check_pass_s" -> Json.num(checkPassS))

  override def setup(spark: SparkSession): Unit = {
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region", "events",
      "documents", "embeddings").foreach(t => graft.tables.Tables.rowCount(spark, data, t))
    // one warm-up action, as graft.Bench does
    fns("q1_pricing_summary")(spark, data).write.format("noop").mode("overwrite").save()
  }

  /** Write every query's result as parquet for the oracle compare. */
  private def checkPass(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    order.foreach { name =>
      try fns(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/results/$name")
      catch { case e: Exception => failedChecks += s"$name failed in the check pass: $e" }
    }
    QueryLoad.dropCheckpoints(spark)
    checkPassS = (System.nanoTime() - t0) / 1e9
    checked = true
  }

  private val schedulers = mutable.ArrayBuffer.empty[QueryLoad.SchedulerListener]
  private val phaseListeners = mutable.ArrayBuffer.empty[QueryLoad.PhaseListener]
  private var buildS = 0.0

  override def pass(spark: SparkSession, index: Int, traced: Boolean): PassResult = {
    if (!checked) checkPass(spark)
    val sched = new QueryLoad.SchedulerListener
    val phases = new QueryLoad.PhaseListener
    if (traced) {
      spark.sparkContext.addSparkListener(sched)
      spark.listenerManager.register(phases)
    }
    // check-pass failures are reported here and counted by the oracle
    // compare, which finds no result for them
    val errors = mutable.ArrayBuffer.empty[String]
    if (index == 0) errors ++= failedChecks
    var failed = 0
    val opS = mutable.ArrayBuffer.empty[Double]
    val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val t0 = System.nanoTime()
    order.foreach { name =>
      val q0 = System.nanoTime()
      try Trace.scope("query") {
        val b0 = System.nanoTime()
        val df = Trace.span("queries.build")(fns(name)(spark, data))
        buildS += (if (traced) (System.nanoTime() - b0) / 1e9 else 0.0)
        Trace.span("query.execute")(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Exception => errors += s"$name failed: $e"; failed += 1 }
      opS += (System.nanoTime() - q0) / 1e9
      if (traced) {
        BenchBridge.drainListeners(spark.sparkContext)
        var ph = phases.phases.poll()
        while (ph != null) {
          Trace.record(ph._1, 0L, ph._2 * 1000000L + wallToNano, ph._3 * 1000000L + wallToNano)
          ph = phases.phases.poll()
        }
      }
    }
    val passS = (System.nanoTime() - t0) / 1e9
    if (traced) {
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(phases)
      schedulers += sched
      phaseListeners += phases
    }
    QueryLoad.dropCheckpoints(spark)
    PassResult(passS, opS.toSeq, order.size, failed, errors.toSeq, traced, order)
  }

  override def layers: Seq[(String, String, Double)] = {
    val n = phaseListeners.size.toDouble
    def per(f: QueryLoad.PhaseListener => Long) = phaseListeners.map(f).sum / 1000.0 / n
    Layers.fill(Map(
      "plan.build_s" -> buildS / n,
      "plan.analysis_s" -> per(_.analysisMs.get),
      "plan.optimization_s" -> per(_.optimizationMs.get),
      "plan.planning_s" -> per(_.planningMs.get)) ++
      Layers.scheduler(schedulers.toSeq) ++ Layers.codegen(codegen0))
  }
}
