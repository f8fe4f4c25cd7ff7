package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One closed-loop pass over a workload's operations. `opS` holds the time
  * of each operation: a `write` call, or one query. */
final case class PassResult(passS: Double, opS: Seq[Double], attempted: Int, failed: Int,
    errors: Seq[String], traced: Boolean, opNames: Seq[String] = Nil)

/** A benchmark workload. `setup` may run several times; each call starts
  * from a fresh session. */
trait Workload {
  def params: Json
  def setup(spark: SparkSession): Unit
  /** Untimed passes after setup, before the timed ones. */
  def warmupPasses: Int = 0
  /** Pause between the two collections that measure the live heap. */
  def heapSettleMillis: Long = 200
  def pass(spark: SparkSession, index: Int, traced: Boolean): PassResult
  /** Per-layer metrics over the traced passes, as (name, unit, value). */
  def layers: Seq[(String, String, Double)]
}

/** Runs one workload for a fixed time and writes its record.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --out <file> [--data <dir>] [--check <0|1>]
  *
  * The record holds the samples the end-to-end metrics are computed from
  * (setups, passes, live heap) and, with `--trace 1`, the per-layer metrics
  * of traced passes interleaved with untraced ones, plus the run's
  * environment. `--check 0` skips the query workloads' check pass. */
object Main {
  val setups = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val check = args.getOrElse("check", "1") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val data = args.get("data").map(d => Paths.get(d).toAbsolutePath.toString)
    val nproc = math.min(32, Runtime.getRuntime.availableProcessors)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    val workload: Workload = workloadName match {
      case "kinesis_roundtrip" => new KinesisWorkload(seed, nproc, faults = None, readBack = true, work)
      case "kinesis_faults" =>
        new KinesisWorkload(seed, nproc, faults = Some(KinesisLoad.Faults()), readBack = false, work)
      case "queries" => new QueryWorkload(seed, data.get, work, QueryLoad.queries, check)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupS = (0 until setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.create(nproc, data, work)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val warmup = (0 until workload.warmupPasses).map(i => workload.pass(spark, -1 - i, traced = false))
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // with tracing on, untraced and traced passes alternate so the
    // overhead of tracing is measured under the same conditions
    while (System.nanoTime() < deadline || passes.size < (if (trace) 4 else 2)) {
      val traced = trace && passes.size % 2 == 1
      Trace.enabled = traced
      Trace.runId = s"$workloadName-$seed-${passes.size}"
      passes += workload.pass(spark, passes.size, traced)
      Trace.enabled = false
      heapMb += liveHeapMb(workload.heapSettleMillis)
    }
    val loadAfter = os.getSystemLoadAverage

    val measured = passes.filterNot(_.traced)
    val layers =
      if (!trace) Nil
      else {
        val traced = passes.filter(_.traced).toSeq
        workload.layers :+
          (("trace.pass_ratio", "ratio",
            Stats.median(traced.map(_.passS)) / Stats.median(measured.map(_.passS).toSeq)))
      }
    val spans = Trace.all
    val errors = (warmup ++ passes).flatMap(_.errors)
    def metrics(ms: Seq[(String, String, Double)]): Json = Json.Obj(ms.map { case (n, u, v) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.Str(u))
    })
    val record = Json.obj(
      "workload" -> Json.Str(workloadName),
      "seed" -> Json.Int64(seed),
      "seconds" -> Json.num(seconds),
      "trace" -> Json.Bool(trace),
      "attempted" -> Json.Int64((warmup ++ passes).map(_.attempted.toLong).sum),
      "failed" -> Json.Int64((warmup ++ passes).map(_.failed.toLong).sum),
      "errors" -> Json.Arr(errors.take(50).map(Json.Str).toSeq),
      "per_layer" -> metrics(layers),
      "samples" -> Json.obj(
        "setup_s" -> Json.Arr(setupS.map(Json.num)),
        "warmup_pass_s" -> Json.Arr(warmup.map(p => Json.num(p.passS))),
        "pass_s" -> Json.Arr(passes.toSeq.map(p => Json.obj(
          "s" -> Json.num(p.passS), "traced" -> Json.Bool(p.traced),
          "ops" -> Json.Int64(p.opS.size.toLong),
          "op_s" -> Json.Obj(p.opNames.zip(p.opS.map(Json.num)))))),
        "heap_mb" -> Json.Arr(heapMb.toSeq.map(Json.num))),
      "self_s" -> Json.Obj(Trace.selfSeconds(spans).toSeq.sorted.map { case (k, v) =>
        k -> Json.num(v) }),
      "params" -> workload.params,
      "env" -> Json.obj(
        "nproc" -> Json.Int64(nproc.toLong),
        "load_avg_before" -> Json.num(loadBefore),
        "load_avg_after" -> Json.num(loadAfter),
        "java" -> Json.Str(System.getProperty("java.version")),
        "spark" -> Json.Str(spark.version),
        "scala" -> Json.Str(scala.util.Properties.versionNumberString),
        "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "session" -> Json.Obj(Session.settings(nproc, data, work).map { case (k, v) =>
          k -> Json.Str(v) })))
    Files.writeString(Paths.get(args("out")), Json.render(record))
    if (trace)
      Files.writeString(Paths.get(args("out") + ".spans.json"), Json.render(Trace.toJson(spans)))
    spark.stop()
  }

  /** Heap in use after a full collection, from the pools' collection usage.
    * The pause lets Spark's cleaner drop the blocks of plans the first
    * collection found unreachable, so the second one frees them. */
  def liveHeapMb(settleMillis: Long): Double = {
    System.gc()
    if (settleMillis > 0) {
      Thread.sleep(settleMillis)
      System.gc()
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** The session every workload runs in, with `graft.Bench`'s settings:
  * `local[nproc]`, shuffle partitions = nproc, AQE on with
  * `Tables.derivedInitPartitions` as its seed partition count, a 24000-entry
  * codegen cache and cold table scans (no table cache). Scratch files stay
  * under `work`. */
object Session {
  def settings(nproc: Int, data: Option[String], work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      graft.tables.Tables.derivedInitPartitions(data.getOrElse(""), nproc).toString,
    "spark.sql.codegen.cache.maxEntries" -> "24000",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def create(nproc: Int, data: Option[String], work: String): SparkSession = {
    val s = settings(nproc, data, work)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
