package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.queries._

/** Query list and Spark-side instruments of the query workload. */
object QueryLoad {

  /** Modules whose queries are bound by fixed per-query cost. */
  val relationalModules: Seq[Seq[QDef]] = Seq(Aggregates.all, Scalars.all, Joins.all,
    Windows.all, SetOps.all, Relational.all, Physical.all)

  /** Connected-components consumers and similarity-join heads. */
  val llmQueries: Seq[String] = Seq(
    "q_dedup_clusters", "q_dup_reach_k", "q_setsim_overlap", "q_simhash_hamming_join")

  /** Every `relationalStride`-th relational query in declaration order (a
    * fixed sample spanning all seven modules), then the LLM queries. */
  val relationalStride = 10
  def queries: Seq[String] =
    relationalModules.flatten.map(_.name).zipWithIndex
      .collect { case (n, i) if i % relationalStride == 0 => n } ++ llmQueries

  /** The workload's query list in the seed's order. */
  def ordered(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  /** Free every locally checkpointed RDD and every cross-query memo, as
    * `graft.Bench` does between passes, so each pass pays the same work. */
  def dropCheckpoints(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = true))
    graft.Memo.invalidateAll()
  }

  /** Scheduler-side counts: jobs, stages, tasks, task and GC time, bytes
    * read, shuffled and spilled, and jobs by call site. */
  final class SchedulerListener extends SparkListener {
    val jobs, stages, tasks, taskMs, gcMs = new AtomicLong
    val inputBytes, shuffleWrite, shuffleRead, spillBytes = new AtomicLong
    val checkpointJobs, textDedupJobs = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val sites = e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n")
      if (sites.contains("localCheckpoint")) checkpointJobs.incrementAndGet()
      if (sites.contains("graft.llm.TextDedup")) textDedupJobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Plan phases of every finished SQL execution, from `qe.tracker`. */
  final class PhaseListener extends QueryExecutionListener {
    val analysisMs, optimizationMs, planningMs = new AtomicLong
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

    private def add(qe: QueryExecution): Unit = qe.tracker.phases.foreach { case (name, p) =>
      val d = p.durationMs
      name match {
        case "analysis" => analysisMs.addAndGet(d)
        case "optimization" => optimizationMs.addAndGet(d)
        case "planning" => planningMs.addAndGet(d)
        case _ =>
      }
      phases.add((s"plan.$name", p.startTimeMs, p.endTimeMs))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  /** Generated classes and their compile time so far (JVM-wide). */
  def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
