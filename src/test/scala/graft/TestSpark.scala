package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide): the PlanDump
  * session, 4 cpus over sf0.001. */
object TestSpark {
  val sf0001 = "/root/testdata/sf0.001"
  /** Larger SF for specs that must exercise data-dependent operating
    * points (auto-k etc.) past their small-corpus floors. */
  val sf01 = "/root/testdata/sf0.1"
  lazy val spark: SparkSession = GraftSession.build(4, sf0001)
}
