package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pin the runtime exchange reuse two optimizations DEPEND on for their
  * measured wins (ADVICE r16): q_graph_kcore's per-round degree agg
  * (the r16 `keep`-checkpoint drop) and dupspanRuns' un-checkpointed
  * `kept ⋈ kept` candidate join (r17). Both rely on Spark canonicalizing
  * the two probe subtrees to one exchange — plan-canonicalization-
  * dependent behavior a Spark upgrade or AQE replanning change could
  * silently break, doubling per-round work with no correctness signal.
  * This spec EXECUTES each query (reuse is decided at runtime under AQE)
  * and fails if the final adaptive plan carries no ReusedExchange, so a
  * regression surfaces in `sbt test` instead of as a silent perf cliff.
  */
class ReusedExchangeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def finalPlanOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, TestSpark.sf0001)
    // execute THIS Dataset's own query execution (a noop write would
    // spawn a separate one): after collect, the AdaptiveSparkPlanExec
    // prints its final reoptimized shape, including runtime
    // ReusedExchange nodes
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("kcore's round shape: the degree-agg exchange is runtime-reused") {
    // the reuse lives inside each round's `edges` checkpoint ACTION (the
    // final returned frame reads the last checkpoint), so run the
    // query's own round over synthetic edges: its degree agg probed by
    // two semi-joins must plan a single exchange + a ReusedExchange, or
    // the r16 keep-checkpoint drop silently doubles the degree work per
    // round
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (0 until 200).map(i => (i.toLong % 23, (i * 7L) % 29))
      .toDF("ia", "ib").filter(col("ia") =!= col("ib"))
    val round = graft.queries.Corpus.kcoreRound(edges)
    round.collect()
    assert(round.queryExecution.executedPlan.toString
        .contains("ReusedExchange"),
      "kcore's semi-join probe pair lost exchange reuse — re-measure " +
        "the r16 keep-checkpoint drop (it was only a win under reuse)")
  }

  test("q_dupspan_pairs' kept-join exchange is runtime-reused") {
    assert(finalPlanOf("q_dupspan_pairs").contains("ReusedExchange"),
      "dupspan lost its candidate-join exchange reuse — re-measure the " +
        "r17 kept-checkpoint drop (it was only a win under reuse)")
  }
}
