package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Diagnostic main (TUNING.md §t-digest accuracy — not a declared query):
  * cross-SF rank-error comparison of the three quantile paths over
  * `lineitem.l_extendedprice` per `l_returnflag`:
  *
  *   - exact `percentile` — O(group) state, the unbounded-state demo;
  *   - GK `percentile_approx(acc)` — uniform ±n/acc rank bound;
  *   - t-digest (`TDigestQuantilesAgg`, δ=100) — O(δ) mergeable state,
  *     rank error ∝ q·(1−q) (tightest at the tails).
  *
  * For each path and each q ∈ {.01,.25,.50,.90,.99} the probe measures
  * the TRUE rank error: it counts `price < q̂` / `price ≤ q̂` per group
  * and reports the distance from q to the attained rank interval
  * [lt/n, le/n] (0 when q lies inside — ties make the interval, not a
  * point). Printed per SF so the TUNING.md table can quote measured
  * numbers, max'd over groups.
  *
  * Usage: runMain graft.SketchAccuracy [sfDir]
  */
object SketchAccuracy {

  private val Qs = Seq(0.01, 0.25, 0.50, 0.90, 0.99)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(GraftSession.defaultCpus, sfDir)

    val l = graft.tables.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("double").as("price"))
      .cache()
    val n = l.count()

    val qsArr = s"array(${Qs.mkString(", ")})"
    val exact = l.groupBy(col("l_returnflag"))
      .agg(expr(s"percentile(price, $qsArr)").as("qs"))
    val gk = l.groupBy(col("l_returnflag"))
      .agg(expr(s"percentile_approx(price, $qsArr, 10000)")
        .cast("array<double>").as("qs"))
    val td = l.groupBy(col("l_returnflag"))
      .agg(graft.functions.TDigestQuantilesAgg
        .tdigest_quantiles(col("price"), Qs).as("qs"))

    /** max over groups of the distance from q to the attained rank
      * interval, per quantile position. */
    def rankErrors(est: DataFrame): Seq[Double] = {
      val aggCols = count(lit(1)).as("n") +:
        Qs.indices.flatMap(i => Seq(
          sum((col("price") < col("qs")(i)).cast("long")).as(s"lt$i"),
          sum((col("price") <= col("qs")(i)).cast("long")).as(s"le$i")))
      val j = l.join(broadcast(est), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(aggCols.head, aggCols.tail: _*)
      val errCols = Qs.zipWithIndex.map { case (q, i) =>
        greatest(lit(0.0),
          greatest(col(s"lt$i").cast("double") / col("n") - q,
            lit(q) - col(s"le$i").cast("double") / col("n"))).as(s"err$i")
      }
      val maxCols = Qs.indices.map(i => max(col(s"err$i")).as(s"err$i"))
      val r = j.select(errCols: _*)
        .agg(maxCols.head, maxCols.tail: _*)
        .head()
      Qs.indices.map(r.getDouble)
    }

    println(s"[acc] sf=$sfDir rows=$n  (max rank error over groups)")
    println(f"[acc] ${"path"}%-10s ${Qs.map(q => f"q$q%-8.2f").mkString}")
    Seq("exact" -> exact, "gk10k" -> gk, "tdigest" -> td).foreach {
      case (name, est) =>
        val errs = rankErrors(est)
        println(f"[acc] $name%-10s ${errs.map(e => f"$e%-9.6f").mkString}")
    }
    spark.stop()
  }
}
