package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The scale replicator (r15 VERDICT directive 2 — the sf100 anchor
  * point) and its battery main.
  *
  * [[replicate]] synthesizes an sfN-equivalent corpus from a small base:
  * each fact table is written `copies` times with its key columns shifted
  * by `copy * Shift`, so joins on those keys stay aligned inside a copy
  * and never cross copies; o_custkey and the dimension tables are left
  * unshifted (dimensions copied once) so fact↔dim joins stay aligned.
  * The fan-out is one crossJoin against `spark.range(copies)` rather than
  * a `copies`-way union: the same multiset of rows from a plan whose size
  * is O(1) in `copies`, which matters at 1000 (a 1000-branch union is
  * quadratic in the analyzer). Output is Spark-written parquet
  * DIRECTORIES `<dir>/<table>.parquet`, which both `Tables` and
  * `tools/bench_duckdb.py` (glob view) read.
  *
  * `main` writes `/tmp/graft_sf_x<copies>` holding ONLY the tables the
  * 21-query TPC-H battery reads, so a 1000× (~600 M lineitem rows,
  * ~15 GB parquet) corpus fits the scratch disk; `ScaleProof` replicates
  * its wider table set through the same function.
  *
  * Usage: runMain graft.ScaleData [copies] — default 1000.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(1000)
    val base = "/root/testdata/sf0.1"
    val dir = s"/tmp/graft_sf_x$copies"
    val spark = GraftSession.build(GraftSession.defaultCpus, base)
    val t0 = System.nanoTime()
    replicate(spark, base, dir, copies, BatteryFacts, Dimensions)
    println(s"[scaledata] lineitem rows: " +
      spark.read.parquet(s"$dir/lineitem.parquet").count())
    println(f"[scaledata] done in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $dir")
    spark.stop()
  }

  /** Per-copy key offset: larger than any sf0.1 key. */
  val Shift = 10000000L

  val BatteryFacts = Seq("lineitem" -> Seq("l_orderkey"), "orders" -> Seq("o_orderkey"))
  val Dimensions = Seq("customer", "supplier", "nation", "region", "part")

  /** Write `copies` key-shifted copies of each `facts` table (name → key
    * columns) and one plain copy of each `dims` table from `base` into
    * `dir`. */
  def replicate(spark: SparkSession, base: String, dir: String, copies: Int,
      facts: Seq[(String, Seq[String])], dims: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val copyIdx = spark.range(copies).withColumnRenamed("id", "__copy")
    facts.foreach { case (name, keyCols) =>
      // repartition the SMALL base so the ×copies fan-out runs in
      // parallel — a single sf0.1 parquet file is one split, and fanning
      // 600 M rows from one task would serialize the build; the big side
      // is never shuffled
      val df = graft.tables.Tables.table(spark, base, name)
        .repartition(math.min(128, copies))
      keyCols.foldLeft(df.crossJoin(copyIdx)) { (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * lit(Shift))
      }.drop("__copy")
        .write.mode("overwrite")
        // ~5 M rows ≈ 90 MB compressed per file: parallel row groups
        // for DuckDB's glob reader without a 600 M-row shuffle
        .option("maxRecordsPerFile", 5000000)
        .parquet(s"$dir/$name.parquet")
      println(f"[scaledata] $name x$copies written in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    dims.foreach { name =>
      spark.read.parquet(s"$base/$name.parquet").write.mode("overwrite")
        .parquet(s"$dir/$name.parquet")
    }
  }
}
