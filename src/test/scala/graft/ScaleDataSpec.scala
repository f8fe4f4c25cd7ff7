package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ScaleDataSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("replicate: facts x copies with per-copy key shifts; o_custkey and " +
    "dimensions unshifted") {
    val base = TestSpark.sf0001
    val dirFile = java.nio.file.Files.createTempDirectory("graft_replicate").toFile
    val dir = dirFile.toString
    val copies = 3
    try {
      ScaleData.replicate(spark, base, dir, copies, ScaleData.BatteryFacts,
        Seq("customer", "nation"))
      def table(d: String, name: String): DataFrame =
        spark.read.parquet(s"$d/$name.parquet")
      val (li, o) = (table(base, "lineitem"), table(base, "orders"))
      val (li3, o3) = (table(dir, "lineitem"), table(dir, "orders"))
      assert(li3.count() == copies * li.count())
      assert(o3.count() == copies * o.count())
      def join(l: DataFrame, r: DataFrame): Long =
        l.join(r, col("l_orderkey") === col("o_orderkey")).count()
      assert(join(li3, o3) == copies * join(li, o))

      val shift = ScaleData.Shift
      def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      for ((base1, rep, key) <- Seq((li, li3, "l_orderkey"), (o, o3, "o_orderkey"))) {
        // copy i holds keys in [i * Shift, (i + 1) * Shift), one base
        // table's worth each ...
        assert(rep.groupBy(expr(s"$key div $shift").as("copy")).count()
          .orderBy("copy").collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq == (0L until copies).map(_ -> base1.count()))
        // ... and with the shift taken off, the rows — every other
        // column, o_custkey included — are the base rows `copies` times
        val unshifted = rep.withColumn(key, (col(key) % shift).cast("long"))
        val expected = base1.withColumn(key, col(key).cast("long"))
        assert(sameMultiset(unshifted,
          Seq.fill(copies)(expected).reduce(_ union _)))
      }
      for (dim <- Seq("customer", "nation"))
        assert(sameMultiset(table(dir, dim), table(base, dim)), dim)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dirFile)
  }
}
