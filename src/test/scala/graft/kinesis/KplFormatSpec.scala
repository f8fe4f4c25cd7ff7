package graft.kinesis

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.kinesis.kpl.KplFileFormat

/** DSv2 KPL wire-format source: distributed write → spark.read round trip. */
class KplFormatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("wire files written by the packer read back losslessly via DSv2") {
    val dir = java.nio.file.Files.createTempDirectory("kpl_archive").toString
    val payloads = (0 until 3000).map(i => s"record-$i-${"y" * 50}").toDF("s")
      .select(col("s").cast("binary").as("payload"))
      .repartition(4)
    val ehks = ShardModel.evenRanges(4)
      .map { case (lo, hi) => ShardModel.midpoint(lo, hi).toString }.toArray
    val written = KplFileFormat.writeWireFiles(payloads, "payload", dir, ehks)
    assert(written == 3000)

    val back = spark.read.format(KplFileFormat.Name).load(dir)
    assert(back.schema.fieldNames.toSeq ==
      Seq("partition_key", "explicit_hash_key", "data", "source_file"))
    assert(back.count() == 3000)
    val texts = back.select(col("data").cast("string")).as[String].collect().toSet
    assert(texts == (0 until 3000).map(i => s"record-$i-${"y" * 50}").toSet)
    // dictionary keys survive: all records share the sink's "a" partition key
    assert(back.select(countDistinct(col("partition_key"))).head().getLong(0) == 1)
    // and the scan parallelizes per file
    assert(back.select(countDistinct(col("source_file"))).head().getLong(0) >= 4)
    // SQL over the source works too
    back.createOrReplaceTempView("kpl_archive")
    assert(spark.sql(
      "SELECT count(*) FROM kpl_archive WHERE length(data) > 10").head().getLong(0) == 3000)
  }
}
