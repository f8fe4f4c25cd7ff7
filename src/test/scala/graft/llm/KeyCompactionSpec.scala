package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.TestSpark

/** The key-compaction guard rejects every non-injective hash (null keys
  * included), and `compact` swaps in the hash without changing which
  * rows share a key, in one pass over its input. */
class KeyCompactionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 60 docs of 20 tokens over a 50-word vocabulary: many shared
    * shingles. Built from `range`, not a local relation, so the
    * optimizer cannot evaluate filters over it on the driver. */
  private def shingles(): DataFrame = {
    val docs = spark.range(60).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(19)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(50))
          .cast("string")))).as("text"))
    TextDedup.shingleTable(docs, "doc_id", "text", 3)
  }

  private def keys(ks: Option[String]*): DataFrame =
    ks.map(_.orNull).toDF("k")

  test("guard rejects a forced collision") {
    val df = keys(Some("a"), Some("b"), Some("c"), Some("d"))
    assert(KeyCompaction.guard(df.withColumn("h", xxhash64(col("k"))),
      "k", "h"))
    assert(!KeyCompaction.guard(
      df.withColumn("h", pmod(xxhash64(col("k")), lit(2L))), "k", "h"))
  }

  test("guard rejects a null key that shares a hash with a real key") {
    // countDistinct(k) = countDistinct(h) = 1 here: a global count of
    // distinct keys and hashes would pass it
    val df = keys(None, Some("a"), Some("a")).withColumn("h", lit(7L))
    assert(!KeyCompaction.guard(df, "k", "h"))
  }

  test("guard accepts an all-null key column and an empty frame") {
    val nulls = keys(None, None, None)
    assert(KeyCompaction.guard(nulls.withColumn("h", xxhash64(col("k"))),
      "k", "h"))
    assert(KeyCompaction.guard(nulls.withColumn("h", lit(7L)), "k", "h"))
    val empty = keys(Some("a")).filter(lit(false))
      .withColumn("h", xxhash64(col("k")))
    assert(KeyCompaction.guard(empty, "k", "h"))
  }

  test("compact hash-keys shingles and keeps which rows share a key") {
    val in = shingles().withColumn("rid", monotonically_increasing_id())
      .unionByName(Seq((998L, null: String, -2L), (999L, null: String, -1L))
        .toDF("doc_id", "sh", "rid"))
      .localCheckpoint(true)
    val out = KeyCompaction.compact(in, "sh")
    assert(in.schema("sh").dataType == StringType)
    assert(out.schema("sh").dataType == LongType)
    assert(out.columns.toSeq == in.columns.toSeq)
    assert(out.select("doc_id", "rid").as[(Long, Long)].collect().sorted
      .toSeq == in.select("doc_id", "rid").as[(Long, Long)].collect()
      .sorted.toSeq)
    // null-safe: the two null-keyed rows share a key, with no other row
    def sharing(df: DataFrame): Set[(Long, Long)] =
      df.as("a").join(df.as("b"),
          col("a.sh") <=> col("b.sh") && col("a.rid") < col("b.rid"))
        .select(col("a.rid"), col("b.rid")).as[(Long, Long)].collect().toSet
    val before = sharing(in)
    assert(before.contains((-2L, -1L)) && before.size > 1)
    assert(sharing(out) == before)
  }

  test("compact's guard and checkpoint read the input once") {
    val in = shingles()
    val n = in.count()
    val reads = spark.sparkContext.longAccumulator("keyCompactionReads")
    val tick = udf { (_: String) => reads.add(1); true }
    val out = KeyCompaction.compact(in.filter(tick(col("sh"))), "sh")
    // the two downstream reads jaccardPairs makes: sizes and self-join
    out.groupBy(col("doc_id")).count().collect()
    out.as("a").join(out.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(reads.value == n)
  }
}
