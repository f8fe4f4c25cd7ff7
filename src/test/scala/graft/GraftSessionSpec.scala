package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point runs under the one session policy. */
class GraftSessionSpec extends AnyFunSuite {

  test("only GraftSession builds a SparkSession in the main sources") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val builders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p.getFileName.toString ->
          "SparkSession.builder".r.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0)
      finally walk.close()
    assert(builders == Seq("GraftSession.scala" -> 1),
      "a hand-built session drifts from the bench/gate policy — " +
        "use GraftSession.build")
  }

  test("the test session is the GraftSession policy at 4 cpus") {
    val conf = TestSpark.spark.conf
    assert(TestSpark.spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "24000")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
