package graft.tables

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DerivedInitPartitionsSpec extends AnyFunSuite {

  test("only *.parquet bytes count toward the AQE seed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seed").toFile
    try {
      TestSpark.spark.range(10).write.parquet(s"$dir/t.parquet")
      // 64 MiB of non-parquet bytes (sparse: no disk blocks) would alone
      // derive 8 partitions
      val stray = new java.io.RandomAccessFile(s"$dir/stray.bin", "rw")
      try stray.setLength(64L << 20) finally stray.close()
      assert(Tables.derivedInitPartitions(dir.toString, 4) == 4)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
