package graft

import org.apache.spark.sql.functions._

/** Floor-measurement probe for q_lsh_band_sweep(_sampled) — the
  * AnnGateProbe cadence: print per-config recall (ppm) of the nested
  * MinHash band joins against the exact Jaccard ≥ 0.5 edge set, full
  * corpus and the 1/4 doc stratum, per SF. NOT part of the declared
  * surface; evidence for the pinned floors lands in TUNING.md.
  * Usage: runMain graft.BandSweepProbe [sfDir...]
  */
object BandSweepProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.defaultCpus, dirs.head)
    for (d <- dirs; sampled <- Seq(false, true)) {
      GraftSession.reseed(spark, d)
      val docs0 = graft.tables.Tables.documents(spark, d)
      val docs = if (sampled) docs0.filter(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")),
          1, 1), 16, 10).cast("long") <= 3) else docs0
      val sig = graft.llm.TextDedup
        .minhashSignatures(docs, "doc_id", "text", nPerm = 16)
        .localCheckpoint(true)
      val exact = graft.llm.TextDedup
        .jaccardEdgesShared(docs, "doc_id", "text", threshold = 0.2,
          corpusKey = s"$d#probe$sampled")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val nExact = exact.count()
      val rec = Seq(2, 4, 8, 16).map { bands =>
        val rows = 16 / bands
        val bandCols = (0 until bands).map { b =>
          val hs = (0 until rows).map(r =>
            col(s"h${b * rows + r}").as(s"v$r"))
          struct(lit(b).as("band"), struct(hs: _*).as("sig"))
        }
        val buckets = sig
          .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        val cand = buckets.as("a").join(buckets.as("b"),
            col("a.bk") === col("b.bk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val hit = cand.join(exact, Seq("id_a", "id_b")).count()
        val ppm = if (nExact == 0) 1000000L else hit * 1000000L / nExact
        s"b=$bands: $hit/$nExact (${ppm} ppm)"
      }
      println(s"[bandsweep] $d sampled=$sampled  ${rec.mkString("  ")}")
    }
    spark.stop()
  }
}
