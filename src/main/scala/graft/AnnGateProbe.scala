package graft

import org.apache.spark.sql.functions._

/** Diagnostic: prints the measured mean "true top-1 found in approx
  * top-5" indicator for each engine-trained ANN operator at the declared
  * operating point — the number the q_cosine_* oracle-gate floors are
  * derived from (floor ≈ measurement − 0.15). Run per scale factor:
  * `runMain graft.AnnGateProbe [sfDir]`.
  */
object AnnGateProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(GraftSession.defaultCpus, d)
    val e = graft.tables.Tables.embeddings(spark, d)
    val qs = Some(e.filter(col("vec_id") < 50))

    def report(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val r = graft.queries.Llm.annRecallMean(e, approx, nQ = 50)
        .collect()(0)
      println(f"[anngate] $name%-16s n=${r.getLong(0)} mean_hit=${r.getDouble(1)}%.3f")
    }

    report("lsh", graft.llm.VectorLsh.topkApproxAuto(e, "vec_id", "embedding",
      k = 5, n = Some(graft.tables.Tables.rowCount(spark, d, "embeddings"))))
    report("ivf", graft.llm.VectorIvf.topkApprox(e, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, queries = qs, trainFraction = 0.2))
    report("ivfadc", graft.llm.VectorPq.topkIvfAdc(e, "vec_id", "embedding",
      topk = 5, nlist = 16, nprobe = 4, queries = qs, trainFraction = 0.2,
      residual = true, rerankFactor = 4))
    report("pq", graft.llm.VectorPq.topkApprox(e, "vec_id", "embedding",
      topk = 5, queries = qs, trainFraction = 0.2))

    // recall sweep at a SHARED codebook (the q_ivf_recall_sweep floors)
    graft.llm.VectorIvf.topkApproxSweep(e, "vec_id", "embedding",
      k = 5, nlist = 16, nprobes = Seq(1, 2, 4, 8), queries = qs,
      trainFraction = 0.2).foreach { case (np, approx) =>
      report(f"ivf_sweep_np$np", approx)
    }

    // hard-negatives IVF: exact top-1 LABEL-DISJOINT neighbor found in
    // the label-filtered approx top-3 (the q_hard_negatives_ivf gate)
    val hn = graft.queries.Llm.hardNegRecallMean(e,
      graft.llm.VectorIvf.topkApproxLabelDisjoint(e, "vec_id", "embedding",
        "label", k = 3, nlist = 16, nprobe = 4, queries = qs,
        trainFraction = 0.2), nQ = 50).collect()(0)
    println(f"[anngate] hardneg_ivf      n=${hn.getLong(0)} mean_hit=${hn.getDouble(1)}%.3f")
    spark.stop()
  }
}
