package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.vec_cosine

/** Diagnostic: recall-vs-cost sweep for the ANN operators against the
  * brute-force ground truth, at a given SF. Prints one line per
  * configuration — the numbers behind TUNING.md's nprobe guidance.
  * Usage: runMain graft.AnnSweep [sfDir]
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build(GraftSession.defaultCpus, sfDir)

    val e = graft.tables.Tables.embeddings(spark, sfDir).cache()
    val nVecs = e.count()
    println(s"[ann] corpus: $nVecs vectors from $sfDir")

    // ground truth: exact top-1 per query (bounded query set)
    val q = e.filter(col("vec_id") < 200)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val truth = q.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
        col("q_id") =!= col("c_id"))
      .withColumn("sim", vec_cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("true_nn"))
      .cache()
    val nq = truth.count()

    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      truth.join(df, truth("q_id") === df("q_id") &&
        col("true_nn") === col("c_id")).count().toDouble / nq

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    for (nprobe <- Seq(1, 2, 4, 8)) {
      val (r, secs) = timed(recallOf(
        graft.llm.VectorIvf.topkApprox(e, "vec_id", "embedding", k = 10,
          nlist = 16, nprobe = nprobe, queries = Some(q))))
      println(f"[ann] IVF     nlist=16 nprobe=$nprobe%-2d  recall@10=$r%.2f  ${secs}%5.1f s")
    }
    for ((bits, tables) <- Seq((4, 4), (6, 4), (8, 2), (12, 4))) {
      val (r, secs) = timed(recallOf(
        graft.llm.VectorLsh.topkApprox(e, "vec_id", "embedding", k = 10,
          bits = bits, tables = tables)
          .join(q.select(col("vec_id").as("q_id")), "q_id")))
      println(f"[ann] LSH     bits=$bits%-2d tables=$tables%-2d recall@10=$r%.2f  ${secs}%5.1f s")
    }
    // the DECLARED q_cosine_lsh operating point (auto bits, 8 tables) —
    // always measure the config the engine actually ships
    {
      val autoBits = graft.llm.VectorLsh.bitsFor(nVecs)
      val (r, secs) = timed(recallOf(
        graft.llm.VectorLsh.topkApprox(e, "vec_id", "embedding", k = 10,
          bits = autoBits, tables = 8)
          .join(q.select(col("vec_id").as("q_id")), "q_id")))
      println(f"[ann] LSH-AUTO bits=$autoBits%-2d tables=8  recall@10=$r%.2f  ${secs}%5.1f s")
    }
    for (nprobe <- Seq(2, 4, 8)) {
      val (r, secs) = timed(recallOf(
        graft.llm.VectorPq.topkIvfAdc(e, "vec_id", "embedding", topk = 10,
          nlist = 16, nprobe = nprobe, queries = Some(q),
          trainFraction = 0.2, residual = true)))
      println(f"[ann] IVFADC  nlist=16 nprobe=$nprobe%-2d  recall@10=$r%.2f  ${secs}%5.1f s")
    }
    for (rf <- Seq(2, 4)) {
      val (r, secs) = timed(recallOf(
        graft.llm.VectorPq.topkIvfAdc(e, "vec_id", "embedding", topk = 10,
          nlist = 16, nprobe = 8, queries = Some(q),
          trainFraction = 0.2, residual = true, rerankFactor = rf)))
      println(f"[ann] IVFADC+rerank x$rf nprobe=8  recall@10=$r%.2f  ${secs}%5.1f s")
    }
    // OPQ: does a fixed seeded orthogonal rotation before the subspace
    // split improve the PQ quantizer's recall? (Rotation preserves all
    // cosine similarities, so the SAME ground truth applies — only the
    // quantization error moves.)
    {
      val (plain, s1) = timed(recallOf(
        graft.llm.VectorPq.topkApprox(e, "vec_id", "embedding", topk = 10,
          queries = Some(q), trainFraction = 0.2)))
      println(f"[ann] PQ-ADC  plain      recall@10=$plain%.2f  ${s1}%5.1f s")
      val mat = graft.llm.VectorPq.rotationMatrix(64, seed = 7L)
      val eR = graft.llm.VectorPq.rotate(e, "embedding", mat)
      val qR = graft.llm.VectorPq.rotate(q, "embedding", mat)
      val (opq, s2) = timed(recallOf(
        graft.llm.VectorPq.topkApprox(eR, "vec_id", "embedding", topk = 10,
          queries = Some(qR), trainFraction = 0.2)))
      println(f"[ann] PQ-ADC  OPQ-rotate recall@10=$opq%.2f  ${s2}%5.1f s")
    }
    spark.stop()
  }
}
