package graft

import org.apache.spark.sql.functions._

/** Diagnostic for VERDICT r16 item 9: attributes q_knn_graph_clusters
  * wall time between its pipeline phases (IVF train+assign+probe+rerank,
  * mutual symmetrization, CC fixpoint, exact-kNN audit, final rollup) so
  * the residual after the r16 CC + rerank wins is measured, not guessed.
  * Run: `runMain graft.KnnProbe [sfDir]` (bench-like session: local[32],
  * table cache on).
  */
object KnnProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.build(cpus, d)
    graft.tables.Tables.enableCache()
    val e = graft.tables.Tables.embeddings(spark, d)
    e.write.format("noop").mode("overwrite").save() // warm the cache

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[knnprobe] $name%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    (1 to 3).foreach { pass =>
      println(s"[knnprobe] pass $pass")
      val n = graft.tables.Tables.rowCount(spark, d, "embeddings")
      val nlist = math.max(16, math.min(256,
        math.ceil(math.sqrt(n.toDouble)).toInt))
      val approx = timed("ivf approx+ckpt") {
        graft.llm.VectorIvf.topkApprox(e, "vec_id", "embedding",
          k = 4, nlist = nlist, nprobe = 8, trainFraction = 0.2)
          .localCheckpoint(true)
      }
      val undirected = approx.select(col("q_id"), col("c_id"))
      val mutual = undirected.as("f")
        .join(undirected.as("r"),
          col("f.q_id") === col("r.c_id") && col("f.c_id") === col("r.q_id"))
        .filter(col("f.q_id") < col("f.c_id"))
        .select(col("f.q_id").as("id_a"), col("f.c_id").as("id_b"))
      val cl = timed("cc clusters (noop)") {
        val c = graft.llm.TextDedup.clusters(
          e.select(col("vec_id")), "vec_id", mutual)
        c.write.format("noop").mode("overwrite").save(); c
      }
      timed("rollup aggs (noop)") {
        val clStats = cl.agg(count(lit(1)).as("n_labeled"),
          countDistinct(col("vec_id")).as("n_distinct"))
        val nNodes = e.agg(count(lit(1)).as("n_nodes"))
        val nEdges = mutual.agg(count(lit(1)).as("n_edges"))
        nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(clStats))
          .write.format("noop").mode("overwrite").save()
      }
      timed("exact4 audit (noop)") {
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val w4 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
        val exact4 = q.join(c, col("q_id") =!= col("c_id"))
          .withColumn("sim", graft.functions.VectorFunctions
            .vec_cosine(col("q_emb"), col("c_emb")))
          .withColumn("rn", row_number().over(w4))
          .filter(col("rn") <= 4)
          .select(col("q_id"), col("c_id"))
        exact4.join(approx.select(col("q_id"), col("c_id"))
            .withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
          .agg(avg(coalesce(col("hit"), lit(0))).as("mean_hit"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
