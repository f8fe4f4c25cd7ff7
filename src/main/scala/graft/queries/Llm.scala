package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.llm.KeyCompaction
import graft.tables.Tables._
import Q._

/** LLM-training-data-pipeline operators over `documents` and `embeddings`:
  * exact & near dedup (MinHash-LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed cosine), and text analysis (quality
  * scoring, token counting, TF/DF statistics).
  *
  * Scale design: everything pair-wise is blocked — MinHash bands, SimHash
  * prefixes, or metadata keys (source) — so candidate generation is an
  * equi-join on a bucket key (one shuffle), never an unblocked cross join.
  * Exact-SQL-expressible ops carry a DuckDB oracle; the hash-based ones
  * (engine-specific hash functions) are property-tested in ScalaTest
  * against brute-force ground truth instead.
  */
object Llm {

  /** Non-empty whitespace tokens of `text` (codegen'd HOFs, no UDF). */
  private def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")
  private val tokensSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Cosine similarity via higher-order functions — the reference
    * formulation the native expression is checked against (LlmSpec).
    * Queries use [[graft.functions.VectorFunctions.vec_cosine]], a custom
    * codegen'd Catalyst expression with identical arithmetic (§4.2). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }
  private def cosineSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  /** ANN oracle-gate support (the q_agg_percentile_approx self-validation
    * trick applied to engine-trained ANN): the neighbor lists depend on
    * engine-internal state (k-means codebooks, LSH hyperplanes), so the
    * DECLARED output is the checkable invariant instead — per probe
    * vector, does the TRUE top-1 cosine neighbor (recomputed in-query by
    * the exact brute-force operator) appear in the approx top-k? Returns
    * one row `(n_queries, mean_hit)`; the gate form thresholds the mean
    * against the operating point's floor so DuckDB can pin
    * `(n_queries, floor_ok)` — a recall regression now FAILS the driver's
    * hash gate instead of hiding behind a rows-only check. Floors are set
    * ~0.15 under the sf0.01 measurements (AnnGateProbe) so data noise
    * doesn't flake the gate but a real regression trips it. */
  private[graft] def annRecallMean(e: DataFrame, approx: DataFrame,
      nQ: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val top1 = q.join(c, col("q_id") =!= col("c_id"))
      .withColumn("sim",
        graft.functions.VectorFunctions.vec_cosine(col("q_emb"), col("c_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"))
    top1.join(approx.select(col("q_id"), col("c_id"))
        .withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        avg(coalesce(col("hit"), lit(0))).as("mean_hit"))
  }

  private def annRecallGate(e: DataFrame, approx: DataFrame,
      nQ: Int, floor: Double): DataFrame =
    annRecallMean(e, approx, nQ)
      .select(col("n_queries"),
        (col("mean_hit") >= floor).cast("long").as("floor_ok"))

  // n_queries derived, not pinned (the q_ivf_recall_sweep ADVICE fix
  // applied family-wide): 50 is an accident of the probe prefix, so a
  // corpus with < 50 embeddings must not fail on a column that carries
  // no contract — only floor_ok is the declared invariant.
  private val annGateSql: String =
    "SELECT CAST(least(50, (SELECT count(*) FROM embeddings))" +
      " AS BIGINT) AS n_queries, CAST(1 AS BIGINT) AS floor_ok"

  /** Hard-negatives recall gate support (the annRecallMean shape with the
    * label-disjoint constraint): per anchor, does the TRUE top-1
    * different-label neighbor (exact broadcast scan, round-6 cosine +
    * c_id tiebreak — the q_hard_negatives ordering) appear in the approx
    * top-k? One row `(n_queries, mean_hit)`. */
  private[graft] def hardNegRecallMean(e: DataFrame, approx: DataFrame,
      nQ: Int): DataFrame = {
    val anchors = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_r").desc, col("c_id"))
    val exactTop1 = e.select(col("vec_id").as("c_id"),
        col("label").as("c_label"), col("embedding").as("c_emb"))
      .join(broadcast(anchors), col("q_label") =!= col("c_label"))
      .withColumn("sim_r", round(graft.functions.VectorFunctions
        .vec_cosine(col("q_emb"), col("c_emb")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("c_id"))
    exactTop1.join(approx.select(col("q_id"), col("c_id"))
        .withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        avg(coalesce(col("hit"), lit(0))).as("mean_hit"))
  }

  /** nDCG@10 discount weights 10⁶/log₂(i+1), i = 1..10, and their prefix
    * sums (ideal DCG for n_rel relevant items) — evaluated ONCE here and
    * embedded as integer literals in both engine plans, so no
    * transcendental ever runs per-engine. */
  private[graft] val NdcgW: Array[Long] = (1 to 10).map(i =>
    math.round(1e6 / (math.log(i + 1.0) / math.log(2.0)))).toArray
  private[graft] val NdcgCum: Array[Long] =
    NdcgW.scanLeft(0L)(_ + _).tail.toArray

  /** MRR reciprocal-rank table round(10⁶/rank), rank = 1..10 — builder-
    * time constants embedded in both plans (the NdcgW pattern). */
  private[graft] val MrrW: Array[Long] =
    (1 to 10).map(i => math.round(1e6 / i)).toArray

  /** The dup-graph CTE chain shared by every graph-analysis oracle
    * (triangles, bounded reach, PageRank, and the MinHash exact side) —
    * ONE definition of the shingle → pair pipeline, so the oracles can't
    * drift from each other or from the `jaccardEdgesShared` frame the
    * engine side reads. */
  private[queries] def dupPairsCteW(where: String): String = s"""
        toks AS (SELECT doc_id,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents$where),
        shingles AS (SELECT doc_id, unnest(list_distinct(
            list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
          FROM toks WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM shingles a JOIN shingles b
            ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""
  private[queries] val dupPairsCte: String = dupPairsCteW("")

  /** [[dupPairsCte]] + the undirected edge set at `threshold`;
    * `where` restricts the document set (the sampled-stratum twins). */
  private[queries] def dupEdgesCteW(threshold: String,
      where: String): String =
    s"""${dupPairsCteW(where)},
        edges0 AS (
          SELECT id_a, id_b FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold)"""
  private[queries] def dupEdgesCte(threshold: String): String =
    dupEdgesCteW(threshold, "")

  /** Deterministic 1/16 pair sample for the sampled-audit variants:
    * first hex nibble of md5("id_a_id_b") — the same value in Spark and
    * DuckDB (cross-engine, no RNG state), uniform over pairs, and
    * independent of the shingle/similarity structure being audited. The
    * canonical id_a < id_b orientation makes the key unambiguous. */
  private[graft] def pairSampleNibbles(a: Column, b: Column,
      nibbles: Seq[String]): Column =
    substring(md5(concat_ws("_", a, b).cast("binary")), 1, 1)
      .isin(nibbles: _*)
  private def pairSample(a: Column, b: Column): Column =
    pairSampleNibbles(a, b, Seq("0"))
  private val pairSampleSql =
    "substr(md5(CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)), 1, 1) = '0'"

  /** PER-DOC sample nibble — first md5 hex digit of the id string as an
    * integer 0–15, computed ONCE per document (in whatever frame gets
    * checkpointed) so a pair-level stratum can be the integer test
    * (nib_a + nib_b) % 16 = 0 at join time instead of a per-candidate
    * md5 over the id pair. Exactly 1/16 of nibble pairs satisfy it (for
    * each nib_a there is exactly one qualifying nib_b), it is symmetric
    * (orientation-free), deterministic, and cross-engine (the DuckDB
    * twin is [[docSampleNibbleSql]]). Use this form when the per-
    * candidate work the sample skips is CHEAP (one bit_count, one gram
    * equality) — the pair-md5 form's hash cost can exceed what it
    * saves there (the round-10 simhash-audit inversion, VERDICT r10). */
  private[graft] def docSampleNibble(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 1), 16, 10)
      .cast("long")
  private[graft] def docSampleNibbleSql(idExpr: String): String =
    s"(strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), 1, 1)) - 1)"

  /** Shared integer Lloyd k-means (q_kmeans_lloyd / q_semantic_dedup):
    * e6-quantized first-8-dim vectors, 8 centroids seeded from the 8
    * lowest vec_ids, 3 assign/update rounds with BIGINT argmin (ties →
    * lowest centroid) and truncating-mean updates — both engines (and
    * the spec replay) walk the identical trajectory. Returns the final
    * assignment frame (vec_id, q0..q7, ck, dist). */
  private val kmDims = 8
  private val kmK = 8
  private val kmIters = 3
  // argmin as a PRIMITIVE map-side-combinable hash agg: encode
  // (dist, ck) into one BIGINT key = dist·2^18 + ck — strictly
  // monotone in the (dist asc, ck asc) tie rule since ck < 2^18 —
  // and take min(key). A row_number window sort-buffered the whole
  // n·k candidate fan (85 GB spill at the 100× auto-k point); a
  // min(struct(...)) agg routed through ObjectHashAggregate, whose
  // 128-group sort fallback spilled almost as much. min(BIGINT) stays
  // in whole-stage-codegen HashAggregate with true partial
  // aggregation: each partition holds one long per vector, and only
  // ≤ n combined rows cross the exchange. Bounds: dist ≤ 8·(2·10⁶)²
  // ≈ 3.2e13 on the e6 grid, so key ≤ 8.4e18 < 2^63; the shift caps
  // k at 2^18 centroids (≈ 5e7 vectors at the n/200 rule) — asserted.
  private val kmEncK = 262144L
  /** Exact nearest-centroid assignment against codebook `c` (columns
    * ck, m0..m7) for quantized vectors `q` (vec_id, q0..q7) via the
    * encoded-BIGINT argmin above. Returns (vec_id, q0..q7, ck, dist). */
  private def kmAssignFrame(q: DataFrame, c: DataFrame): DataFrame = {
    val dist = (0 until kmDims)
      .map(i => (col(s"q$i") - col(s"m$i")) * (col(s"q$i") - col(s"m$i")))
      .reduce(_ + _)
    q.crossJoin(broadcast(c))
      .select(col("vec_id"), (dist * kmEncK + col("ck")).as("key"))
      .groupBy(col("vec_id")).agg(min(col("key")).as("key"))
      .join(q, "vec_id") // restore q0..q7 (co-partitioned by vec_id)
      .select(col("vec_id") +:
        (0 until kmDims).map(i => col(s"q$i")) :+
        (col("key") % kmEncK).as("ck") :+
        expr(s"key div $kmEncK").as("dist"): _*)
  }
  /** Trainer half: returns (quantized vector frame, final centroid
    * frame after kmIters assign/update rounds). */
  private def kmeansTrain(s: SparkSession, d: String,
      k: Long = kmK): (DataFrame, DataFrame) = {
    require(k < kmEncK, s"k=$k exceeds the 2^18 argmin encoding")
    val q = embeddings(s, d).select(
      col("vec_id") +: (0 until kmDims).map(i =>
        round(element_at(col("embedding"), i + 1).cast("double")
          * lit(1000000), 0).cast("long").as(s"q$i")): _*)
      .localCheckpoint(true)
    var cent = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("ck") +:
        (0 until kmDims).map(i => col(s"q$i").as(s"m$i")): _*)
    for (_ <- 1 to kmIters) {
      val mCols = (0 until kmDims).map(i =>
        expr(s"sum(q$i) div count(1)").as(s"m$i"))
      cent = kmAssignFrame(q, cent).groupBy(col("ck"))
        .agg(mCols.head, mCols.tail: _*)
        .localCheckpoint(true)
    }
    (q, cent)
  }
  private def kmeansAssign(s: SparkSession, d: String,
      k: Long = kmK): DataFrame = {
    val (q, cent) = kmeansTrain(s, d, k)
    kmAssignFrame(q, cent)
  }

  /** IVF-SEEDED two-level Lloyd (q_kmeans_seeded) — the 100×+ escape
    * for the auto-k assignment fan: the full Lloyd scan enumerates
    * n·k candidates per round, and with the SemDeDup rule k ∝ n that
    * fan is quadratic in corpus size (TUNING's residual growth axis).
    * Here a STATIC coarse codebook (the declared kc-round trajectory,
    * kc = max(8, ⌈√k⌉) — kmeansTrain shared verbatim with
    * q_kmeans_lloyd, identical to its k=8 trajectory until k > 64)
    * partitions the space once; each round the moving fine centroids
    * re-assign to coarse cells (k·kc rows — tiny) and every vector's
    * candidate set becomes an EQUI-JOIN on its cell: expected n·(k/kc)
    * scored rows instead of n·k, and with kc = √k the total
    * coarse-assign + candidate work is n·2√k — sublinear in k. Vectors whose cell holds no fine centroid fall
    * back to the full broadcast scan (the declared orphan rule —
    * bounded by the orphan fraction, reported per cluster in the
    * output, never silent). The trajectory is a DECLARED deterministic
    * variant of Lloyd (the q_knn_graph_clusters precedent: the
    * operating point is part of the operator): same integer grid, same
    * encoded-BIGINT argmin/tie rule within the candidate set, same
    * truncating-mean updates — both engines and the spec replay walk
    * it identically. Returns (vec_id, q0..q7, fk, dist, orphan). */
  private def kmeansSeededAssign(s: SparkSession, d: String): DataFrame = {
    // √k coarse book (VERDICT r12 directive 4): with kc fixed at 8 the
    // candidate fan n·(k/8) grows linearly in k — under the auto-k rule
    // k ∝ n that is the residual growth axis TUNING named. kc = max(8,
    // ⌈√k⌉) balances the two costs (coarse assign n·kc + candidate join
    // n·k/kc minimizes at kc = √k → n·2√k total), restoring a bound
    // that is SUBLINEAR in k. Same footer-stats derivation as auto-k;
    // the floor keeps the small-SF trajectory identical to the r12
    // fixed-8 form (kc = 8 until k > 64, i.e. n > 12,800).
    val kc = semKc(s, d)
    val (q, coarse) = kmeansTrain(s, d, kc)
    // static IVF structure: every vector's coarse cell, computed once
    val vcell = kmAssignFrame(q, coarse)
      .select(col("vec_id") +: (0 until kmDims).map(i => col(s"q$i")) :+
        col("ck").as("cell"): _*)
      .localCheckpoint(true) // candidate join + orphan anti-join + q restore
    val k = semK(s, d)
    require(k < kmEncK, s"k=$k exceeds the 2^18 argmin encoding")
    var fine = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("fk") +:
        (0 until kmDims).map(i => col(s"q$i").as(s"m$i")): _*)
    val dist = (0 until kmDims)
      .map(i => (col(s"q$i") - col(s"m$i")) * (col(s"q$i") - col(s"m$i")))
      .reduce(_ + _)
    def seededAssign(f: DataFrame): DataFrame = {
      val fc = f.localCheckpoint(true) // cell-assign + both dist probes
      // moving fine codebook → static coarse cells (k·8 rows)
      val fcell = kmAssignFrame(
        fc.select(col("fk").as("vec_id") +:
          (0 until kmDims).map(i => col(s"m$i").as(s"q$i")): _*), coarse)
        .select(col("vec_id").as("fk"), col("ck").as("cell"))
        .join(fc, "fk") // restore m0..m7
        .localCheckpoint(true)
      // the fine codebook is ≤ 2^18 rows (the argmin-encoding cap) —
      // broadcast-sized by construction, so the candidate equi-join
      // never shuffles the corpus side
      val cand = vcell.join(broadcast(fcell), "cell")
        .select(col("vec_id"), (dist * kmEncK + col("fk")).as("key"))
        .groupBy(col("vec_id")).agg(min(col("key")).as("key"))
        .withColumn("orphan", lit(0L))
      val orph = vcell
        .join(fcell.select(col("cell")).distinct(), Seq("cell"), "left_anti")
        .crossJoin(broadcast(fc))
        .select(col("vec_id"), (dist * kmEncK + col("fk")).as("key"))
        .groupBy(col("vec_id")).agg(min(col("key")).as("key"))
        .withColumn("orphan", lit(1L))
      cand.union(orph).join(vcell, "vec_id")
        .select(col("vec_id") +: (0 until kmDims).map(i => col(s"q$i")) :+
          (col("key") % kmEncK).as("fk") :+
          expr(s"key div $kmEncK").as("dist") :+ col("orphan"): _*)
    }
    for (_ <- 1 to kmIters) {
      val mCols = (0 until kmDims).map(i =>
        expr(s"sum(q$i) div count(1)").as(s"m$i"))
      fine = seededAssign(fine).groupBy(col("fk"))
        .agg(mCols.head, mCols.tail: _*)
    }
    seededAssign(fine)
  }

  /** DuckDB mirror of [[kmeansSeededAssign]]: extends kmeansCte(8)
    * (the shared coarse trajectory — c$kmIters is the static coarse
    * codebook, fin the vectors' cells) with the fine chain: per round,
    * fine→cell argmin (fc$r), cell-equi-join candidate argmin (ca$r),
    * full-scan orphan fallback (or$r), union (a$r), truncating-mean
    * update (f$r); round kmIters+1 is the final assignment. */
  // lazy: references semKSql, which is declared later in this object —
  // a plain val would capture null at object-init order
  private lazy val kmeansSeededCtes: String = {
    val qList = (0 until kmDims).map(i => s"q$i").mkString(", ")
    val mList = (0 until kmDims).map(i => s"m$i").mkString(", ")
    def distSql(v: String, c: String) = (0 until kmDims)
      .map(i => s"($v.q$i - $c.m$i) * ($v.q$i - $c.m$i)").mkString(" + ")
    def distMm(v: String, c: String) = (0 until kmDims)
      .map(i => s"($v.m$i - $c.m$i) * ($v.m$i - $c.m$i)").mkString(" + ")
    def roundCtes(r: Int): String =
      s"""fc$r AS (SELECT fk, cell, $mList FROM (
            SELECT *, row_number() OVER (PARTITION BY fk
              ORDER BY fdist, cell) AS rk FROM (
              SELECT f.fk, c.ck AS cell, ${(0 until kmDims)
        .map(i => s"f.m$i").mkString(", ")},
                ${distMm("f", "c")} AS fdist
              FROM f${r - 1} f CROSS JOIN c$kmIters c))
          WHERE rk = 1),
        ca$r AS (SELECT vec_id, fk, dist, 0 AS orphan FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY dist, fk) AS rk FROM (
              SELECT v.vec_id, g.fk, ${distSql("v", "g")} AS dist
              FROM vc v JOIN fc$r g ON v.cell = g.cell))
          WHERE rk = 1),
        or$r AS (SELECT vec_id, fk, dist, 1 AS orphan FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY dist, fk) AS rk FROM (
              SELECT v.vec_id, f.fk, ${distSql("v", "f")} AS dist
              FROM vc v CROSS JOIN f${r - 1} f
              WHERE v.cell NOT IN (SELECT cell FROM fc$r)))
          WHERE rk = 1),
        sa$r AS (SELECT u.vec_id, u.fk, u.dist, u.orphan, $qList
          FROM (SELECT * FROM ca$r UNION ALL SELECT * FROM or$r) u
          JOIN vc v USING (vec_id))"""
    val updates = (1 to kmIters).map(r =>
      s"""${roundCtes(r)},
        f$r AS (SELECT fk, ${(0 until kmDims)
        .map(i => s"sum(q$i) // count(*) AS m$i").mkString(", ")}
          FROM sa$r GROUP BY fk)""").mkString(",\n        ")
    s"""vc AS (SELECT x.vec_id, $qList, f.ck AS cell
          FROM x JOIN fin f USING (vec_id)),
        f0 AS (SELECT vec_id AS fk, ${(0 until kmDims)
      .map(i => s"q$i AS m$i").mkString(", ")}
          FROM x WHERE vec_id < $semKSql),
        $updates,
        ${roundCtes(kmIters + 1)}"""
  }

  /** DuckDB mirror of [[kmeansAssign]]: CTEs `x` (quantized vectors)
    * through `fin` (vec_id, ck, dist) — shared by both k-means-backed
    * oracles so the trajectories cannot drift. `kExpr` is the centroid
    * count as a SQL expression (a literal for q_kmeans_lloyd, a scalar
    * subquery over `x` for q_semantic_dedup's auto-k point). */
  private def kmeansCte(kExpr: String): String = {
    val qDefs = (0 until kmDims).map(i =>
      s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
        s" AS BIGINT) AS q$i").mkString(", ")
    val qList = (0 until kmDims).map(i => s"q$i").mkString(", ")
    def distSql(v: String, c: String) = (0 until kmDims)
      .map(i => s"($v.q$i - $c.m$i) * ($v.q$i - $c.m$i)").mkString(" + ")
    def assignCte(name: String, prev: String) =
      s"""$name AS (SELECT vec_id, ck, $qList, dist FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist, ck) AS rk FROM (
            SELECT v.vec_id, c.ck, ${(0 until kmDims)
        .map(i => s"v.q$i").mkString(", ")},
              ${distSql("v", "c")} AS dist
            FROM x v CROSS JOIN $prev c))
        WHERE rk = 1)"""
    def updateCte(name: String, prev: String) =
      s"""$name AS (SELECT ck, ${(0 until kmDims)
        .map(i => s"sum(q$i) // count(*) AS m$i").mkString(", ")}
        FROM $prev GROUP BY ck)"""
    val rounds = (1 to kmIters).flatMap(r => Seq(
      assignCte(s"a$r", s"c${r - 1}"),
      updateCte(s"c$r", s"a$r"))).mkString(",\n        ")
    s"""x AS (SELECT vec_id, $qDefs FROM embeddings),
        c0 AS (SELECT vec_id AS ck, ${(0 until kmDims)
      .map(i => s"q$i AS m$i").mkString(", ")} FROM x WHERE vec_id < $kExpr),
        $rounds,
        fin AS (SELECT vec_id, ck, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY dist, ck) AS rk FROM (
              SELECT v.vec_id, c.ck, ${distSql("v", "c")} AS dist
              FROM x v CROSS JOIN c$kmIters c))
          WHERE rk = 1)"""
  }
  private val kmeansCtePrelude: String = kmeansCte(kmK.toString)

  /** SemDeDup operating point (VERDICT r11 directive 4): k ≈ n /
    * target-cell so the expected within-cluster pair fan stays constant
    * as the corpus grows — the paper's own production rule, folded into
    * the operator the way q_knn_graph_clusters carries its √n point.
    * n comes from parquet footer statistics (no Spark job); the floor
    * keeps the small-SF trajectory identical to q_kmeans_lloyd's k=8. */
  private val semTargetCell = 200L
  /** √k coarse-book size for [[kmeansSeededAssign]] (r13): kc = max(8,
    * ⌈√k⌉) from the same footer-stats k as [[semK]]. ceil∘sqrt over an
    * exact integer < 2⁵² is correctly-rounded IEEE in both engines —
    * the [[semKcSql]] scalar subquery derives the identical value. */
  private def semKc(s: SparkSession, d: String): Long =
    math.max(kmK.toLong,
      math.ceil(math.sqrt(semK(s, d).toDouble)).toLong)
  private def semK(s: SparkSession, d: String): Long =
    // SPARK_GRAFT_SEM_K: measurement-only override (ScaleProof's
    // fixed-k-vs-auto-k comparison rows in TUNING.md); the oracle knows
    // nothing of it, so Verify.main REFUSES to run while it is set —
    // the gate can never see an engine-divergent k.
    sys.env.get("SPARK_GRAFT_SEM_K").map(_.toLong).getOrElse(
      math.max(kmK.toLong,
        graft.tables.Tables.rowCount(s, d, "embeddings") / semTargetCell))
  /** Oracle form of [[semK]]: a scalar subquery over the quantized CTE
    * `x`, so both engines derive k from the same corpus. */
  private val semKSql: String =
    s"(SELECT greatest($kmK, count(*) // $semTargetCell) FROM x)"
  /** Oracle form of [[semKc]]: the √k coarse-book size from the same
    * scalar subquery over `x`. */
  private val semKcSql: String =
    s"(SELECT greatest($kmK, CAST(ceil(sqrt(CAST(greatest($kmK," +
      s" count(*) // $semTargetCell) AS DOUBLE))) AS BIGINT)) FROM x)"

  // ---- PCA family shared machinery (q_pca_power / q_pca_deflate /
  // q_pca_whiten) — integer power iteration on the exact covariance of
  // the e6-quantized first 8 embedding dims. Everything below is exact
  // integer arithmetic replayed verbatim by the DuckDB CTE builders, so
  // the three queries walk the identical eigenvector trajectory.
  private val pcaDims = 8

  /** The e6-quantized first-8-dim frame (x0..x7) — the one corpus scan
    * the moment agg and q_pca_whiten's projection scan share. */
  private def pcaQuant(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select((0 until pcaDims).map(i =>
      round(element_at(col("embedding"), i + 1).cast("double")
        * lit(1000000), 0).cast("long").as(s"x$i")): _*)

  /** Exact integer covariance, both triangles: one 44-moment map-side
    * agg over the corpus, then a_ij = (n·p_ij − s_i·s_j) div n² on the
    * constant 8×8 frame (checkpointed — every matvec round reads it).
    * The x_i·x_j products are summed as DECIMAL(38,0), not Long: with
    * |x| up to 1e6 each product reaches ~1e12, so a Long sum would wrap
    * silently past ~9e6 rows while the DuckDB mirror auto-promotes to
    * HUGEINT — the decimal cast keeps the engines aligned at any row
    * count instead of only below the wrap point. */
  private def pcaCovFull(s: SparkSession, d: String): DataFrame = {
    val base = pcaQuant(s, d)
    val aggs = Seq(count(lit(1)).as("n")) ++
      (0 until pcaDims).map(i => sum(col(s"x$i")).as(s"s$i")) ++
      (for { i <- 0 until pcaDims; j <- i until pcaDims }
        yield sum(col(s"x$i").cast("decimal(38,0)") * col(s"x$j"))
          .as(s"p${i}_$j"))
    val m = base.agg(aggs.head, aggs.tail: _*)
    val entries = (for { i <- 0 until pcaDims; j <- i until pcaDims }
      yield s"$i, $j, p${i}_$j, s$i, s$j").mkString(", ")
    val cov = m.selectExpr("n",
        s"stack(${pcaDims * (pcaDims + 1) / 2}, $entries)" +
          " AS (i, j, pij, si, sj)")
      .select(col("i"), col("j"),
        expr("(CAST(n AS DECIMAL(38,0)) * pij" +
          " - CAST(si AS DECIMAL(38,0)) * sj)" +
          " div (CAST(n AS DECIMAL(38,0)) * n)").as("a"))
    cov.unionAll(cov.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("a")))
      .localCheckpoint(true)
  }

  private def pcaMatvec(aFull: DataFrame, x: DataFrame): DataFrame =
    aFull.join(x.select(col("i").as("j"), col("x")), "j")
      .groupBy(col("i"))
      .agg(expr("CAST(sum(CAST(a AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))")
        .as("y"))

  /** Deterministic div-rescale: iterate entries back under ~1e6 so the
    * next matvec cannot overflow (mechanical overflow guard — the
    * q_eigen_centrality lesson). */
  private def pcaRescale(y: DataFrame): DataFrame = {
    val sc = y.agg(max(abs(col("y"))).as("m"))
      .select(expr("CAST(m div 1000000 + 1 AS DECIMAL(38,0))").as("sc"))
    y.crossJoin(broadcast(sc))
      .select(col("i"), expr("CAST(y div sc AS BIGINT)").as("x"))
  }

  /** Three power-iteration rounds from the all-ones start: returns
    * (y3 = A·x2 checkpointed, λ_pico Rayleigh quotient as a 1-row
    * frame). The intermediate iterates stay internal — callers consume
    * only the converged direction and its eigenvalue. */
  private def pcaChain(aFull: DataFrame): (DataFrame, DataFrame) = {
    val x0 = aFull.select(col("i")).distinct()
      .select(col("i"), lit(1L).as("x"))
    val x1 = pcaRescale(pcaMatvec(aFull, x0)).localCheckpoint(true)
    val x2 = pcaRescale(pcaMatvec(aFull, x1)).localCheckpoint(true)
    val x3 = pcaMatvec(aFull, x2)
      .select(col("i"), expr("CAST(y AS DECIMAL(38,0))").as("y"))
      .localCheckpoint(true)
    val lam = x3.join(x2.select(col("i"), col("x")), "i")
      .agg(expr("CAST(sum(y * x) div sum(CAST(x AS DECIMAL(38,0)) * x)" +
        " AS BIGINT)").as("lam_pico"))
    (x3, lam)
  }

  /** Deflated matrix A′ = A − λ₁·v₁v₁ᵀ/v₁ᵀv₁ entirely in integer
    * arithmetic (one div per cell on the constant 8×8 frame); v₁ is the
    * converged first iterate rescaled back under ~1e6 (the overflow
    * guard doubles as the deflation scale). Shared by q_pca_deflate and
    * q_pca_whiten so the second component cannot drift between them. */
  private def pcaDeflate(aFull: DataFrame, x3a: DataFrame,
      lam1: DataFrame): DataFrame = {
    val v1 = pcaRescale(x3a.select(col("i"), col("y")))
      .localCheckpoint(true) // deflation reads it twice (i and j side)
    val vtv = v1.agg(expr(
      "CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))")
      .as("vtv"))
    aFull
      .join(v1.select(col("i"), col("x").as("vi")), "i")
      .join(v1.select(col("i").as("j"), col("x").as("vj")), "j")
      .crossJoin(broadcast(lam1)).crossJoin(broadcast(vtv))
      .select(col("i"), col("j"),
        expr("CAST(CAST(a AS DECIMAL(38,0))" +
          " - (CAST(lam_pico AS DECIMAL(38,0)) * vi * vj) div vtv" +
          " AS DECIMAL(38,0))").as("a"))
      .localCheckpoint(true) // second chain's three matvecs read it
  }

  /** Loadings of a converged iterate, ppm-normalized by max |entry|:
    * (i, <name>) — the family's one output normalization. */
  private def pcaLoadPpm(x3: DataFrame, name: String): DataFrame = {
    val mx = x3.agg(max(abs(col("y"))).as("m3"))
    x3.crossJoin(broadcast(mx))
      .select(col("i"),
        expr("CAST((y * 1000000) div m3 AS BIGINT)").as(name))
  }

  /** DuckDB mirror of [[pcaCovFull]]: CTEs `x`, `m`, `covu`, `af`. */
  private val pcaCovCte: String = {
    val xDefs = (0 until pcaDims).map(i =>
      s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
        s" AS BIGINT) AS x$i").mkString(", ")
    val sDefs = (0 until pcaDims).map(i => s"sum(x$i) AS s$i").mkString(", ")
    val pDefs = (for { i <- 0 until pcaDims; j <- i until pcaDims }
      yield s"sum(x$i * x$j) AS p${i}_$j").mkString(", ")
    val covUnions = (for { i <- 0 until pcaDims; j <- i until pcaDims } yield
      s"SELECT $i AS i, $j AS j, (CAST(n AS HUGEINT) * p${i}_$j" +
        s" - CAST(s$i AS HUGEINT) * s$j) // (CAST(n AS HUGEINT) * n)" +
        s" AS a FROM m").mkString(" UNION ALL ")
    s"""x AS (SELECT $xDefs FROM embeddings),
        m AS MATERIALIZED (SELECT count(*) AS n, $sDefs, $pDefs FROM x),
        covu AS ($covUnions),
        af AS MATERIALIZED (SELECT i, j, a FROM covu
          UNION ALL SELECT j, i, a FROM covu WHERE i <> j)"""
  }

  /** DuckDB mirror of [[pcaChain]] over matrix CTE `$af`: defines
    * `${p}x0..${p}y3` plus `${p}lam(lam_pico)` — the prefix lets the
    * deflated second chain coexist with the first in one WITH list. */
  private def pcaChainCte(af: String, p: String): String =
    s"""${p}x0 AS (SELECT DISTINCT i, CAST(1 AS HUGEINT) AS x FROM $af),
        ${p}y1 AS MATERIALIZED (SELECT $af.i, sum(CAST(a AS HUGEINT) * ${p}x0.x) AS y
          FROM $af JOIN ${p}x0 ON $af.j = ${p}x0.i GROUP BY $af.i),
        ${p}s1 AS (SELECT max(abs(y)) // 1000000 + 1 AS sc FROM ${p}y1),
        ${p}x1 AS MATERIALIZED (SELECT i, y // sc AS x FROM ${p}y1 CROSS JOIN ${p}s1),
        ${p}y2 AS MATERIALIZED (SELECT $af.i, sum(CAST(a AS HUGEINT) * ${p}x1.x) AS y
          FROM $af JOIN ${p}x1 ON $af.j = ${p}x1.i GROUP BY $af.i),
        ${p}s2 AS (SELECT max(abs(y)) // 1000000 + 1 AS sc FROM ${p}y2),
        ${p}x2 AS MATERIALIZED (SELECT i, y // sc AS x FROM ${p}y2 CROSS JOIN ${p}s2),
        ${p}y3 AS MATERIALIZED (SELECT $af.i, sum(CAST(a AS HUGEINT) * ${p}x2.x) AS y
          FROM $af JOIN ${p}x2 ON $af.j = ${p}x2.i GROUP BY $af.i),
        ${p}lam AS MATERIALIZED (SELECT CAST(sum(${p}y3.y * ${p}x2.x)
            // sum(CAST(${p}x2.x AS HUGEINT) * ${p}x2.x) AS BIGINT)
            AS lam_pico
          FROM ${p}y3 JOIN ${p}x2 USING (i))"""

  /** DuckDB mirror of [[pcaDeflate]]: CTEs `v1sc`/`v1`/`vtv`/`af2` over
    * the first chain's `y3`/`lam` and matrix `af` — shared verbatim by
    * the q_pca_deflate and q_pca_whiten oracles. */
  private val pcaDeflateCte: String =
    """v1sc AS (SELECT max(abs(y)) // 1000000 + 1 AS sc FROM y3),
        v1 AS MATERIALIZED (SELECT i, y // sc AS x FROM y3 CROSS JOIN v1sc),
        vtv AS MATERIALIZED (SELECT sum(CAST(x AS HUGEINT) * x) AS vtv FROM v1),
        af2 AS MATERIALIZED (SELECT af.i, af.j,
            CAST(a AS HUGEINT)
              - (CAST(lam_pico AS HUGEINT) * va.x * vb.x) // vtv AS a
          FROM af JOIN v1 va ON af.i = va.i JOIN v1 vb ON af.j = vb.i
          CROSS JOIN lam CROSS JOIN vtv)"""

  /** Shared body of q_setsim_prefix_join / q_setsim_prefix_sampled: the
    * AllPairs/PPJoin prefix-filtered set-similarity join, with an optional
    * pair-sampling predicate applied AT THE CANDIDATE JOIN — upstream of
    * the distinct and the exact verification join, so the sampled audit
    * pays ~1/16 of the quadratic-output cost, not just 1/16 of the final
    * output. */
  private[graft] def setsimPrefixJoin(s: SparkSession, d: String,
      sampled: Boolean,
      sampleNibbles: Seq[String] = Seq("0")): DataFrame = {
    // r17 opt (guide §2.3, shuffle fewer bytes): every downstream
    // exchange (df agg, prefix window sort, candidate self-join, both
    // verify-join sides) carries the compacted 8-byte key instead of the
    // ~18-byte shingle. The rare-first window order becomes (df, sid)
    // instead of (df, sh) — a DIFFERENT but equally valid global total
    // order (the prefix principle needs only SOME fixed total order; see
    // the positional-filter proof below), so the candidate set may
    // differ while the verified result is identical — the brute-force
    // oracle is the proof.
    val sh = KeyCompaction.compact(graft.llm.TextDedup
      .shingleTable(documents(s, d), "doc_id", "text", 3), "sh")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // rare-first order needs only SOME global total order on
    // (df, shingle) — sorting the per-doc window by the pair directly
    // avoids a single-partition row_number over the whole vocabulary;
    // doc size rides the same window partition (one shuffle, two
    // window passes)
    val df_ = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val prefix = sh.join(df_, "sh")
      .withColumn("pos",
        row_number().over(wDoc.orderBy(col("df"), col("sh"))))
      .withColumn("sz", count(lit(1)).over(wDoc))
      .filter(col("pos") <= col("sz") - expr("(sz + 1) div 2") + 1)
      .select(col("doc_id"), col("sh"), col("sz"), col("pos"))
      // NOT checkpointed although both candidate-join sides read it —
      // measured r16 opt: eagerly materializing the window serializes two
      // passes that otherwise overlap inside the candidate-join job
      // (5.3 s vs 3.7 s min-of-3 at sf0.1); the shuffle below the window
      // is exchange-reused, so the duplicate work is the window exec only
    // AllPairs size filter: jacc ≥ 0.5 forces min ≥ max/2, so the
    // candidate join prunes size-incompatible pairs before distinct.
    // PPJoin positional filter (Xiao et al., "Efficient Similarity Joins
    // for Near Duplicate Detection"): a true pair's FIRST common shingle
    // (rare-first order) lies in both prefixes, and every other common
    // shingle sits strictly after it in both docs, so
    //   overlap ≤ 1 + min(sz_a − pos_a, sz_b − pos_b)
    // at that match. jacc ≥ 0.5 needs overlap ≥ (sz_a+sz_b)/3, so any
    // match whose positional upper bound misses the integer form
    // 3·ubound ≥ sz_a+sz_b cannot be the first common shingle of a
    // result pair — pruning it is lossless (the brute-force oracle is
    // unchanged and equality IS the proof).
    val joinCond = col("pa.sh") === col("pb.sh") &&
      col("pa.doc_id") < col("pb.doc_id") &&
      (least(col("pa.sz"), col("pb.sz")) * 2
        >= greatest(col("pa.sz"), col("pb.sz"))) &&
      ((lit(1) + least(col("pa.sz") - col("pa.pos"),
        col("pb.sz") - col("pb.pos"))) * 3
        >= col("pa.sz") + col("pb.sz"))
    val sampledCond =
      if (sampled) joinCond && pairSampleNibbles(
        col("pa.doc_id"), col("pb.doc_id"), sampleNibbles)
      else joinCond
    val cand = prefix.as("pa")
      .join(prefix.as("pb"), sampledCond)
      .select(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .distinct()
    val shB = sh.select(col("doc_id").as("bid"), col("sh").as("shb"))
    val inter = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
      .join(shB,
        col("id_b") === col("bid") && col("sh") === col("shb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
      .filter(col("inter") * 2 >= col("sza") + col("szb") - col("inter"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double")
          / (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Overlap-coefficient (containment) set-similarity join:
    * ov(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.8 — the quote/subset detector.
    * Same prefix machinery as [[setsimPrefixJoin]], different threshold
    * algebra: the required overlap α = ⌈0.8·min⌉ depends on the SMALLER
    * side only, so the prefix (sz − ⌈0.8·sz⌉ + 1 rare-first shingles)
    * lives on the smaller side and probes the larger side's FULL
    * positioned shingle list (containment admits any size ratio — there
    * is no AllPairs size filter). Prefix principle: |A∩B| ≥ α means at
    * least one common shingle sits inside the first |A| − α + 1 of A in
    * ANY fixed global order, so prefix(small) ⋈ full(large) is
    * candidate-complete. The positional bound still holds at the first
    * common shingle: overlap ≤ 1 + min(szS−posS, szL−posL), so matches
    * that cannot reach 5·(1+min) ≥ 4·szS die before verification —
    * lossless, and the brute-force oracle equality is the proof. */
  private[graft] def setsimOverlapJoin(s: SparkSession, d: String,
      sampled: Boolean = false,
      sampleNibbles: Seq[String] = Seq("0")): DataFrame = {
    // key compaction as in setsimPrefixJoin: the candidate set may
    // shift with the (df, sid) order, but the verified containment
    // result is identical (brute-force oracle)
    val sh = KeyCompaction.compact(graft.llm.TextDedup
      .shingleTable(documents(s, d), "doc_id", "text", 3), "sh")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val df_ = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val positioned = sh.join(df_, "sh")
      .withColumn("pos",
        row_number().over(wDoc.orderBy(col("df"), col("sh"))))
      .withColumn("sz", count(lit(1)).over(wDoc))
      .select(col("doc_id"), col("sh"), col("sz"), col("pos"))
      // NOT checkpointed (same measured inversion as setsimPrefixJoin:
      // the two window passes overlap inside the join job; an eager
      // checkpoint serializes them and lost ~0.7 s at sf0.1)
    // smaller-side prefix: pos ≤ sz − ⌈4·sz/5⌉ + 1 (⌈4n/5⌉ = (4n+4) div 5)
    val prefix = positioned
      .filter(col("pos") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
    // orientation: pa is the smaller side (ties broken by doc_id), so
    // α = ⌈0.8·pa.sz⌉ and the positional upper bound reads
    // 5·(1 + min(szS−posS, szL−posL)) ≥ 4·szS
    val baseCond = col("pa.sh") === col("pb.sh") &&
      (col("pa.sz") < col("pb.sz") ||
        (col("pa.sz") === col("pb.sz") && col("pa.doc_id") < col("pb.doc_id"))) &&
      ((lit(1) + least(col("pa.sz") - col("pa.pos"),
        col("pb.sz") - col("pb.pos"))) * 5 >= col("pa.sz") * 4)
    // the 1/16 audit stratum keys on the CANONICAL id_a < id_b pair
    // orientation (the join's orientation is by size, so re-orient the
    // sample key with least/greatest), injected AT the candidate join —
    // upstream of distinct and exact verification, like the sibling
    // prefix/simhash/minhash audits
    val joinCond =
      if (sampled) baseCond && pairSampleNibbles(
        least(col("pa.doc_id"), col("pb.doc_id")),
        greatest(col("pa.doc_id"), col("pb.doc_id")), sampleNibbles)
      else baseCond
    val cand = prefix.as("pa")
      .join(positioned.as("pb"), joinCond)
      .select(least(col("pa.doc_id"), col("pb.doc_id")).as("id_a"),
        greatest(col("pa.doc_id"), col("pb.doc_id")).as("id_b"))
      .distinct()
    val shB = sh.select(col("doc_id").as("bid"), col("sh").as("shb"))
    val inter = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh")), "id_a")
      .join(shB,
        col("id_b") === col("bid") && col("sh") === col("shb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
      .filter(col("inter") * 5 >= least(col("sza"), col("szb")) * 4)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double")
          / least(col("sza"), col("szb")), 6).as("overlap_coeff"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared body of q_lang_id / q_lang_confusion: per-doc predicted
    * language via corpus-mined token profiles (majority token vote,
    * deterministic row_number ties throughout). */
  private def langIdFrame(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
    // token → most frequent language for it (profile)
    val profile = tok.groupBy(col("tok"), col("lang")).agg(count(lit(1)).as("n"))
    val wP = Window.partitionBy(col("tok")).orderBy(col("n").desc, col("lang"))
    val tokLang = profile.withColumn("rn", row_number().over(wP))
      .filter(col("rn") === 1)
      .select(col("tok"), col("lang").as("tok_lang"))
    // doc → majority vote of token languages
    val votes = tok.select(col("doc_id"), col("lang"), col("tok"))
      .join(tokLang, "tok")
      .groupBy(col("doc_id"), col("lang"), col("tok_lang"))
      .agg(count(lit(1)).as("votes"))
    val wV = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("tok_lang"))
    votes.withColumn("rn", row_number().over(wV))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("tok_lang").as("pred_lang"),
        (col("lang") === col("tok_lang")).cast("long").as("correct"))
  }

  /** Shared body of q_simhash_hamming_join / q_simhash_hamming_sampled:
    * 32-bit simhash over distinct tokens, 4×8-bit band pigeonhole
    * candidates (Hamming ≤ 3 ⇒ ≥1 identical band), bit_count(xor)
    * verify. The optional 1/16 pair sample is injected AT the candidate
    * join — upstream of distinct and verification — so the sampled
    * audit pays ~1/16 of the whole pipeline past the fingerprint scan.
    * Unlike the shingle families (where the join-time work per
    * candidate is a whole verification sub-join, so a per-candidate
    * md5 over the id pair is cheap relative to what it skips), the
    * simhash verify is ONE bit_count — so the sample predicate here
    * must be cheaper still: each doc's md5 nibble is computed ONCE in
    * the checkpointed fingerprint frame, and the pair stratum is the
    * integer test (nib_a + nib_b) % 16 = 0 at the join (exactly 1/16
    * of nibble pairs: sum ≡ 0 (mod 16) has 16 of the 256 outcomes).
    * Deterministic, cross-engine, and join-time cost = one add+mod. */
  private[graft] def simhashHammingJoin(s: SparkSession, d: String,
      sampled: Boolean): DataFrame = {
    val hv = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("hv",
        conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long"))
    val voteCols = count(lit(1)).as("n") +: (0 until 32).map(j =>
      sum(shiftright(col("hv"), j).bitwiseAND(lit(1L))).as(s"s$j"))
    // materialize the fingerprint table ONCE: bands feeds BOTH sides of
    // the self-join below, and without truncation Spark plans the
    // explode → 33-aggregate vote → posexplode subtree twice (the same
    // shared-frame precedent as the prefix joins' checkpointed shingle
    // tables at setsimPrefixJoin/setsimOverlapJoin) — measured at sf0.1
    // this halves the join and makes the 1/16 sampled audit actually
    // cost ~1/16 of the candidate phase instead of refingerprinting.
    val fp = hv.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
            when(col(s"s$j") * 2 > col("n"), lit(1L << j))
              .otherwise(lit(0L)))
          .reduce(_ + _).as("fp"),
        docSampleNibble(col("doc_id")).as("nib"))
      .localCheckpoint(true)
    val bands = fp.select(col("doc_id"), col("fp"), col("nib"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), b * 8).bitwiseAND(lit(255L))): _*)))
      .toDF("doc_id", "fp", "nib", "band_idx", "band_val")
    val baseCond = col("a.band_idx") === col("b.band_idx") &&
      col("a.band_val") === col("b.band_val") &&
      col("a.doc_id") < col("b.doc_id")
    val joinCond =
      if (sampled) baseCond &&
        (col("a.nib") + col("b.nib")) % 16 === lit(0L)
      else baseCond
    // verify BEFORE the pair-dedup (r16 opt, the symspell ordering):
    // hamming is a per-pair function, so filtering first is
    // result-identical and the distinct shuffles only true Hamming ≤ 3
    // pairs instead of every band-collision candidate
    bands.as("a")
      .join(bands.as("b"), joinCond)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** 64-bit simhash Hamming ≤ 3 join — the production fingerprint
    * density for near-dup at 10⁹+ documents. At 32 bits the random
    * collision rate P(Hamming ≤ 3) = Σ_{i≤3} C(32,i)/2³² ≈ 1.3·10⁻⁶
    * admits ~10¹¹ spurious pairs over a billion-doc corpus; at 64 bits
    * the same sum is ≈ 2.4·10⁻¹⁵ — a few thousand, all killed by
    * verification. The fingerprint is held as two 32-bit words (hi =
    * md5 hex chars 1–8, lo = chars 9–16 — both engines build the same
    * words; a single 64-bit Horner would overflow DuckDB's BIGINT),
    * majority-voted per bit over DISTINCT tokens. Candidates via 4×16-bit
    * band pigeonhole (3 differing bits touch ≤ 3 of the 4 bands, so a
    * Hamming ≤ 3 pair agrees exactly on ≥ 1 band), then bit_count
    * verification — never all-pairs. The md5 token hash keeps the
    * DuckDB oracle byte-identical; the map-only production variant of
    * this fingerprint is the codegen'd [[graft.functions.SimHash64]]
    * expression (xxhash64-based, differential-tested against the
    * relational form in SimHashExpressionSpec). */
  private[graft] def simhash64HammingJoin(s: SparkSession, d: String): DataFrame = {
    val md = md5(col("tok").cast("binary"))
    val hv = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md, 1, 8), 16, 10).cast("long").as("hv_hi"),
        conv(substring(md, 9, 8), 16, 10).cast("long").as("hv_lo"))
    val voteCols = count(lit(1)).as("n") +:
      ((0 until 32).map(j =>
        sum(shiftright(col("hv_hi"), j).bitwiseAND(lit(1L))).as(s"h$j")) ++
       (0 until 32).map(j =>
        sum(shiftright(col("hv_lo"), j).bitwiseAND(lit(1L))).as(s"l$j")))
    def pack(pfx: String) = (0 until 32).map(j =>
        when(col(s"$pfx$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val fp = hv.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), pack("h").as("fp_hi"), pack("l").as("fp_lo"))
      .localCheckpoint(true)
    val bands = fp.select(col("doc_id"), col("fp_hi"), col("fp_lo"),
      posexplode(array(
        shiftright(col("fp_hi"), 16).bitwiseAND(lit(65535L)),
        col("fp_hi").bitwiseAND(lit(65535L)),
        shiftright(col("fp_lo"), 16).bitwiseAND(lit(65535L)),
        col("fp_lo").bitwiseAND(lit(65535L)))))
      .toDF("doc_id", "fp_hi", "fp_lo", "band_idx", "band_val")
    // verify BEFORE the pair-dedup (see simhashHammingJoin)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (expr("bit_count(a.fp_hi ^ b.fp_hi)")
          + expr("bit_count(a.fp_lo ^ b.fp_lo)")).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** 128-bit simhash Hamming ≤ 3 join — the beyond-10⁹-docs fingerprint
    * density (NEXT.md r10 candidate): at 64 bits P(random Hamming ≤ 3)
    * ≈ 2.4·10⁻¹⁵ still admits a few thousand spurious candidate pairs
    * per 10⁹ docs; at 128 bits (≈ 1.0·10⁻³⁴) the expected spurious count
    * is zero at ANY corpus size — every surviving pair is structurally
    * near-identical. The md5 token hash supplies exactly 128 bits: the
    * fingerprint is four 32-bit words (hex chars 1–8, 9–16, 17–24,
    * 25–32), majority-voted per bit over DISTINCT tokens. The four words
    * themselves ARE the pigeonhole bands (Hamming ≤ 3 ⇒ ≥ 1 of the 4
    * 32-bit words identical), so banding needs no sub-word shifts, and
    * 32-bit band values make buckets another 65,536× finer than the
    * 64-bit join's 16-bit bands — the band-bucket fan-out that dominated
    * the 32-vs-64-bit 10× ScaleProof gap (462.6 s vs 17.0 s) shrinks
    * again. Verification: Σ bit_count(xor) over the 4 words ≤ 3. */
  private[graft] def simhash128HammingJoin(s: SparkSession, d: String): DataFrame = {
    val md = md5(col("tok").cast("binary"))
    val words = 4
    val hv = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id") +: (0 until words).map(k =>
        conv(substring(md, 1 + 8 * k, 8), 16, 10).cast("long")
          .as(s"hv$k")): _*)
    val voteCols = count(lit(1)).as("n") +:
      (0 until words).flatMap(k => (0 until 32).map(j =>
        sum(shiftright(col(s"hv$k"), j).bitwiseAND(lit(1L)))
          .as(s"v${k}_$j")))
    def pack(k: Int) = (0 until 32).map(j =>
        when(col(s"v${k}_$j") * 2 > col("n"), lit(1L << j))
          .otherwise(lit(0L)))
      .reduce(_ + _)
    val fp = hv.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id") +:
        (0 until words).map(k => pack(k).as(s"fp$k")): _*)
      .localCheckpoint(true)
    val bands = fp.select(col("doc_id") +:
        (0 until words).map(k => col(s"fp$k")) :+
        posexplode(array((0 until words).map(k => col(s"fp$k")): _*)): _*)
      .toDF(("doc_id" +: (0 until words).map(k => s"fp$k")) ++
        Seq("band_idx", "band_val"): _*)
    // verify BEFORE the pair-dedup (see simhashHammingJoin)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (0 until words).map(k => expr(s"bit_count(a.fp$k ^ b.fp$k)"))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Horner sum over 8 md5 hex nibbles starting at 1-based `start` —
    * the DuckDB twin of Spark's conv(substr(md5, start, 8), 16, 10). */
  private def md5NibbleHorner(start: Int): String =
    (start until start + 8).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1)")
      .zip(Seq(28, 24, 20, 16, 12, 8, 4, 0))
      .map { case (t, sh) => s"$t * ${1L << sh}" }.mkString(" + ")

  /** Majority-vote fingerprint terms over a 32-bit hash column. */
  private def simhashFpTerms(hvCol: String): String =
    (0 until 32).map(j =>
      s"(CASE WHEN 2 * sum(($hvCol // ${1L << j}) % 2) > count(*) " +
        s"THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** Brute-force DuckDB oracle of the 64-bit simhash Hamming join. */
  private def simhash64HammingOracle: String =
    s"""WITH toks AS (SELECT doc_id,
          unnest(list_distinct($tokensSql)) AS tok FROM documents),
      hv AS (SELECT doc_id,
          CAST(${md5NibbleHorner(1)} AS BIGINT) AS hv_hi,
          CAST(${md5NibbleHorner(9)} AS BIGINT) AS hv_lo FROM toks),
      fps AS (SELECT doc_id,
          CAST(${simhashFpTerms("hv_hi")} AS BIGINT) AS fp_hi,
          CAST(${simhashFpTerms("hv_lo")} AS BIGINT) AS fp_lo
        FROM hv GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.fp_hi, b.fp_hi))
          + bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp_hi, b.fp_hi))
          + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
      ORDER BY id_a, id_b"""

  /** Brute-force DuckDB oracle of the 128-bit simhash Hamming join:
    * four Horner words over all 32 md5 hex nibbles, per-word
    * majority-vote fingerprints, all-pairs 4-word bit_count(xor) ≤ 3. */
  private def simhash128HammingOracle: String = {
    val hvCols = (0 until 4).map(k =>
      s"CAST(${md5NibbleHorner(1 + 8 * k)} AS BIGINT) AS hv$k").mkString(",\n          ")
    val fpCols = (0 until 4).map(k =>
      s"CAST(${simhashFpTerms(s"hv$k")} AS BIGINT) AS fp$k").mkString(",\n          ")
    val hamming = (0 until 4).map(k =>
      s"bit_count(xor(a.fp$k, b.fp$k))").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
          unnest(list_distinct($tokensSql)) AS tok FROM documents),
      hv AS (SELECT doc_id,
          $hvCols FROM toks),
      fps AS (SELECT doc_id,
          $fpCols
        FROM hv GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST($hamming AS BIGINT) AS hamming
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE $hamming <= 3
      ORDER BY id_a, id_b"""
  }

  /** Brute-force DuckDB oracle of the simhash Hamming join: token hash
    * = Horner over the first 8 md5 nibbles (the same 32-bit int Spark's
    * conv(substr(md5, 1, 8), 16, 10) produces), majority-vote
    * fingerprint, all-pairs bit_count(xor) ≤ 3 — with the optional
    * per-doc-nibble sample stratum ((nib_a + nib_b) % 16 = 0, the
    * cheap-predicate form: see [[docSampleNibble]]). */
  private def simhashHammingOracle(sampled: Boolean): String = {
    val nib = md5NibbleHorner(1)
    val fpTerms = simhashFpTerms("hv")
    val sample = if (sampled)
      "\n          AND (a.nib + b.nib) % 16 = 0"
    else ""
    s"""WITH toks AS (SELECT doc_id,
            unnest(list_distinct($tokensSql)) AS tok FROM documents),
        hv AS (SELECT doc_id, CAST($nib AS BIGINT) AS hv FROM toks),
        fps AS (SELECT doc_id, CAST($fpTerms AS BIGINT) AS fp,
            ${docSampleNibbleSql("doc_id")} AS nib
          FROM hv GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3$sample
        ORDER BY id_a, id_b"""
  }

  /** Shared body of q_jaccard_weighted / q_jaccard_weighted_prefix:
    * idf-weighted Jaccard over source-blocked shingles; identical
    * output either way. `prefixFiltered` swaps the candidate
    * generation: the direct shared-shingle equi-join (accumulating
    * inter_w in the same pass) vs the weighted AllPairs prefix join
    * (prune first, verify survivors) — see the two QDefs' docs for the
    * threshold algebra and the measured crossover. */
  private[graft] def jaccardWeightedJoin(s: SparkSession, d: String,
      prefixFiltered: Boolean): DataFrame = {
    val docs = documents(s, d)
    val nDocs = graft.tables.Tables.rowCount(s, d, "documents")
    val sh = graft.llm.TextDedup
      .shingleTable(docs, "doc_id", "text", 3, blockCols = Seq("source"))
      .localCheckpoint(true)
    val wsh = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .withColumn("w",
        round(log(lit(nDocs.toDouble) / col("df")) * 100, 0).cast("long"))
      .select(col("sh"), col("w"))
    val shw = sh.join(wsh, "sh")
    val wsum = shw.groupBy(col("doc_id")).agg(sum(col("w")).as("wsum"))
    val inter =
      if (!prefixFiltered)
        shw.as("a").join(shw.as("b"),
            col("a.sh") === col("b.sh") &&
              col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.w")).as("inter_w"))
      else {
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
        // one window pass: the suffix weight under the rare-first order;
        // the doc total rides in via the wsum join (already computed for
        // the final scores) instead of a second unordered window
        val positioned = shw
          .withColumn("sfx", sum(col("w")).over(
            wDoc.orderBy(col("w").desc, col("sh"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
                org.apache.spark.sql.expressions.Window.unboundedFollowing)))
          .join(wsum, "doc_id")
        val prefix = positioned.filter(col("sfx") * 2 >= col("wsum"))
          .select(col("doc_id"), col("source"), col("sh"),
            col("wsum").as("tw"))
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.sh") === col("b.sh") &&
              col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id") &&
              (least(col("a.tw"), col("b.tw")) * 2
                >= greatest(col("a.tw"), col("b.tw"))))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        cand
          .join(shw.select(col("doc_id").as("id_a"), col("sh"), col("w")), "id_a")
          .join(shw.select(col("doc_id").as("bid"), col("sh").as("shb")),
            col("id_b") === col("bid") && col("sh") === col("shb"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(col("w")).as("inter_w"))
      }
    inter
      .join(wsum.select(col("doc_id").as("id_a"), col("wsum").as("wa")), "id_a")
      .join(wsum.select(col("doc_id").as("id_b"), col("wsum").as("wb")), "id_b")
      .withColumn("union_w", col("wa") + col("wb") - col("inter_w"))
      .filter(col("union_w") > 0 && col("inter_w") * 2 >= col("union_w"))
      .select(col("id_a"), col("id_b"),
        expr("(inter_w * 1000000) div union_w").as("wj_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force oracle shared by both weighted-Jaccard variants —
    * prefix losslessness means ONE reference result. */
  private val jaccardWeightedOracle: String =
    s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS toks
        FROM documents),
      shingles AS (SELECT doc_id, source, unnest(list_distinct(
          list_transform(range(len(toks) - 2),
            i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
        FROM toks WHERE len(toks) >= 3),
      n AS (SELECT count(*) AS n_docs FROM documents),
      wsh AS (SELECT sh,
          CAST(round(ln(CAST(n.n_docs AS DOUBLE) / count(*)) * 100, 0)
            AS BIGINT) AS w
        FROM shingles, n GROUP BY sh, n.n_docs),
      shw AS (SELECT doc_id, source, s.sh, w
        FROM shingles s JOIN wsh ON s.sh = wsh.sh),
      wsum AS (SELECT doc_id, sum(w) AS wsum FROM shw GROUP BY 1),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          sum(a.w) AS inter_w
        FROM shw a JOIN shw b ON a.sh = b.sh AND a.source = b.source
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
        CAST((inter_w * 1000000) // (wa.wsum + wb.wsum - inter_w)
          AS BIGINT) AS wj_ppm
      FROM pairs
      JOIN wsum wa ON id_a = wa.doc_id
      JOIN wsum wb ON id_b = wb.doc_id
      WHERE wa.wsum + wb.wsum - inter_w > 0
        AND 2 * inter_w >= wa.wsum + wb.wsum - inter_w
      ORDER BY id_a, id_b"""

  val all: Seq[QDef] = Seq(

    // ---- Deduplication -------------------------------------------------

    // Exact dedup by content hash: canonical keeper (min doc_id) per text.
    QDef("q_dedup_exact",
      (s, d) => documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("text_md5")),
      Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY text_md5""")),

    // Dedup statistics per language: total vs distinct content.
    QDef("q_dedup_stats",
      (s, d) => documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_uniq"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_dups"))
        .orderBy(col("lang")),
      Some("""SELECT lang, count(*) AS n_docs,
        count(DISTINCT text) AS n_uniq,
        count(*) - count(DISTINCT text) AS n_dups
        FROM documents GROUP BY lang ORDER BY lang""")),

    // N-gram (token 3-shingle) Jaccard near-dup: top-20 most similar pairs
    // within each source block. Candidate pairs come from an equi-join on
    // shared shingles (one shuffle), never a cross join.
    QDef("q_jaccard_pairs",
      (s, d) => graft.llm.TextDedup
        .jaccardPairs(documents(s, d), "doc_id", "text",
          blockCols = Seq("source"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20),
      Some("""WITH shingles AS (
          SELECT doc_id, source, unnest(list_distinct(
            list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
          FROM (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), t -> t <> '') AS toks
                FROM documents)
          WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM shingles a JOIN shingles b
            ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        ORDER BY jaccard DESC, id_a, id_b LIMIT 20""")),

    // Deterministic stratified sampling: per-language keep-rates (domain
    // re-mixing — downsample the over-represented stratum) decided by the
    // same Knuth multiplicative hash as q_split_assign, so the sample is
    // reproducible across engines/runs/partitionings and composable with
    // the split (independent hash constants). No RNG state, no
    // sampleBy() approximation — exact, auditable keep decisions.
    QDef("q_sample_stratified",
      (s, d) => {
        val bucket = pmod(col("doc_id") * lit(0x85EBCA6BL), lit(4294967296L)) % 100
        val rate = when(col("lang") === "en", 25)
          .when(col("lang") === "de", 50).otherwise(90)
        documents(s, d)
          .filter(bucket < rate)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_kept,
        min(doc_id) AS first_id, max(doc_id) AS last_id
        FROM documents
        WHERE (doc_id * 2246822507) % 4294967296 % 100 <
          CASE WHEN lang = 'en' THEN 25 WHEN lang = 'de' THEN 50 ELSE 90 END
        GROUP BY lang ORDER BY lang""")),

    // Benchmark decontamination: flag training documents that share ≥ 5
    // distinct 3-shingles with any held-out eval document (doc_id % 20 =
    // 0 stands in for the benchmark set). The overlap check is the same
    // bounded shingle equi-join as near-dup detection — at 100 TB the
    // eval side is tiny, so the join broadcasts it.
    QDef("q_contamination",
      (s, d) => {
        val docs = documents(s, d)
        val sh = graft.llm.TextDedup.shingleTable(docs, "doc_id", "text", 3)
        val evalSh = sh.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("eval_id"), col("sh"))
        val trainSh = sh.filter(col("doc_id") % 20 =!= 0)
        trainSh.join(broadcast(evalSh), "sh")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("sh")).as("n_shared"),
            countDistinct(col("eval_id")).as("n_eval_hit"))
          .filter(col("n_shared") >= 5)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, unnest(list_distinct(
            list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
          FROM (SELECT doc_id, $tokensSql AS toks FROM documents)
          WHERE len(toks) >= 3)
        SELECT t.doc_id, count(DISTINCT t.sh) AS n_shared,
          count(DISTINCT e.doc_id) AS n_eval_hit
        FROM (SELECT * FROM sh WHERE doc_id % 20 <> 0) t
        JOIN (SELECT * FROM sh WHERE doc_id % 20 = 0) e ON t.sh = e.sh
        GROUP BY t.doc_id HAVING count(DISTINCT t.sh) >= 5
        ORDER BY t.doc_id""")),

    // approx_top_k: Spark 4's frequent-items sketch (space-saving CMS).
    // At this column's cardinality (≤ maxItemsTracked) the sketch is
    // EXACT, so the oracle is the plain GROUP BY count — demonstrating
    // the sketch surface without giving up the hash gate.
    QDef("q_approx_top_k",
      (s, d) => events(s, d)
        .select(expr("approx_top_k(event_type, 3)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("item")),
      Some("""SELECT event_type AS item, count(*) AS n
        FROM events GROUP BY event_type
        ORDER BY n DESC, item LIMIT 3""")),

    // The end-to-end curation pipeline these operators exist for, as ONE
    // declared query: normalize → exact-dedup on the normalized hash
    // (keep the lowest doc_id per group, min_by so the reduction is
    // map-side partial) → quality-score the survivors and drop the
    // low-quality tail → deterministic train/val/test split → per-split
    // corpus accounting. Each stage is one shuffle on its natural key;
    // the whole pipeline is oracle-checked as a unit.
    QDef("q_pipeline_curate",
      (s, d) => {
        val norm = documents(s, d).select(col("doc_id"), col("lang"),
          col("text"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
        val kept = norm
          .withColumn("nh", md5(col("norm").cast("binary")))
          .groupBy(col("nh"))
          .agg(min_by(struct(col("doc_id"), col("lang"), col("text")),
            col("doc_id")).as("m"))
          .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
            col("m.text").as("text"))
        val scored = kept.select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_toks"),
            size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"))
          .select(col("doc_id"), col("lang"),
            round(col("n_uniq").cast("double") / col("n_toks") * lit(0.5) +
              least(lit(1.0), col("n_toks").cast("double") / 100.0) * lit(0.5), 6)
              .as("quality"))
          .filter(col("quality") >= 0.5)
        val bucket = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        scored
          .select(col("lang"), col("quality"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"), dsum(col("quality")).as("q_sum"))
          .orderBy(col("split"), col("lang"))
      },
      Some(s"""WITH norm AS (
          SELECT doc_id, lang, text,
            trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents),
        kept AS (
          SELECT arg_min(doc_id, doc_id) AS doc_id,
            arg_min(lang, doc_id) AS lang, arg_min(text, doc_id) AS text
          FROM norm GROUP BY md5(norm)),
        scored AS (
          SELECT doc_id, lang,
            round(CAST(len(list_distinct($tokensSql)) AS DOUBLE)
                / len($tokensSql) * 0.5 +
              least(1.0, CAST(len($tokensSql) AS DOUBLE) / 100.0) * 0.5, 6)
              AS quality
          FROM kept)
        SELECT CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
          lang, count(*) AS n, ${sqlDsum("quality")} AS q_sum
        FROM scored WHERE quality >= 0.5
        GROUP BY 1, 2 ORDER BY split, lang""")),

    // Near-dup CLUSTERING: pairs are not actionable until they become
    // clusters (keep one representative per component, drop the rest);
    // transitive chains (a~b, b~c) must land a and c together. Edges are
    // the source-blocked shingle-Jaccard pairs ≥ 0.1; components via
    // iterative min-label propagation to fixpoint (TextDedup.clusters).
    // Oracle: DuckDB recursive CTE computes the same min-reachable-id.
    QDef("q_dedup_clusters",
      (s, d) => {
        val docs = documents(s, d)
        val edges = graft.llm.TextDedup
          .jaccardPairs(docs, "doc_id", "text", blockCols = Seq("source"),
            threshold = 0.1)
        graft.llm.TextDedup.clusters(docs, "doc_id", edges)
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("cluster")).cast("long").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
        toks AS (SELECT doc_id, source,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        shingles AS (SELECT doc_id, source, unnest(list_distinct(
            list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
          FROM toks WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM shingles a JOIN shingles b
            ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        edges0 AS (
          SELECT id_a, id_b FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1),
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
          UNION ALL SELECT id_b, id_a FROM edges0),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
        SELECT id AS doc_id, min(r) AS cluster,
          CAST(min(r) = id AS BIGINT) AS keep
        FROM reach GROUP BY id ORDER BY doc_id""")),

    // DEDUP CASCADE FUNNEL (r13) — the production LADDER as one
    // declared audit: raw → exact-dedup keepers → near-dup cluster
    // keepers, with doc/token yield per stage and the removed count —
    // the funnel chart a curation run publishes before training
    // (pipelines always run exact first BECAUSE it is cheap and
    // shrinks the near-dup stage's input; this operator measures
    // exactly that composition). Stage 1 is q_dedup_exact's keeper
    // rule (min doc_id per identical text); stage 2 runs the
    // connected-components keeper over the SHARED memoized Jaccard
    // ≥ 0.2 edge frame RESTRICTED to stage-1 survivors (both
    // endpoints) — the same clusters machinery as q_dedup_clusters,
    // oracle-replayed with a recursive CTE. Scale: one text-hash
    // window + the memoized edge frame + CC on the survivor subgraph.
    QDef("q_dedup_cascade",
      (s, d) => dedupCascade(s, d, sampled = false),
      Some(s"""WITH RECURSIVE base AS (SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              t -> t <> '')) AS BIGINT) AS n_toks,
            md5(text) AS h
          FROM documents),
        k1 AS (SELECT doc_id, n_toks FROM (SELECT *,
            min(doc_id) OVER (PARTITION BY h) AS kid FROM base)
          WHERE doc_id = kid),
        ${Llm.dupEdgesCte("0.2")},
        e1 AS (SELECT id_a, id_b FROM edges0
          WHERE id_a IN (SELECT doc_id FROM k1)
            AND id_b IN (SELECT doc_id FROM k1)),
        eb AS (SELECT id_a AS a, id_b AS b FROM e1
          UNION ALL SELECT id_b, id_a FROM e1),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM k1
          UNION
          SELECT e.b, reach.r FROM reach JOIN eb e ON e.a = reach.id),
        k2 AS (SELECT k1.doc_id, k1.n_toks
          FROM (SELECT id, min(r) AS c FROM reach GROUP BY id) cc
          JOIN k1 ON cc.id = k1.doc_id WHERE cc.c = cc.id),
        st AS (
          SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM base
          UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k1
          UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k2)
        SELECT stage, n_docs, n_tokens,
          CAST(COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0)
            AS BIGINT) AS removed_docs
        FROM st ORDER BY stage""")),

    // SAMPLED CASCADE AUDIT TWIN (r14, VERDICT directive 3) — the
    // cascade's bounded-cost instrument at scales where the exact
    // pairwise edge build exceeds single-node scratch (the cascade
    // inherits the dup-graph family's measured 100× storage
    // exclusion): the identical raw → exact → near-dup funnel over the
    // deterministic 1/4 doc stratum (first md5 nibble of doc_id ≤ 3 ⇒
    // 1/16 of the pair work — the q_label_prop_sampled cadence, and
    // the SAME memoized stratum edge frame, key "$d#nib3"). Pipeline,
    // keeper rule, CC machinery, and rollup are shared VERBATIM via
    // dedupCascade with only the document WHERE injected, so the audit
    // cannot drift from the operator it bounds.
    QDef("q_dedup_cascade_sampled",
      (s, d) => dedupCascade(s, d, sampled = true),
      Some {
        val w = s" WHERE ${Llm.docSampleNibbleSql("doc_id")} <= 3"
        s"""WITH RECURSIVE base AS (SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              t -> t <> '')) AS BIGINT) AS n_toks,
            md5(text) AS h
          FROM documents$w),
        k1 AS (SELECT doc_id, n_toks FROM (SELECT *,
            min(doc_id) OVER (PARTITION BY h) AS kid FROM base)
          WHERE doc_id = kid),
        ${Llm.dupEdgesCteW("0.2", w)},
        e1 AS (SELECT id_a, id_b FROM edges0
          WHERE id_a IN (SELECT doc_id FROM k1)
            AND id_b IN (SELECT doc_id FROM k1)),
        eb AS (SELECT id_a AS a, id_b AS b FROM e1
          UNION ALL SELECT id_b, id_a FROM e1),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM k1
          UNION
          SELECT e.b, reach.r FROM reach JOIN eb e ON e.a = reach.id),
        k2 AS (SELECT k1.doc_id, k1.n_toks
          FROM (SELECT id, min(r) AS c FROM reach GROUP BY id) cc
          JOIN k1 ON cc.id = k1.doc_id WHERE cc.c = cc.id),
        st AS (
          SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM base
          UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k1
          UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k2)
        SELECT stage, n_docs, n_tokens,
          CAST(COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0)
            AS BIGINT) AS removed_docs
        FROM st ORDER BY stage"""
      }),

    // CASCADE-ON-CANDIDATES PRODUCTION TWIN (r15 VERDICT directive 3) —
    // the same raw → exact → near-dup funnel, but stage 2 runs the way a
    // 100 TB pipeline actually runs it: banded MinHash-LSH candidate
    // generation over the stage-1 SURVIVORS (exact dup cliques collapse
    // before any pair is generated), exact Jaccard verification on
    // candidates ONLY, production threshold 0.9. No corpus-wide pair fan
    // exists anywhere in the plan — the exact cascade's measured 100×
    // single-node scratch exclusion (84 GB pair-fan spill) does not
    // apply, which is this twin's reason to exist. ORACLE VALIDITY: the
    // funnel is replayed with DuckDB's exact ≥0.9 edge set; engine ≡
    // oracle because (a) verification makes candidates precise and (b)
    // banded recall at ≥0.9 is 1 on this corpus — the property
    // q_minhash_lsh's oracle pins independently every round (P[miss] ≈
    // 2×10⁻⁵ per pair at j=0.9), and Wave16Spec re-asserts edge-set
    // equality at the gate SFs.
    QDef("q_dedup_cascade_banded",
      (s, d) => dedupCascade(s, d, sampled = false,
        bandedThreshold = Some(0.9)),
      Some(s"""WITH RECURSIVE base AS (SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              t -> t <> '')) AS BIGINT) AS n_toks,
            md5(text) AS h
          FROM documents),
        k1 AS (SELECT doc_id, n_toks FROM (SELECT *,
            min(doc_id) OVER (PARTITION BY h) AS kid FROM base)
          WHERE doc_id = kid),
        ${Llm.dupEdgesCte("0.9")},
        e1 AS (SELECT id_a, id_b FROM edges0
          WHERE id_a IN (SELECT doc_id FROM k1)
            AND id_b IN (SELECT doc_id FROM k1)),
        eb AS (SELECT id_a AS a, id_b AS b FROM e1
          UNION ALL SELECT id_b, id_a FROM e1),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM k1
          UNION
          SELECT e.b, reach.r FROM reach JOIN eb e ON e.a = reach.id),
        k2 AS (SELECT k1.doc_id, k1.n_toks
          FROM (SELECT id, min(r) AS c FROM reach GROUP BY id) cc
          JOIN k1 ON cc.id = k1.doc_id WHERE cc.c = cc.id),
        st AS (
          SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM base
          UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k1
          UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT),
            CAST(sum(n_toks) AS BIGINT) FROM k2)
        SELECT stage, n_docs, n_tokens,
          CAST(COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0)
            AS BIGINT) AS removed_docs
        FROM st ORDER BY stage""")),

    // Canonical KEEPER SELECTION per dup cluster — the step after
    // clustering in a real dedup pipeline: instead of the min-id
    // representative, keep the highest-QUALITY member (distinct-token
    // count as the integer quality; ties → min doc_id). Same cluster
    // frame as q_dedup_clusters; one window rank + one rollup per
    // cluster. All integer (class A).
    QDef("q_dedup_keeper",
      (s, d) => {
        val docs = documents(s, d)
        val edges = graft.llm.TextDedup
          .jaccardPairs(docs, "doc_id", "text", blockCols = Seq("source"),
            threshold = 0.1)
        val cl = graft.llm.TextDedup.clusters(docs, "doc_id", edges)
          .select(col("doc_id"), col("cluster"))
        val q = docs.select(col("doc_id"),
          size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"))
        val j = cl.join(q, "doc_id")
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("n_uniq").desc, col("doc_id"))
        val agg = j.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"), max(col("n_uniq")).as("max_quality"))
        val keep = j.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("keep_id"))
        agg.join(keep, "cluster")
          .select(col("cluster"), col("keep_id"), col("n_members"),
            col("max_quality"))
          .orderBy(col("cluster"))
      },
      Some("""WITH RECURSIVE
        toks AS (SELECT doc_id, source,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        shingles AS (SELECT doc_id, source, unnest(list_distinct(
            list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
          FROM toks WHERE len(toks) >= 3),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM shingles a JOIN shingles b
            ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        edges0 AS (
          SELECT id_a, id_b FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1),
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
          UNION ALL SELECT id_b, id_a FROM edges0),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        cl AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
        q AS (SELECT d.doc_id,
            CAST(len(list_distinct(t.toks)) AS BIGINT) AS n_uniq
          FROM documents d JOIN toks t ON d.doc_id = t.doc_id),
        ranked AS (SELECT cl.cluster, cl.doc_id, q.n_uniq,
            row_number() OVER (PARTITION BY cl.cluster
              ORDER BY q.n_uniq DESC, cl.doc_id) AS rn
          FROM cl JOIN q ON cl.doc_id = q.doc_id)
        SELECT cluster,
          min(doc_id) FILTER (WHERE rn = 1) AS keep_id,
          count(*) AS n_members,
          max(n_uniq) AS max_quality
        FROM ranked GROUP BY cluster ORDER BY cluster""")),

    // Triangle enumeration over the dup edge set (UNBLOCKED Jaccard ≥ 0.2
    // — near-dup twins in this corpus live across source boundaries, so
    // the graph queries drop the source block the clustering query keeps):
    // closed pair-chains are the high-confidence dup clusters; open chains
    // are threshold noise. The engine runs the degree-oriented wedge join
    // (each triangle once, wedge fan-out bounded by O(√|E|) per vertex);
    // the oracle enumerates a<b<c triples directly from the id-ordered
    // edge list — orientation must be result-invariant.
    QDef("q_dup_triangles",
      (s, d) => {
        val edges = graft.llm.TextDedup
          .jaccardEdgesShared(documents(s, d), "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .select(col("id_a"), col("id_b"))
        graft.llm.TextDedup.triangles(edges)
          .orderBy(col("a"), col("b"), col("c"))
      },
      Some(s"""WITH ${dupEdgesCte("0.2")}
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM edges0 e1
        JOIN edges0 e2 ON e2.id_a = e1.id_b
        JOIN edges0 e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        ORDER BY a, b, c""")),

    // WEIGHTED (multiset) JACCARD over the production near-dup pairs —
    // the dup scorer set-Jaccard under-reports: a doc that repeats
    // "batch" 40 times and one that uses it once share the SAME shingle
    // set weightlessly, but their token MULTISETS disagree 40:1.
    // J_w = Σ_w min(tf_a, tf_b) / Σ_w max(tf_a, tf_b) over term
    // frequencies, the standard weighted form; Σmax is derived as
    // T_a + T_b − Σmin (exact identity over multisets) so only the
    // SHARED-token inner join is ever computed. The pair set is the
    // cascade_banded production funnel's: exact-dup KEEPERS first (the
    // md5 window — at any replication the cliques collapse before a
    // single pair exists), then banded MinHash-LSH candidates verified
    // by exact set-Jaccard ≥ 0.9 — work linear in candidates, no
    // corpus-wide pair fan anywhere (the first cut of this query rode
    // the shared exact ≥0.2 edge frame and inherited its measured
    // quadratic clique fan: 21 GB spill at 10×). ORACLE VALIDITY: same
    // argument as q_dedup_cascade_banded — verification makes
    // candidates precise and banded recall at ≥ 0.9 is 1 on this corpus
    // (pinned by q_minhash_lsh's oracle + Wave16Spec edge-set
    // equality), so the oracle replays DuckDB's exact ≥ 0.9 keeper
    // pairs. All-integer: tf min-sums and totals are exact counts; the
    // score lands once on the ppm grid with one truncating division
    // (Spark div ≡ DuckDB //).
    QDef("q_weighted_jaccard_join",
      (s, d) => {
        val docs = documents(s, d)
        val k1 = docs
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          .withColumn("kid", min(col("doc_id")).over(
            Window.partitionBy(col("h"))))
          .filter(col("doc_id") === col("kid"))
          .select(col("doc_id"))
        val survivors = docs.join(k1, "doc_id")
          .localCheckpoint(true) // candidates + verify + tf share it
        val cand = graft.llm.TextDedup
          .minhashCandidates(survivors, "doc_id", "text")
        val pairs = graft.llm.TextDedup
          .verifyCandidatePairs(survivors, cand, "doc_id", "text")
          .filter(col("jaccard") >= 0.9)
          .select(col("id_a"), col("id_b"))
        val tf = survivors
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(true) // totals + both pair-join sides
        val tot = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("tot"))
        val inter = pairs
          .join(tf.select(col("doc_id").as("id_a"), col("w"),
            col("tf").as("tfa")), "id_a")
          .join(tf.select(col("doc_id").as("id_b"), col("w"),
            col("tf").as("tfb")), Seq("id_b", "w"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(least(col("tfa"), col("tfb"))).as("inter_w"))
        inter
          .join(tot.select(col("doc_id").as("id_a"), col("tot").as("ta")),
            "id_a")
          .join(tot.select(col("doc_id").as("id_b"), col("tot").as("tb")),
            "id_b")
          .select(col("id_a"), col("id_b"), col("inter_w"),
            (col("ta") + col("tb") - col("inter_w")).as("union_w"),
            expr("inter_w * 1000000 div (ta + tb - inter_w)").as("wj_ppm"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH base AS (SELECT doc_id, md5(text) AS h
          FROM documents),
        k1 AS (SELECT doc_id FROM (SELECT *,
            min(doc_id) OVER (PARTITION BY h) AS kid FROM base)
          WHERE doc_id = kid),
        ${dupEdgesCte("0.9")},
        e1 AS (SELECT id_a, id_b FROM edges0
          WHERE id_a IN (SELECT doc_id FROM k1)
            AND id_b IN (SELECT doc_id FROM k1)),
        tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(list_filter(
              string_split(text, ' '), t -> t <> '')) AS w
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM k1))
          GROUP BY doc_id, w),
        tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot
          FROM tf GROUP BY doc_id),
        iw AS (SELECT e.id_a, e.id_b,
            CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS inter_w
          FROM e1 e
          JOIN tf a ON a.doc_id = e.id_a
          JOIN tf b ON b.doc_id = e.id_b AND b.w = a.w
          GROUP BY e.id_a, e.id_b)
        SELECT iw.id_a, iw.id_b, iw.inter_w,
          ta.tot + tb.tot - iw.inter_w AS union_w,
          iw.inter_w * 1000000 // (ta.tot + tb.tot - iw.inter_w)
            AS wj_ppm
        FROM iw
        JOIN tot ta ON ta.doc_id = iw.id_a
        JOIN tot tb ON tb.doc_id = iw.id_b
        ORDER BY id_a, id_b""")),

    // WEIGHTED MinHash signature (r16 wave 3) — the sketch companion to
    // q_weighted_jaccard_join exactly as q_minhash_sig companions exact
    // set-Jaccard: a mergeable per-source signature whose collision
    // probability is the WEIGHTED Jaccard Σmin(tf)/Σmax(tf), not the
    // set one. Mechanism: INTEGER EXPANSION (Haveliwala et al. 2000's
    // multiset reduction; the exact special case of Ioffe 2010's ICWS
    // for integer weights, chosen over ICWS because ICWS needs exp/ln
    // draws — outside the transcendental whitelist): element universe
    // (tok, r) for r ∈ 1..tf(tok), so set-Jaccard of expanded sets ≡
    // weighted Jaccard of the tf multisets, and the EXISTING minhash_sig
    // aggregate (md5-Horner base hash + 16 affine perms over M = 2³¹−1,
    // mergeable elementwise-min state) applies verbatim to the
    // concat(tok,'#',r) strings. Cost: expansion = Σtf = the corpus
    // token count — LINEAR, same asymptotics as the tokenize pass
    // itself, map-side only (sequence+explode fuses into the scan
    // projection, no extra shuffle before the signature agg). Exactly
    // reproducible cross-engine: min is order-free (determinism class
    // A), the expansion is a pure function of (tok, tf).
    QDef("q_weighted_minhash_sig",
      (s, d) => {
        import graft.functions.MinHashSigAgg.minhash_sig
        documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          .select(col("source"), explode(expr(
            "transform(sequence(1, tf), r -> concat(tok, '#', r))"))
            .as("el"))
          .groupBy(col("source"))
          .agg(minhash_sig(col("el")).as("sig"))
          .select(col("source"), posexplode(col("sig")))
          .select(col("source"), col("pos").cast("long").as("perm"),
            col("col").as("sigval"))
          .orderBy(col("source"), col("perm"))
      },
      Some(s"""WITH tf AS (SELECT source, tok,
            CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
          GROUP BY source, tok),
        expand AS (SELECT source, tok,
            unnest(generate_series(1, tf)) AS r FROM tf),
        els AS (SELECT source,
            tok || '#' || CAST(r AS VARCHAR) AS tok FROM expand),
        h AS (SELECT source,
            CAST(${md5NibbleHorner(1)} AS BIGINT) % 2147483647 AS h0
          FROM els),
        perms AS (SELECT CAST(i AS BIGINT) AS i,
            ((2 * CAST(i AS BIGINT) + 3) * 40503) % 2147483647 AS a,
            ((CAST(i AS BIGINT) + 1) * 2654435761) % 2147483647 AS b
          FROM range(16) t(i))
        SELECT source, i AS perm,
          CAST(min((a * h0 + b) % 2147483647) AS BIGINT) AS sigval
        FROM h CROSS JOIN perms
        GROUP BY source, i ORDER BY source, perm""")),

    // Weighted-signature AGREEMENT vs exact weighted Jaccard — the
    // estimator audit, mirroring q_minhash_sig_pairs on the WEIGHTED
    // axis: estimate every source pair's tf-multiset Jaccard from the
    // 16-long expanded-universe signatures alone (matches·625 bp) and
    // put the exact Σmin/Σmax weighted Jaccard beside it with the
    // absolute error (RSE = 1/√16 = 0.25, same estimator math — the
    // expansion changes the universe, not the sketch). Σmax derived as
    // T_a + T_b − Σmin so only the shared-token inner join is computed
    // (the q_weighted_jaccard_join identity). Scale: signatures make
    // the pair stage O(|src|²·16) on a tiny frame; the exact side is
    // the audit, vocab-bounded joins only.
    QDef("q_weighted_minhash_pairs",
      (s, d) => {
        import graft.functions.MinHashSigAgg.minhash_sig
        val tf = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(true) // signature + totals + both pair sides
        val sigv = tf
          .select(col("source"), explode(expr(
            "transform(sequence(1, tf), r -> concat(tok, '#', r))"))
            .as("el"))
          .groupBy(col("source"))
          .agg(minhash_sig(col("el")).as("sig"))
          .select(col("source"), posexplode(col("sig")))
          .select(col("source"), col("pos").as("perm"),
            col("col").as("sigval"))
          .localCheckpoint(true) // 16·|sources| rows; feeds both sides
        val matches = sigv.select(col("source").as("source_a"),
            col("perm"), col("sigval").as("va"))
          .join(sigv.select(col("source").as("source_b"), col("perm"),
            col("sigval").as("vb")), Seq("perm"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(sum((col("va") === col("vb")).cast("long")).as("matches"))
        val tot = tf.groupBy(col("source")).agg(sum(col("tf")).as("tot"))
        val inter = tf.as("a").join(tf.as("b"),
            col("a.tok") === col("b.tok") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(sum(least(col("a.tf"), col("b.tf"))).as("inter_w"))
        matches
          .join(tot.select(col("source").as("source_a"),
            col("tot").as("ta")), Seq("source_a"))
          .join(tot.select(col("source").as("source_b"),
            col("tot").as("tb")), Seq("source_b"))
          .join(inter, Seq("source_a", "source_b"), "left")
          .withColumn("inter_w", coalesce(col("inter_w"), lit(0L)))
          .select(col("source_a"), col("source_b"), col("matches"),
            (col("matches") * 625).as("est_bp"),
            expr("inter_w * 10000 div (ta + tb - inter_w)").as("exact_bp"))
          .withColumn("err_bp", abs(col("est_bp") - col("exact_bp")))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH tf AS (SELECT source, tok,
            CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)
          GROUP BY source, tok),
        expand AS (SELECT source, tok,
            unnest(generate_series(1, tf)) AS r FROM tf),
        els AS (SELECT source,
            tok || '#' || CAST(r AS VARCHAR) AS tok FROM expand),
        h AS (SELECT source,
            CAST(${md5NibbleHorner(1)} AS BIGINT) % 2147483647 AS h0
          FROM els),
        perms AS (SELECT CAST(i AS BIGINT) AS i,
            ((2 * CAST(i AS BIGINT) + 3) * 40503) % 2147483647 AS a,
            ((CAST(i AS BIGINT) + 1) * 2654435761) % 2147483647 AS b
          FROM range(16) t(i)),
        sig AS (SELECT source, i AS perm,
            min((a * h0 + b) % 2147483647) AS sigval
          FROM h CROSS JOIN perms GROUP BY source, i),
        m AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(sum(CASE WHEN a.sigval = b.sigval THEN 1 ELSE 0 END)
              AS BIGINT) AS matches
          FROM sig a JOIN sig b ON a.perm = b.perm
            AND a.source < b.source
          GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS tot
          FROM tf GROUP BY source),
        iv AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS inter_w
          FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT m.source_a, m.source_b, matches,
          CAST(matches * 625 AS BIGINT) AS est_bp,
          CAST(COALESCE(iv.inter_w, 0) * 10000
            // (ta.tot + tb.tot - COALESCE(iv.inter_w, 0)) AS BIGINT)
            AS exact_bp,
          CAST(abs(matches * 625 - COALESCE(iv.inter_w, 0) * 10000
            // (ta.tot + tb.tot - COALESCE(iv.inter_w, 0))) AS BIGINT)
            AS err_bp
        FROM m
        JOIN tot ta ON m.source_a = ta.source
        JOIN tot tb ON m.source_b = tb.source
        LEFT JOIN iv ON iv.source_a = m.source_a
          AND iv.source_b = m.source_b
        ORDER BY m.source_a, m.source_b""")),

    // Local clustering coefficient over the dup graph: how clique-like
    // each document's dedup neighborhood is (coeff 1e6 = its neighbors
    // are all mutual dups — one canonical keeper suffices; low coeff =
    // a chain/hub, where transitive dedup over-merges). Degrees from the
    // undirected edge list, per-node triangle counts from the same
    // degree-oriented wedge join q_dup_triangles uses, coefficient as
    // exact ppm: 2·tri·1e6 div deg(deg−1). Everything rides the shared
    // materialized edge frame.
    QDef("q_clustering_coeff",
      (s, d) => {
        val edges = graft.llm.TextDedup
          .jaccardEdgesShared(documents(s, d), "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .select(col("id_a"), col("id_b"))
        val und = edges.select(col("id_a").as("u"), col("id_b").as("v"))
          .union(edges.select(col("id_b").as("u"), col("id_a").as("v")))
        val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val tpn = graft.llm.TextDedup.triangles(edges)
          .select(explode(array(col("a"), col("b"), col("c"))).as("u"))
          .groupBy(col("u")).agg(count(lit(1)).as("tri"))
        deg.join(tpn, Seq("u"), "left")
          .withColumn("tri", coalesce(col("tri"), lit(0L)))
          .filter(col("deg") >= 2)
          .select(col("u").as("doc_id"), col("deg"), col("tri"),
            expr("tri * 2000000 div (deg * (deg - 1))").as("coeff_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${dupEdgesCte("0.2")},
        und AS (SELECT id_a AS u FROM edges0
          UNION ALL SELECT id_b FROM edges0),
        deg AS (SELECT u, count(*) AS deg FROM und GROUP BY 1),
        tris AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
          FROM edges0 e1
          JOIN edges0 e2 ON e2.id_a = e1.id_b
          JOIN edges0 e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        tpn AS (SELECT u, count(*) AS tri FROM (
            SELECT a AS u FROM tris UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris)
          GROUP BY 1)
        SELECT u AS doc_id, deg, coalesce(tri, 0) AS tri,
          coalesce(tri, 0) * 2000000 // (deg * (deg - 1)) AS coeff_ppm
        FROM deg LEFT JOIN tpn USING (u)
        WHERE deg >= 2 ORDER BY doc_id""")),

    // EMBEDDING-SPACE SPLIT DRIFT via linear-kernel MMD² (r13) — the
    // representation-level companion to q_split_drift's lang-mix KL:
    // "did the 80/20 split move the embedding DISTRIBUTION", the check
    // a retrieval/ANN pipeline runs before trusting a held-out eval.
    // For the linear kernel the maximum-mean-discrepancy estimate
    // collapses to ‖μ_train − μ_test‖² (Gretton et al. 2012, the
    // biased V-statistic), so the whole operator is two mean vectors:
    // each float lands ONCE on the e6 integer grid, the per-split
    // (n, Σq_i) agg is ONE map-side-combinable hash agg, means are
    // truncating integer division (Spark `div` ≡ DuckDB `//`,
    // negatives included — the q_embed_covariance contract), and
    // mmd2_e12 = Σ_i (m_tr,i − m_te,i)² is an exact BIGINT certificate
    // (|Σq| ≤ n·2e6 keeps every intermediate Long-safe past 10⁹ rows).
    // The split is the SHARED Knuth rule (vec_id ≡ doc_id, the
    // q_split_assign bucket), so the audit composes with every other
    // split-keyed operator. Output: one row per dim (means + delta)
    // plus the dim = −1 certificate row carrying split sizes and the
    // summed MMD². Scale: one scan, one 2-row agg — everything after
    // is an 8-row broadcast frame.
    QDef("q_mmd_embedding", {
      val dims = 8
      val fn: Q.Fn = (s, d) => {
        val q = embeddings(s, d).select(
          pmod(col("vec_id") * lit(2654435761L), lit(4294967296L))
            .mod(100).lt(80).cast("long").as("tr") +:
            (0 until dims).map(i =>
              round(element_at(col("embedding"), i + 1).cast("double")
                * 1000000, 0).cast("long").as(s"q$i")): _*)
        val a = q.groupBy(col("tr"))
          .agg(count(lit(1)).as("n"),
            (0 until dims).map(i => sum(col(s"q$i")).as(s"s$i")): _*)
        val oneCols = max(when(col("tr") === 1L, col("n"))).as("n_tr") +:
          max(when(col("tr") === 0L, col("n"))).as("n_te") +:
          (0 until dims).flatMap(i => Seq(
            max(when(col("tr") === 1L, col(s"s$i"))).as(s"sa$i"),
            max(when(col("tr") === 0L, col(s"s$i"))).as(s"sb$i")))
        val one = a.agg(oneCols.head, oneCols.tail: _*)
          .localCheckpoint(true) // read by 8 dim rows + the certificate
        import s.implicits._
        val dimsDf = (0 until dims).map(_.toLong).toDF("dim")
        val per = dimsDf.crossJoin(broadcast(one))
          .select(col("dim"), col("n_tr"), col("n_te"),
            expr(s"element_at(array(${(0 until dims).map(i => s"sa$i")
              .mkString(",")}), cast(dim + 1 as int)) div n_tr")
              .as("mean_tr_e6"),
            expr(s"element_at(array(${(0 until dims).map(i => s"sb$i")
              .mkString(",")}), cast(dim + 1 as int)) div n_te")
              .as("mean_te_e6"))
          .withColumn("delta_e6", col("mean_tr_e6") - col("mean_te_e6"))
          .withColumn("delta2", col("delta_e6") * col("delta_e6"))
        val cert = per.groupBy()
          .agg(max(col("n_tr")).as("n_tr"), max(col("n_te")).as("n_te"),
            sum(col("delta2")).as("delta2"))
          .select(lit(-1L).as("dim"), col("n_tr"), col("n_te"),
            lit(0L).as("mean_tr_e6"), lit(0L).as("mean_te_e6"),
            lit(0L).as("delta_e6"), col("delta2"))
        per.unionAll(cert).orderBy(col("dim"))
      }
      fn
    }, {
      val dims = 8
      val qDefs = (0 until dims).map(i =>
          s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
            s" AS BIGINT) AS q$i").mkString(", ")
        val sDefs = (0 until dims).map(i =>
          s"CAST(sum(q$i) AS BIGINT) AS s$i").mkString(", ")
        val oneDefs = (0 until dims).map(i =>
          s"max(CASE WHEN tr = 1 THEN s$i END) AS sa$i, " +
            s"max(CASE WHEN tr = 0 THEN s$i END) AS sb$i").mkString(", ")
        val saList = (0 until dims).map(i => s"sa$i").mkString(", ")
        val sbList = (0 until dims).map(i => s"sb$i").mkString(", ")
        Some(s"""WITH q AS (SELECT
            CASE WHEN (vec_id * 2654435761) % 4294967296 % 100 < 80
              THEN 1 ELSE 0 END AS tr, $qDefs
          FROM embeddings),
        a AS (SELECT tr, CAST(count(*) AS BIGINT) AS n, $sDefs
          FROM q GROUP BY tr),
        one AS (SELECT max(CASE WHEN tr = 1 THEN n END) AS n_tr,
            max(CASE WHEN tr = 0 THEN n END) AS n_te, $oneDefs
          FROM a),
        per AS (SELECT i.dim, n_tr, n_te,
            CAST(list_value($saList)[i.dim + 1] // n_tr AS BIGINT)
              AS mean_tr_e6,
            CAST(list_value($sbList)[i.dim + 1] // n_te AS BIGINT)
              AS mean_te_e6
          FROM (SELECT unnest(range(0, $dims)) AS dim) i CROSS JOIN one),
        pd AS (SELECT dim, n_tr, n_te, mean_tr_e6, mean_te_e6,
            mean_tr_e6 - mean_te_e6 AS delta_e6,
            (mean_tr_e6 - mean_te_e6) * (mean_tr_e6 - mean_te_e6)
              AS delta2
          FROM per)
        SELECT CAST(dim AS BIGINT) AS dim, n_tr, n_te, mean_tr_e6,
          mean_te_e6, delta_e6, delta2 FROM pd
        UNION ALL
        SELECT -1, max(n_tr), max(n_te), 0, 0, 0,
          CAST(sum(delta2) AS BIGINT) FROM pd
        ORDER BY dim""")
    }),

    // Embedding covariance matrix (upper triangle of the first 8 dims):
    // the whitening/PCA precursor over the embedding table. Exactness by
    // quantization-first: each float lands ONCE on the 1e-6 integer grid
    // (float→double cast and ×1e6 are IEEE-exact; round-half-away ties
    // are representable and both engines break them away from zero), and
    // every moment after that — Σx, Σxy, the n·Σxy − Σx·Σy numerator —
    // is exact BIGINT/DECIMAL(38,0)/HUGEINT arithmetic. cov_pico is the
    // covariance in 1e-12 units via truncating integer division (Spark
    // `div` and DuckDB `//` both truncate toward zero, negatives
    // included). One map-side-combinable hash agg over 44 moments, one
    // stack() unpivot of the single result row: the 100 TB plan is a
    // single scan.
    QDef("q_embed_covariance", {
      val dims = 8
      val fn: Q.Fn = (s, d) => {
        val xCols = (0 until dims).map(i =>
          round(element_at(col("embedding"), i + 1).cast("double")
            * lit(1000000), 0).cast("long").as(s"x$i"))
        val base = embeddings(s, d).select(xCols: _*)
        val aggs = Seq(count(lit(1)).as("n")) ++
          (0 until dims).map(i => sum(col(s"x$i")).as(s"s$i")) ++
          (for { i <- 0 until dims; j <- i until dims }
            yield sum(col(s"x$i") * col(s"x$j")).as(s"p${i}_$j"))
        val m = base.agg(aggs.head, aggs.tail: _*)
        val entries = (for { i <- 0 until dims; j <- i until dims }
          yield s"$i, $j, p${i}_$j, s$i, s$j").mkString(", ")
        m.selectExpr("n",
            s"stack(${dims * (dims + 1) / 2}, $entries) AS (i, j, pij, si, sj)")
          .select(col("i"), col("j"), col("n"),
            expr("(CAST(n AS DECIMAL(38,0)) * pij" +
              " - CAST(si AS DECIMAL(38,0)) * sj)" +
              " div (CAST(n AS DECIMAL(38,0)) * n)").as("cov_pico"))
          .orderBy(col("i"), col("j"))
      }
      fn
    }, {
      val dims = 8
      val xDefs = (0 until dims).map(i =>
        s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
          s" AS BIGINT) AS x$i").mkString(", ")
      val sDefs = (0 until dims).map(i => s"sum(x$i) AS s$i").mkString(", ")
      val pDefs = (for { i <- 0 until dims; j <- i until dims }
        yield s"sum(x$i * x$j) AS p${i}_$j").mkString(", ")
      val unions = (for { i <- 0 until dims; j <- i until dims } yield
        s"SELECT $i AS i, $j AS j, n, (CAST(n AS HUGEINT) * p${i}_$j" +
          s" - CAST(s$i AS HUGEINT) * s$j) // (CAST(n AS HUGEINT) * n)" +
          s" AS cov_pico FROM m").mkString(" UNION ALL ")
      Some(s"""WITH x AS (SELECT $xDefs FROM embeddings),
        m AS (SELECT count(*) AS n, $sDefs, $pDefs FROM x)
        SELECT i, j, n, CAST(cov_pico AS BIGINT) AS cov_pico
        FROM ($unions) ORDER BY i, j""")
    }),

    // PCA TOP COMPONENT by integer power iteration — the projection
    // the covariance matrix exists for (whitening/dimensionality
    // reduction over the embedding table): 3 exact matvec rounds on
    // the full 8×8 pico-unit covariance matrix (the q_embed_covariance
    // moment machinery, mirrored to both triangles), with the
    // q_eigen_centrality deterministic div-rescale after EVERY matvec
    // (sc = max(|y|) div 10⁶ + 1; `div` truncates toward zero for
    // negatives identically in both engines) so iterates stay ~10⁶
    // and DECIMAL(38)/HUGEINT accumulation never wraps. Output: the
    // 8 component loadings ppm-normalized by max |loading| plus the
    // Rayleigh-quotient eigenvalue estimate λ = (x₃ᵀx₂ₛ)/(x₂ₛᵀx₂ₛ) in
    // pico units — one truncating integer division over exact dot
    // products (class A, no float anywhere). Scale: the corpus is
    // touched ONCE by the 44-moment map-side agg; the matvecs run on
    // the constant 8×8 frame. JVM power-iteration replay in-spec.
    QDef("q_pca_power",
      (s, d) => {
        val aFull = pcaCovFull(s, d)
        val (x3, lam) = pcaChain(aFull)
        val mx = x3.agg(max(abs(col("y"))).as("m3"))
        x3.crossJoin(broadcast(mx)).crossJoin(broadcast(lam))
          .select(col("i").cast("long").as("dim"),
            expr("CAST((y * 1000000) div m3 AS BIGINT)").as("loading_ppm"),
            col("lam_pico"))
          .orderBy(col("dim"))
      },
      Some(s"""WITH $pcaCovCte,
        ${pcaChainCte("af", "")},
        m3 AS (SELECT max(abs(y)) AS m3 FROM y3)
        SELECT CAST(i AS BIGINT) AS dim,
          CAST((y * 1000000) // m3 AS BIGINT) AS loading_ppm, lam_pico
        FROM y3 CROSS JOIN m3 CROSS JOIN lam
        ORDER BY dim""")),

    // PCA SECOND COMPONENT BY DEFLATION — the round-12 candidate riding
    // q_pca_power's machinery (shared pcaCovFull/pcaChain, so the first
    // component can never drift between the two queries): rescale the
    // converged first iterate v₁ back under ~1e6 (the overflow guard
    // doubles as the deflation scale), deflate A′ = A − λ₁·v₁v₁ᵀ/v₁ᵀv₁
    // entirely in integer arithmetic (one div per cell on the constant
    // 8×8 frame), and re-run the identical three-round power chain on
    // A′. Output carries both loadings, both eigenvalues, and the
    // components' cosine in r6 — the orthogonality certificate, bounded
    // by the power-iteration residual: deflation annihilates v₁ exactly
    // only at convergence, and this corpus's near-isotropic spectrum
    // (λ₂/λ₁ ≈ 0.92 at sf0.1) converges slowly, so |cos| is small but
    // nonzero (0.069 at sf0.1; asserted < 0.1 in-spec alongside the
    // full BigInt trajectory replay). Scale: the corpus is touched by ONE
    // 44-moment map-side agg (shared with q_pca_power); everything
    // after is 8×8-constant — the literal 100 TB PCA plan. Class A.
    QDef("q_pca_deflate",
      (s, d) => {
        val aFull = pcaCovFull(s, d)
        val (x3a, lam1) = pcaChain(aFull)
        val af2 = pcaDeflate(aFull, x3a, lam1)
        val (x3b, lam2r) = pcaChain(af2)
        val lam2 = lam2r.withColumnRenamed("lam_pico", "lam2_pico")
        val l1 = pcaLoadPpm(x3a, "l1_ppm")
        val l2 = pcaLoadPpm(x3b, "l2_ppm")
        val both = l1.join(l2, "i").localCheckpoint(true) // ortho + output
        val ortho = both.agg(
          expr("""round(CAST(sum(l1_ppm * l2_ppm) AS DOUBLE)
              / (sqrt(CAST(sum(l1_ppm * l1_ppm) AS DOUBLE))
                 * sqrt(CAST(sum(l2_ppm * l2_ppm) AS DOUBLE))), 6)""")
            .as("ortho_cos_r6"))
        both.crossJoin(broadcast(lam1)).crossJoin(broadcast(lam2))
          .crossJoin(broadcast(ortho))
          .select(col("i").cast("long").as("dim"),
            col("l1_ppm"), col("l2_ppm"),
            col("lam_pico").as("lam1_pico"), col("lam2_pico"),
            col("ortho_cos_r6"))
          .orderBy(col("dim"))
      },
      Some(s"""WITH $pcaCovCte,
        ${pcaChainCte("af", "")},
        $pcaDeflateCte,
        ${pcaChainCte("af2", "d")},
        m3a AS (SELECT max(abs(y)) AS m3 FROM y3),
        m3b AS (SELECT max(abs(y)) AS m3 FROM dy3),
        l1 AS (SELECT i, CAST((y * 1000000) // m3 AS BIGINT) AS l1_ppm
          FROM y3 CROSS JOIN m3a),
        l2 AS (SELECT i, CAST((y * 1000000) // m3 AS BIGINT) AS l2_ppm
          FROM dy3 CROSS JOIN m3b),
        ortho AS (SELECT round(CAST(sum(l1_ppm * l2_ppm) AS DOUBLE)
            / (sqrt(CAST(sum(l1_ppm * l1_ppm) AS DOUBLE))
               * sqrt(CAST(sum(l2_ppm * l2_ppm) AS DOUBLE))), 6)
            AS ortho_cos_r6
          FROM l1 JOIN l2 USING (i))
        SELECT CAST(i AS BIGINT) AS dim, l1_ppm, l2_ppm,
          CAST(lam.lam_pico AS BIGINT) AS lam1_pico,
          CAST(dlam.lam_pico AS BIGINT) AS lam2_pico, ortho_cos_r6
        FROM l1 JOIN l2 USING (i)
        CROSS JOIN lam CROSS JOIN dlam CROSS JOIN ortho
        ORDER BY dim""")),

    // PCA WHITENING CERTIFICATE — the projection scan the family was
    // built for: project every corpus row onto BOTH converged components
    // (shared pcaCovFull/pcaChain/pcaDeflate — the components cannot
    // drift from q_pca_power/q_pca_deflate), downscale the projection by
    // 1e6 (|t| ≤ 8e12 pre-scale; the truncation is ppm-level on the
    // score's own magnitude and identical in both engines), and emit the
    // whitening identities as exact integers: var(t_k)·1e18 div
    // (λ_k·|l_k|²) ≈ 1e6 ppm per component (variance along an eigen
    // direction equals its eigenvalue — the ratio's distance from 1e6
    // measures power-iteration residual, not noise), plus the projected
    // components' correlation rounded at 6dp from sub-2^53 exact-integer
    // moments (decorrelation is the other half of whitening). Precision
    // budget: moments sum t² ≤ 6.4e13/row as DECIMAL(38,0) ⇒ n·q stays
    // under 1e38 to ~1.8e11 rows, the same bound as the covariance agg.
    // Scale: TWO corpus scans total (the shared 44-moment agg + this
    // projection scan), both map-side aggs against broadcast 1-row
    // frames; everything else is 8×8-constant. Class A + one round6
    // double from exact ≤2^53 integers (the ortho_cos_r6 precedent).
    QDef("q_pca_whiten",
      (s, d) => {
        val aFull = pcaCovFull(s, d)
        val (x3a, lam1) = pcaChain(aFull)
        val af2 = pcaDeflate(aFull, x3a, lam1)
        val (x3b, lam2r) = pcaChain(af2)
        val lam2 = lam2r.withColumnRenamed("lam_pico", "lam2_pico")
        val l1 = pcaLoadPpm(x3a, "l_ppm")
        val l2 = pcaLoadPpm(x3b, "l_ppm")
        def pivot(l: DataFrame, p: String): DataFrame = {
          val cs = (0 until pcaDims).map(dd =>
            sum(when(col("i") === dd, col("l_ppm")).otherwise(lit(0L)))
              .as(s"$p$dd"))
          l.agg(cs.head, cs.tail: _*)
        }
        def dot(p: String) =
          (0 until pcaDims).map(dd => s"$p$dd * x$dd").mkString(" + ")
        val proj = pcaQuant(s, d)
          .crossJoin(broadcast(pivot(l1, "a")))
          .crossJoin(broadcast(pivot(l2, "b")))
          .select(
            expr(s"CAST((${dot("a")}) div 1000000 AS BIGINT)").as("t1"),
            expr(s"CAST((${dot("b")}) div 1000000 AS BIGINT)").as("t2"))
        val mom = proj.agg(
          count(lit(1)).as("n"),
          sum(col("t1").cast("decimal(38,0)")).as("st1"),
          sum(col("t1").cast("decimal(38,0)") * col("t1")).as("q1"),
          sum(col("t2").cast("decimal(38,0)")).as("st2"),
          sum(col("t2").cast("decimal(38,0)") * col("t2")).as("q2"),
          sum(col("t1").cast("decimal(38,0)") * col("t2")).as("c12"))
        def ll(l: DataFrame, name: String): DataFrame =
          l.agg(expr(
            "CAST(sum(CAST(l_ppm AS DECIMAL(38,0)) * l_ppm)" +
              " AS DECIMAL(38,0))").as(name))
        val vr = mom.select(col("n"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * q1 - st1 * st1)" +
            " div (CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0))")
            .as("var1"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * q2 - st2 * st2)" +
            " div (CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0))")
            .as("var2"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * c12 - st1 * st2)" +
            " div (CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0))")
            .as("cov12"))
        vr.crossJoin(broadcast(ll(l1, "ll1")))
          .crossJoin(broadcast(ll(l2, "ll2")))
          .crossJoin(broadcast(lam1)).crossJoin(broadcast(lam2))
          .select(col("n").cast("long").as("n"),
            expr("CAST((var1 * 1000000000000000000)" +
              " div (CAST(lam_pico AS DECIMAL(38,0)) * ll1) AS BIGINT)")
              .as("var1_ratio_ppm"),
            expr("CAST((var2 * 1000000000000000000)" +
              " div (CAST(lam2_pico AS DECIMAL(38,0)) * ll2) AS BIGINT)")
              .as("var2_ratio_ppm"),
            expr("round(CAST(cov12 AS DOUBLE)" +
              " / sqrt(CAST(var1 AS DOUBLE) * CAST(var2 AS DOUBLE)), 6)")
              .as("whiten_corr_r6"),
            col("lam_pico").as("lam1_pico"), col("lam2_pico"))
      },
      Some(s"""WITH $pcaCovCte,
        ${pcaChainCte("af", "")},
        $pcaDeflateCte,
        ${pcaChainCte("af2", "d")},
        m3a AS (SELECT max(abs(y)) AS m3 FROM y3),
        m3b AS (SELECT max(abs(y)) AS m3 FROM dy3),
        l1 AS (SELECT i, CAST((y * 1000000) // m3 AS BIGINT) AS l_ppm
          FROM y3 CROSS JOIN m3a),
        l2 AS (SELECT i, CAST((y * 1000000) // m3 AS BIGINT) AS l_ppm
          FROM dy3 CROSS JOIN m3b),
        l1w AS (SELECT ${(0 until pcaDims).map(dd =>
          s"sum(CASE WHEN i = $dd THEN l_ppm ELSE 0 END) AS a$dd")
          .mkString(", ")} FROM l1),
        l2w AS (SELECT ${(0 until pcaDims).map(dd =>
          s"sum(CASE WHEN i = $dd THEN l_ppm ELSE 0 END) AS b$dd")
          .mkString(", ")} FROM l2),
        proj AS (SELECT
            (${(0 until pcaDims).map(dd => s"a$dd * x$dd").mkString(" + ")})
              // 1000000 AS t1,
            (${(0 until pcaDims).map(dd => s"b$dd * x$dd").mkString(" + ")})
              // 1000000 AS t2
          FROM x CROSS JOIN l1w CROSS JOIN l2w),
        mom AS (SELECT count(*) AS n,
            sum(t1) AS st1, sum(t1 * t1) AS q1,
            sum(t2) AS st2, sum(t2 * t2) AS q2,
            sum(t1 * t2) AS c12 FROM proj),
        ll AS (SELECT
            (SELECT sum(CAST(l_ppm AS HUGEINT) * l_ppm) FROM l1) AS ll1,
            (SELECT sum(CAST(l_ppm AS HUGEINT) * l_ppm) FROM l2) AS ll2),
        vr AS (SELECT n,
            (n * q1 - st1 * st1) // (CAST(n AS HUGEINT) * n) AS var1,
            (n * q2 - st2 * st2) // (CAST(n AS HUGEINT) * n) AS var2,
            (n * c12 - st1 * st2) // (CAST(n AS HUGEINT) * n) AS cov12
          FROM mom)
        SELECT CAST(n AS BIGINT) AS n,
          CAST((var1 * 1000000000000000000)
            // (CAST(lam.lam_pico AS HUGEINT) * ll1) AS BIGINT)
            AS var1_ratio_ppm,
          CAST((var2 * 1000000000000000000)
            // (CAST(dlam.lam_pico AS HUGEINT) * ll2) AS BIGINT)
            AS var2_ratio_ppm,
          round(CAST(cov12 AS DOUBLE)
            / sqrt(CAST(var1 AS DOUBLE) * CAST(var2 AS DOUBLE)), 6)
            AS whiten_corr_r6,
          CAST(lam.lam_pico AS BIGINT) AS lam1_pico,
          CAST(dlam.lam_pico AS BIGINT) AS lam2_pico
        FROM vr CROSS JOIN ll CROSS JOIN lam CROSS JOIN dlam""")),

    // Lloyd k-means as a DECLARED, oracle-checkable iterative query
    // (shared kmeansAssign machinery with q_semantic_dedup below) —
    // k=8 centroids over the first 8 dims, 3 assign/update rounds.
    // Integer-exact end to end: vectors quantize once onto the 1e-6
    // grid, assignment is BIGINT argmin (ties → lowest centroid id),
    // centroid updates are truncating integer means (Spark `div` ≡
    // DuckDB `//`), so BOTH engines walk the IDENTICAL centroid
    // trajectory and the oracle replays the whole loop as three chained
    // CTAs. Empty clusters die (both engines drop them identically).
    // Scale: each round is one broadcast-k crossJoin + one hash agg —
    // the canonical Spark k-means profile; per-round localCheckpoint
    // truncates lineage exactly like the connected-components fixpoint.
    QDef("q_kmeans_lloyd",
      (s, d) => kmeansAssign(s, d).groupBy(col("ck"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(dist AS DECIMAL(38,0))) div count(1)" +
            " AS BIGINT)").as("mean_dist2"))
        .select(col("ck").as("k"), col("n"), col("mean_dist2"))
        .orderBy(col("k")),
      Some(s"""WITH $kmeansCtePrelude
        SELECT ck AS k, count(*) AS n,
          CAST(sum(dist) // count(*) AS BIGINT) AS mean_dist2
        FROM fin GROUP BY ck ORDER BY k""")),

    // IVF-SEEDED LLOYD — the auto-k assignment fan's 100×+ escape as a
    // DECLARED operator (NEXT r13 #1): with k ∝ n (the SemDeDup rule)
    // the exact Lloyd scan is n·k ∝ n² per round; here the declared
    // coarse kc = max(8, ⌈√k⌉) trajectory (r13 — the √k book that
    // balances coarse-assign n·kc against the candidate join n·k/kc;
    // kmeansTrain shared VERBATIM with q_kmeans_lloyd, identical to
    // its k=8 trajectory until k > 64) becomes a static IVF partition,
    // the moving fine centroids re-assign to coarse cells each round
    // (k·kc rows), and every vector scores only its cell's fine
    // centroids via an EQUI-JOIN — expected n·(k/kc) candidates,
    // n·2√k total work at the balanced point. Cells holding no fine
    // centroid fall back to the full broadcast scan (the declared
    // orphan rule; per-cluster orphan counts ride the output, so the
    // approximation cost is visible, never silent). Same integer grid,
    // same encoded-argmin tie rule, same truncating-mean updates as the
    // exact family — a deterministic declared trajectory both engines
    // and the spec replay walk identically. Output: per fine cluster,
    // members, orphan-assigned members, truncated mean squared
    // distance.
    QDef("q_kmeans_seeded",
      (s, d) => kmeansSeededAssign(s, d).groupBy(col("fk"))
        .agg(count(lit(1)).as("n"), sum(col("orphan")).as("n_orphan"),
          expr("CAST(sum(CAST(dist AS DECIMAL(38,0))) div count(1)" +
            " AS BIGINT)").as("mean_dist2"))
        .select(col("fk").as("k"), col("n"), col("n_orphan"),
          col("mean_dist2"))
        .orderBy(col("k")),
      // prelude at the √k coarse size (semKcSql — r13): c$kmIters is
      // the kc-sized static coarse book, fin the vectors' coarse cells
      Some(s"""WITH ${kmeansCte(semKcSql)},
        $kmeansSeededCtes
        SELECT fk AS k, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(orphan) AS BIGINT) AS n_orphan,
          CAST(sum(dist) // count(*) AS BIGINT) AS mean_dist2
        FROM sa${kmIters + 1} GROUP BY fk ORDER BY k""")),

    // CENTROID SILHOUETTE — the cluster-quality certificate over the
    // declared k-means (the standard O(n·k) simplification of
    // Rousseeuw 1987's O(n²) silhouette: a = squared distance to the
    // OWN centroid — the assignment's dist, already computed — b =
    // min squared distance to any OTHER centroid): s = (√b − √a) /
    // √max(a, b) per vector, rounded ONCE onto the e6 grid (the
    // quantizer's round(x·1e6, 0) pattern — identical IEEE sqrt/÷
    // chain both engines), per-cluster truncated integer mean. The
    // max(a,b) = 0 duplicate-centroid corner is declared s = 0, never
    // NaN. This is the "did the clustering help" gate a production
    // pipeline runs before acting on cluster structure (e.g. before
    // the SemDeDup screen). Scale: ONE extra broadcast-codebook scan
    // over the assignment frame — the Lloyd round profile, no new
    // shuffle shape.
    QDef("q_kmeans_silhouette",
      (s, d) => {
        val (q, cent) = kmeansTrain(s, d)
        val asg = kmAssignFrame(q, cent)
        val db = (0 until kmDims)
          .map(i => (col(s"q$i") - col(s"m$i")) *
            (col(s"q$i") - col(s"m$i"))).reduce(_ + _)
        val second = asg
          .crossJoin(broadcast(cent.withColumnRenamed("ck", "ok")))
          .filter(col("ok") =!= col("ck"))
          .groupBy(col("vec_id")).agg(min(db).as("b2"))
        asg.select(col("vec_id"), col("ck"), col("dist"))
          .join(second, "vec_id")
          .select(col("ck"), expr("""CASE WHEN greatest(dist, b2) = 0
              THEN 0 ELSE CAST(round((sqrt(CAST(b2 AS DOUBLE))
                - sqrt(CAST(dist AS DOUBLE)))
              / sqrt(CAST(greatest(dist, b2) AS DOUBLE))
              * 1000000, 0) AS BIGINT) END""").as("s_e6"))
          .groupBy(col("ck"))
          .agg(count(lit(1)).as("n"),
            expr("sum(s_e6) div count(1)").as("mean_sil_e6"))
          .select(col("ck").as("k"), col("n"), col("mean_sil_e6"))
          .orderBy(col("k"))
      },
      Some(s"""WITH $kmeansCtePrelude,
        sb AS (SELECT x.vec_id, min(${(0 until kmDims)
          .map(i => s"(x.q$i - c.m$i) * (x.q$i - c.m$i)")
          .mkString(" + ")}) AS b2
          FROM x JOIN fin f USING (vec_id)
          JOIN c$kmIters c ON c.ck <> f.ck
          GROUP BY x.vec_id),
        sil AS (SELECT f.ck, CASE WHEN greatest(f.dist, s.b2) = 0
            THEN 0 ELSE CAST(round((sqrt(CAST(s.b2 AS DOUBLE))
              - sqrt(CAST(f.dist AS DOUBLE)))
            / sqrt(CAST(greatest(f.dist, s.b2) AS DOUBLE))
            * 1000000, 0) AS BIGINT) END AS s_e6
          FROM fin f JOIN sb s USING (vec_id))
        SELECT ck AS k, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_sil_e6
        FROM sil GROUP BY ck ORDER BY k""")),

    // K-CENTER GREEDY CORESET (Gonzalez 1985; the Sener–Savarese
    // core-set selection rule) — DIVERSITY sampling for curation, the
    // complement of the dedup ladder (dedup removes the redundant;
    // this SELECTS the maximally spread): seed with the lowest vec_id,
    // then 7 greedy rounds of "pick the vector farthest from the
    // chosen set" (exact integer min-distance on the shared e6 grid,
    // ties → lowest vec_id; already-chosen vectors are anti-joined out
    // so the duplicate-vector corner cannot re-pick). The 2-approx
    // guarantee of greedy k-center is the declared contract, and the
    // 9th row IS the coverage certificate: the first vector a 9th pick
    // would take — its dist2 is the exact k-center coverage radius²
    // (every vector lies within √dist2 of some pick; is_pick = 0 marks
    // it as certificate, not selection). Scale: one corpus scan per
    // round against a ≤ 8-row broadcast — 9 linear passes, no shuffle
    // beyond the per-vector min agg; the global argmax is a 1-group
    // max_by (partial-agg combinable). Radii are non-increasing by
    // construction (greedy invariant, spec-asserted).
    QDef("q_coreset_kcenter",
      (s, d) => {
        val q = embeddings(s, d).select(
          col("vec_id") +: (0 until kmDims).map(i =>
            round(element_at(col("embedding"), i + 1).cast("double")
              * 1000000, 0).cast("long").as(s"q$i")): _*)
          .localCheckpoint(true) // read by all 9 rounds
        val dist = (0 until kmDims)
          .map(i => (col(s"q$i") - col(s"m$i")) * (col(s"q$i") - col(s"m$i")))
          .reduce(_ + _)
        var chosen = q.orderBy(col("vec_id")).limit(1)
          .select(Seq(lit(1L).as("pick_no"), col("vec_id"),
            lit(0L).as("dist2")) ++
            (0 until kmDims).map(i => col(s"q$i").as(s"m$i")): _*)
          .localCheckpoint(true)
        for (r <- 2 to 9) {
          val dmin = q
            .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .crossJoin(broadcast(chosen.select(
              (0 until kmDims).map(i => col(s"m$i")): _*)))
            .groupBy(col("vec_id")).agg(min(dist).as("dd"))
          val pick = dmin.join(q, "vec_id")
            .agg(max_by(
              struct(Seq(col("vec_id"), col("dd")) ++
                (0 until kmDims).map(i => col(s"q$i")): _*),
              struct(col("dd"), (-col("vec_id")).as("tie"))).as("p"))
            .select(Seq(lit(r.toLong).as("pick_no"),
              col("p.vec_id").as("vec_id"), col("p.dd").as("dist2")) ++
              (0 until kmDims).map(i => col(s"p.q$i").as(s"m$i")): _*)
          chosen = chosen.unionAll(pick).localCheckpoint(true)
        }
        chosen.select(col("pick_no"), col("vec_id"), col("dist2"),
            (col("pick_no") <= 8L).cast("long").as("is_pick"))
          .orderBy(col("pick_no"))
      },
      Some {
        val qDefs = (0 until kmDims).map(i =>
          s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
            s" AS BIGINT) AS q$i").mkString(", ")
        val mList = (0 until kmDims).map(i => s"q$i AS m$i").mkString(", ")
        def distSql = (0 until kmDims)
          .map(i => s"(x.q$i - c.m$i) * (x.q$i - c.m$i)").mkString(" + ")
        // MATERIALIZED: each ch$r is referenced three times by round
        // r+1 (candidate cross join, NOT IN, and the next union) — an
        // inlining planner would re-expand the chain exponentially
        def round_(r: Int): String = s"""
        dm$r AS MATERIALIZED (SELECT x.vec_id, min($distSql) AS dd
          FROM x CROSS JOIN ch${r - 1} c
          WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
          GROUP BY x.vec_id),
        p$r AS (SELECT $r AS pick_no, d.vec_id, d.dd AS dist2, ${(0 until kmDims)
          .map(i => s"x.q$i AS m$i").mkString(", ")}
          FROM (SELECT *, row_number() OVER (ORDER BY dd DESC, vec_id)
              AS rn FROM dm$r) d
          JOIN x ON d.vec_id = x.vec_id WHERE d.rn = 1),
        ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
          UNION ALL SELECT * FROM p$r)"""
        s"""WITH x AS MATERIALIZED (SELECT vec_id, $qDefs FROM embeddings),
        ch1 AS MATERIALIZED (SELECT 1 AS pick_no, vec_id, 0 AS dist2, $mList
          FROM x WHERE vec_id = (SELECT min(vec_id) FROM x)),
        ${(2 to 9).map(round_).mkString(",")}
        SELECT CAST(pick_no AS BIGINT) AS pick_no, vec_id,
          CAST(dist2 AS BIGINT) AS dist2,
          CAST(pick_no <= 8 AS BIGINT) AS is_pick
        FROM ch9 ORDER BY pick_no"""
      }),

    // QUALITY-WEIGHTED k-CENTER (r13; NEXT r12 candidate 6) — greedy
    // facility location: the plain coreset maximizes SPREAD alone, but
    // curation wants "the best spread OF THE GOOD docs" — each greedy
    // round picks the point maximizing w(v)·dmin(v)² (quality-weighted
    // farthest-point; the weighted Gonzalez form of the Sener–Savarese
    // core-set rule), so a far-but-junk outlier loses to a slightly
    // nearer high-quality doc. The weight is a DECLARED integer
    // quality band over the aligned documents table (vec_id ≡ doc_id):
    // w = least(4, n_chars div 100) + 1 ∈ [1, 5] — the length-quality
    // heuristic banded to exact integers, so every compared byte stays
    // class A (score = w·dist² is a BIGINT product, ≤ 5·3.2e13). Seed,
    // tie rule (score desc, lowest id), anti-join, 9th-row coverage
    // certificate, and the MATERIALIZED-CTE oracle discipline are the
    // q_coreset_kcenter machinery with the one scored line changed.
    QDef("q_coreset_weighted",
      (s, d) => {
        val q = embeddings(s, d).select(
            col("vec_id") +: (0 until kmDims).map(i =>
              round(element_at(col("embedding"), i + 1).cast("double")
                * 1000000, 0).cast("long").as(s"q$i")): _*)
          .join(documents(s, d).select(col("doc_id").as("vec_id"),
            expr("least(4, n_chars div 100) + 1").as("w")), "vec_id")
          .localCheckpoint(true) // read by all 9 rounds
        val dist = (0 until kmDims)
          .map(i => (col(s"q$i") - col(s"m$i")) * (col(s"q$i") - col(s"m$i")))
          .reduce(_ + _)
        var chosen = q.orderBy(col("vec_id")).limit(1)
          .select(Seq(lit(1L).as("pick_no"), col("vec_id"), col("w"),
            lit(0L).as("dist2")) ++
            (0 until kmDims).map(i => col(s"q$i").as(s"m$i")): _*)
          .localCheckpoint(true)
        for (r <- 2 to 9) {
          val dmin = q
            .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .crossJoin(broadcast(chosen.select(
              (0 until kmDims).map(i => col(s"m$i")): _*)))
            .groupBy(col("vec_id")).agg(min(dist).as("dd"))
          val pick = dmin.join(q, "vec_id")
            .agg(max_by(
              struct(Seq(col("vec_id"), col("w"), col("dd")) ++
                (0 until kmDims).map(i => col(s"q$i")): _*),
              struct((col("dd") * col("w")).as("sc"),
                (-col("vec_id")).as("tie"))).as("p"))
            .select(Seq(lit(r.toLong).as("pick_no"),
              col("p.vec_id").as("vec_id"), col("p.w").as("w"),
              col("p.dd").as("dist2")) ++
              (0 until kmDims).map(i => col(s"p.q$i").as(s"m$i")): _*)
          chosen = chosen.unionAll(pick).localCheckpoint(true)
        }
        chosen.select(col("pick_no"), col("vec_id"), col("w"),
            col("dist2"), (col("w") * col("dist2")).as("wscore"),
            (col("pick_no") <= 8L).cast("long").as("is_pick"))
          .orderBy(col("pick_no"))
      },
      Some {
        val qDefs = (0 until kmDims).map(i =>
          s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000, 0)" +
            s" AS BIGINT) AS q$i").mkString(", ")
        val mList = (0 until kmDims).map(i => s"q$i AS m$i").mkString(", ")
        def distSql = (0 until kmDims)
          .map(i => s"(x.q$i - c.m$i) * (x.q$i - c.m$i)").mkString(" + ")
        def round_(r: Int): String = s"""
        dm$r AS MATERIALIZED (SELECT x.vec_id, min($distSql) AS dd
          FROM x CROSS JOIN ch${r - 1} c
          WHERE x.vec_id NOT IN (SELECT vec_id FROM ch${r - 1})
          GROUP BY x.vec_id),
        p$r AS (SELECT $r AS pick_no, d.vec_id, x.w, d.dd AS dist2,
            ${(0 until kmDims).map(i => s"x.q$i AS m$i").mkString(", ")}
          FROM (SELECT dm.*, row_number() OVER (
                ORDER BY dm.dd * x2.w DESC, dm.vec_id) AS rn
              FROM dm$r dm JOIN x x2 ON dm.vec_id = x2.vec_id) d
          JOIN x ON d.vec_id = x.vec_id WHERE d.rn = 1),
        ch$r AS MATERIALIZED (SELECT * FROM ch${r - 1}
          UNION ALL SELECT * FROM p$r)"""
        s"""WITH x AS MATERIALIZED (SELECT e.vec_id, $qDefs,
          least(4, doc.n_chars // 100) + 1 AS w
          FROM embeddings e JOIN documents doc ON e.vec_id = doc.doc_id),
        ch1 AS MATERIALIZED (SELECT 1 AS pick_no, vec_id, w, 0 AS dist2,
            $mList
          FROM x WHERE vec_id = (SELECT min(vec_id) FROM x)),
        ${(2 to 9).map(round_).mkString(",")}
        SELECT CAST(pick_no AS BIGINT) AS pick_no, vec_id,
          CAST(w AS BIGINT) AS w, CAST(dist2 AS BIGINT) AS dist2,
          CAST(w * dist2 AS BIGINT) AS wscore,
          CAST(pick_no <= 8 AS BIGINT) AS is_pick
        FROM ch9 ORDER BY pick_no"""
      }),

    // SEMANTIC DEDUP SCREEN (SemDeDup, Abbas et al. 2023) — embedding-
    // space redundancy the token-level families cannot see: partition
    // the corpus with the DECLARED integer k-means (the exact
    // q_kmeans_lloyd trajectory — shared kmeansAssign/kmeansCtePrelude
    // machinery, so the clustering and the dedup can never drift),
    // then screen WITHIN each semantic cluster for the most redundant
    // pair: all within-cluster cosines on the e6-quantized vectors
    // (exact integer dot/norms; one identical IEEE sqrt/÷ chain,
    // rounded once), per-cluster argmax under the (cos desc, id_a,
    // id_b) total order. This corpus has no semantic near-dups (max
    // pairwise cosine 0.51 over the full 64 dims — measured; the 8-dim
    // screening projection inflates cosines to ~0.9-0.98, which is
    // why SemDeDup thresholds are calibrated per embedding space), so
    // the declared output is the per-cluster screening REPORT (size +
    // top pair + its cosine) rather than a thresholded pair list that
    // would be honestly empty; the SemDeDup production action applies
    // a threshold to exactly this frame. Scale: the operator CARRIES
    // its operating point — k = max(8, n div 200) from parquet footer
    // stats (semK; the oracle derives the same k by scalar subquery),
    // so the expected cell population is capped at ~200 and the
    // within-cluster pair fan stays constant as the corpus grows (the
    // SemDeDup paper's k ≈ n/target_cell rule; the fixed-k n²/k worst
    // case is kept as a measured TUNING row, not as the shipped
    // shape). Pair replay + cell-boundedness law in-spec.
    QDef("q_semantic_dedup",
      (s, d) => {
        val asg = kmeansAssign(s, d, semK(s, d))
          .withColumn("n2", (0 until kmDims)
            .map(i => col(s"q$i") * col(s"q$i")).reduce(_ + _))
          .localCheckpoint(true) // both pair sides + sizes read it
        val pairs = asg.as("a").join(asg.as("b"),
            col("a.ck") === col("b.ck") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.ck").as("ck"), col("a.vec_id").as("id_a"),
            col("b.vec_id").as("id_b"),
            (0 until kmDims).map(i => col(s"a.q$i") * col(s"b.q$i"))
              .reduce(_ + _).as("dot"),
            col("a.n2").as("na2"), col("b.n2").as("nb2"))
          .withColumn("cos_r6",
            expr("round(CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))" +
              " * sqrt(CAST(nb2 AS DOUBLE))), 6)"))
        val wTop = Window.partitionBy(col("ck"))
          .orderBy(col("cos_r6").desc, col("id_a"), col("id_b"))
        val top = pairs.withColumn("rk", row_number().over(wTop))
          .filter(col("rk") === 1)
          .select(col("ck"), col("id_a"), col("id_b"), col("cos_r6"))
        asg.groupBy(col("ck")).agg(count(lit(1)).as("n_members"))
          .join(top, Seq("ck"), "left")
          .select(col("ck").as("cluster"), col("n_members"),
            col("id_a"), col("id_b"), col("cos_r6").as("top_cos"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH ${kmeansCte(semKSql)},
        xa AS (SELECT f.vec_id, f.ck, ${(0 until kmDims)
          .map(i => s"x.q$i").mkString(", ")},
            ${(0 until kmDims).map(i => s"x.q$i * x.q$i")
          .mkString(" + ")} AS n2
          FROM fin f JOIN x ON f.vec_id = x.vec_id),
        prs AS (SELECT a.ck, a.vec_id AS id_a, b.vec_id AS id_b,
            ${(0 until kmDims).map(i => s"a.q$i * b.q$i")
          .mkString(" + ")} AS dot,
            a.n2 AS na2, b.n2 AS nb2
          FROM xa a JOIN xa b
            ON a.ck = b.ck AND a.vec_id < b.vec_id),
        scored AS (SELECT ck, id_a, id_b,
            round(CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))
              * sqrt(CAST(nb2 AS DOUBLE))), 6) AS cos_r6
          FROM prs),
        top AS (SELECT ck, id_a, id_b, cos_r6 FROM (
            SELECT *, row_number() OVER (PARTITION BY ck
              ORDER BY cos_r6 DESC, id_a, id_b) AS rk FROM scored)
          WHERE rk = 1),
        sz AS (SELECT ck, count(*) AS n_members FROM fin GROUP BY ck)
        SELECT sz.ck AS cluster, n_members, id_a, id_b,
          cos_r6 AS top_cos
        FROM sz LEFT JOIN top ON sz.ck = top.ck
        ORDER BY cluster""")),

    // Set-similarity join via PREFIX FILTERING (AllPairs/PPJoin,
    // Bayardo et al. WWW'07): the lossless alternative to LSH candidate
    // generation. Shingles order globally rare-first (df asc, shingle
    // asc); a pair with Jaccard ≥ 0.5 MUST collide inside the first
    // |T| − ceil(0.5·|T|) + 1 shingles of each side (prefix-filtering
    // principle), so joining just the prefixes is candidate-complete
    // while skipping the hot common shingles that dominate the full
    // equi-join's fan-out. Candidates then verify against the exact
    // intersection. The oracle recomputes BRUTE-FORCE Jaccard ≥ 0.5 —
    // equality with it is the losslessness proof, driver-checked.
    // Scale: candidate fan-out is bounded by the df of RARE shingles
    // (the frequent ones never enter a prefix) — the structural fix for
    // the same hot-key landmine maxShingleDf caps heuristically.
    QDef("q_setsim_prefix_join",
      (s, d) => setsimPrefixJoin(s, d, sampled = false),
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 2 * inter >= sa.sz + sb.sz - inter
        ORDER BY id_a, id_b""")),

    // SAMPLED variant of the prefix join — the 100 TB audit cadence: the
    // exact join above is the semantics; this runs the identical pipeline
    // on a declared deterministic 1/16 pair sample (md5 nibble, see
    // pairSample) injected INTO the candidate join, so candidate
    // generation, distinct, and exact verification all shrink ~16×. The
    // oracle is the brute force under the same sample — losslessness on
    // the sampled stratum, driver-checked; LlmDedupSpec checks the sample
    // is a strict subset of the exact join's result.
    QDef("q_setsim_prefix_sampled",
      (s, d) => setsimPrefixJoin(s, d, sampled = true),
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 2 * inter >= sa.sz + sb.sz - inter
          AND $pairSampleSql
        ORDER BY id_a, id_b""")),

    // Overlap-coefficient (containment) join — quote/subset detection at
    // ov ≥ 0.8: same prefix machinery, containment threshold algebra
    // (prefix on the SMALLER side only, probing the larger side's full
    // positioned list; see setsimOverlapJoin). Oracle = brute force over
    // the shared pair CTE — equality IS the losslessness proof.
    QDef("q_setsim_overlap",
      (s, d) => setsimOverlapJoin(s, d),
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS overlap_coeff
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 5 * inter >= 4 * least(sa.sz, sb.sz)
        ORDER BY id_a, id_b""")),

    // SAMPLED containment-join audit — the same deterministic 1/16
    // md5-nibble pair stratum as the prefix/simhash/minhash audits,
    // injected at the candidate join (canonical id_a < id_b key via
    // least/greatest since the join orients by size). This is the
    // bounded-cost daily QA cadence for the containment family; the
    // oracle is the brute force restricted to the same stratum.
    QDef("q_setsim_overlap_sampled",
      (s, d) => setsimOverlapJoin(s, d, sampled = true),
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS overlap_coeff
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE 5 * inter >= 4 * least(sa.sz, sb.sz)
          AND $pairSampleSql
        ORDER BY id_a, id_b""")),

    // SimHash Hamming-distance near-dup JOIN via pigeonhole banding —
    // the bit-fingerprint family's join operator beside the shingle
    // family's prefix join. Declared fingerprint: 32-bit simhash over
    // DISTINCT tokens, token hash = first 8 md5 hex chars as an int
    // (cross-engine: Spark conv(,16,10) ≡ DuckDB nibble strpos Horner),
    // bit j set iff strictly more than half the tokens vote 1. Pairs at
    // Hamming ≤ 3: any such pair agrees EXACTLY on ≥1 of the 4 8-bit
    // bands (pigeonhole: 3 differing bits touch ≤ 3 bands), so the
    // candidate join is 4 band-key equi-joins in one (band_idx,
    // band_val) join — never all-pairs — then verified with
    // bit_count(xor) ≤ 3. Lossless by pigeonhole; the oracle is the
    // brute-force pair scan. All-integer (class A).
    QDef("q_simhash_hamming_join",
      (s, d) => simhashHammingJoin(s, d, sampled = false),
      Some(simhashHammingOracle(sampled = false))),

    // SAMPLED simhash-join audit — a deterministic 1/16 pair stratum
    // injected at the band candidate join, but in the CHEAP-PREDICATE
    // form: per-doc md5 nibbles precomputed once in the checkpointed
    // fingerprint frame, join-time test (nib_a + nib_b) % 16 = 0
    // (integer add + mod). The pair-md5 form the set-sim audits use
    // costs a hash per enumerated band candidate, which here exceeded
    // the one-bit_count verify it skips (the r10 inversion: sampled
    // 3.73 s vs full 3.00 s at sf0.1 — VERDICT r10 item 1).
    QDef("q_simhash_hamming_sampled",
      (s, d) => simhashHammingJoin(s, d, sampled = true),
      Some(simhashHammingOracle(sampled = true))),

    // 64-BIT simhash Hamming join — the fingerprint density the 100 TB
    // corpus actually needs (see simhash64HammingJoin: at 10⁹ docs the
    // 32-bit fingerprint admits ~10¹¹ random Hamming ≤ 3 collisions,
    // the 64-bit one a few thousand). 4×16-bit band pigeonhole over the
    // (hi, lo) word pair, bit_count verification, all-integer (class A).
    QDef("q_simhash64_hamming_join",
      (s, d) => simhash64HammingJoin(s, d),
      Some(simhash64HammingOracle)),

    // 128-BIT simhash Hamming join — beyond-10⁹-docs density: expected
    // random Hamming ≤ 3 collisions are zero at any corpus size
    // (P ≈ 10⁻³⁴), so every emitted pair is structurally near-identical
    // and verification never drowns. The four 32-bit md5 words are
    // themselves the pigeonhole bands — no sub-word shifts — and the
    // 32-bit band values cut bucket fan-out another 65,536× vs the
    // 64-bit join's 16-bit bands (the fan-out axis that dominated the
    // 32→64-bit 10× ScaleProof gap). All-integer (class A).
    QDef("q_simhash128_hamming_join",
      (s, d) => simhash128HammingJoin(s, d),
      Some(simhash128HammingOracle)),

    // CROSS-SOURCE overlap matrix — the corpus-level dedup planner's
    // input: for every source pair, distinct-3-shingle set sizes,
    // intersection, and Jaccard in basis points. This is how a mixture
    // builder decides which source pairs need cross-source dedup at all
    // (near-zero overlap ⇒ the expensive pairwise families can run
    // per-source). Scale: distinct (source, shingle) is one map-side-
    // combinable hash-agg; the intersection join keys on the shingle and
    // fans out ≤ |sources|² per shingle — bounded by the source count,
    // NOT the corpus, so no df cap is needed (unlike doc-level joins);
    // the final matrix assembly is a broadcast cross of the 20-row size
    // frame. All-integer (class A), matrix-complete (zero-overlap pairs
    // emitted with inter = 0).
    QDef("q_source_overlap",
      (s, d) => {
        val sh = documents(s, d)
          .select(col("source"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("source"), explode(array_distinct(transform(
            sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))).as("sh"))
          .distinct()
          .localCheckpoint(true)
        val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val inter = sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("ov"))
        sizes.select(col("source").as("source_a"), col("sz").as("n_a"))
          .crossJoin(broadcast(
            sizes.select(col("source").as("source_b"), col("sz").as("n_b"))))
          .filter(col("source_a") < col("source_b"))
          .join(inter, Seq("source_a", "source_b"), "left")
          .withColumn("inter", coalesce(col("ov"), lit(0L)))
          .withColumn("jaccard_bp",
            expr("inter * 10000 div (n_a + n_b - inter)"))
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
            col("inter"), col("jaccard_bp"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH sh AS (SELECT DISTINCT source, sh FROM (
            SELECT source, unnest(list_distinct(
              list_transform(range(len(toks) - 2),
                i -> array_to_string(toks[i+1:i+3], ' ')))) AS sh
            FROM (SELECT source, $tokensSql AS toks FROM documents)
            WHERE len(toks) >= 3)),
          sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
          ov AS (SELECT a.source AS source_a, b.source AS source_b,
              count(*) AS ov
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
            GROUP BY 1, 2)
          SELECT sa.source AS source_a, sb.source AS source_b,
            sa.sz AS n_a, sb.sz AS n_b,
            CAST(COALESCE(i.ov, 0) AS BIGINT) AS inter,
            CAST(COALESCE(i.ov, 0) * 10000
              // (sa.sz + sb.sz - COALESCE(i.ov, 0)) AS BIGINT) AS jaccard_bp
          FROM sizes sa JOIN sizes sb ON sa.source < sb.source
          LEFT JOIN ov i ON i.source_a = sa.source AND i.source_b = sb.source
          ORDER BY source_a, source_b""")),

    // MERGEABLE MINHASH SIGNATURE — the third custom
    // TypedImperativeAggregate (beside t-digest and Misra–Gries), and
    // the only one whose raw output the oracle reproduces EXACTLY:
    // elementwise min is order-free, so the 16-permutation signature is
    // a pure function of each source's token SET (class A — no band
    // flags). The oracle replays every permutation in SQL over the
    // identical md5-Horner base hash and fixed public (a_i, b_i)
    // constants; a single differing long anywhere fails the hash gate.
    // Scale: O(16) state per group, partials merge by min — per-segment
    // signatures roll up without rescanning (the t-digest-rollup
    // argument with zero estimation error in the compare).
    // LSH BAND-CONFIGURATION SWEEP (r13) — the (b, r) operating curve
    // AS A DECLARED OPERATOR, the q_ivf_recall_sweep pattern for the
    // MinHash side: ONE 16-permutation signature set banded FOUR ways
    // with NESTED band boundaries (b ∈ {2,4,8,16}, r = 16/b; each
    // coarser band is a concatenation of finer ones), which upgrades
    // the usual probabilistic monotonicity to a DETERMINISTIC superset
    // law — a pair matching an r-row band necessarily matches every
    // sub-band, so candidates(b) ⊆ candidates(2b) pair-for-pair and
    // recall against the exact Jaccard ≥ 0.5 edge set is monotone as
    // a mathematical invariant (superset_ok / mono_ok), not a
    // statistical tendency. floor_ok carries the measured per-config
    // recall floors; n_exact (the exact ≥ 0.5 edge count off the
    // shared memoized ≥ 0.2 frame — a free filter) is the
    // exactly-oracled anchor column. Scale: signatures amortize across
    // all four configs; each config adds only its band-bucket
    // equi-join — the sweep costs ~the finest config, not the sum.
    QDef("q_lsh_band_sweep",
      (s, d) => lshBandSweep(s, d, sampled = false),
      Some(s"""WITH $dupPairsCte,
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
        SELECT t.n_bands, t.rows_per_band, ne.n_exact, t.floor_ok,
          t.superset_ok, t.mono_ok
        FROM (VALUES
          (CAST(2 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT),
           CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
          (4, 4, 1, 1, 1), (8, 2, 1, 1, 1), (16, 1, 1, 1, 1))
          t(n_bands, rows_per_band, floor_ok, superset_ok, mono_ok)
        CROSS JOIN ne ORDER BY t.n_bands""")),

    // SAMPLED BAND-SWEEP AUDIT TWIN (r14, VERDICT directive 3) — the
    // sweep's bounded instrument at scales where the exact ≥ 0.5
    // recall denominator (the shared pairwise edge frame) exceeds
    // single-node scratch: the identical 4-config nested-band sweep
    // over the deterministic 1/4 doc stratum (first md5 nibble ≤ 3 ⇒
    // 1/16 of the pair work; the shared "#nib3" stratum edge frame).
    // Per-pair band-hit probability is a function of the pair's own
    // signatures alone, so the stratum estimates the full sweep's
    // recall curve unbiasedly; the superset/monotone laws hold
    // exactly on any subset by construction. Machinery shared
    // VERBATIM via lshBandSweep with only the document WHERE (and the
    // stratum memo key) injected.
    QDef("q_lsh_band_sweep_sampled",
      (s, d) => lshBandSweep(s, d, sampled = true),
      Some {
        val w = s" WHERE ${Llm.docSampleNibbleSql("doc_id")} <= 3"
        s"""WITH ${dupPairsCteW(w)},
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
        SELECT t.n_bands, t.rows_per_band, ne.n_exact, t.floor_ok,
          t.superset_ok, t.mono_ok
        FROM (VALUES
          (CAST(2 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT),
           CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
          (4, 4, 1, 1, 1), (8, 2, 1, 1, 1), (16, 1, 1, 1, 1))
          t(n_bands, rows_per_band, floor_ok, superset_ok, mono_ok)
        CROSS JOIN ne ORDER BY t.n_bands"""
      }),

    // JOHNSON–LINDENSTRAUSS RANDOM PROJECTION (r14) — the dimension-
    // reduction step in front of an ANN index (64 → 16 dims cuts the
    // distance work 4× while JL bounds the distortion): a RADEMACHER
    // ±1 projection (Achlioptas 2003 — database-friendly: no floats
    // in the matrix) with every sign derived from md5(i || '_' || j)
    // nibble parity, so the matrix is a deterministic CONSTANT both
    // engines (and any future run) reconstruct bit-identically — no
    // RNG state, the q_split_assign idiom applied to a matrix. Inputs
    // e6-quantized (the PCA/k-means grid); y_i = Σ_j s_ij·q_j is exact
    // BIGINT arithmetic via zip_with/aggregate (codegen, no UDF); the
    // per-vector certificate ratio = ‖y‖²/(k·‖q‖²) — expectation 1
    // under ±1 signs — lands by one HUGEINT/DECIMAL(38) division.
    // Scale: the 16×64 sign matrix is a plan-time literal (broadcast-
    // free); the whole operator is ONE map-only pass over vectors —
    // no shuffle at any corpus size; the final orderBy is the
    // presentation sort the gate requires.
    QDef("q_random_projection",
      (s, d) => {
        val k = 16
        val dim = 64
        def sign(i: Int, j: Int): Long = {
          val md = java.security.MessageDigest.getInstance("MD5")
          val nib = (md.digest(s"${i}_$j".getBytes("UTF-8"))(0) >> 4) & 0xf
          if (nib % 2 == 1) 1L else -1L
        }
        val q = embeddings(s, d).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
            " * 1000000, 0) AS BIGINT))").as("qv"))
        val ys = (0 until k).map { i =>
          val sgns = array((0 until dim).map(j => lit(sign(i, j))): _*)
          aggregate(zip_with(col("qv"), sgns, (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as(s"y$i")
        }
        val norm2 = expr(
          "aggregate(transform(qv, x -> x * x), 0L, (a, x) -> a + x)")
          .as("norm2")
        q.select(col("vec_id") +: norm2 +: ys: _*)
          .select(col("vec_id"), col("norm2"),
            (0 until k).map(i => col(s"y$i") * col(s"y$i"))
              .reduce(_ + _).as("proj2"))
          .select(col("vec_id"), col("norm2"), col("proj2"),
            expr("CAST(CAST(proj2 AS DECIMAL(38,0)) * 1000000" +
              " div greatest(16 * norm2, 1) AS BIGINT)").as("ratio_ppm"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH q AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
              * 1000000, 0) AS BIGINT)) AS qv
          FROM embeddings),
        signs AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
            CASE WHEN (strpos('0123456789abcdef',
                substr(md5(CAST(i AS VARCHAR) || '_'
                  || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2 = 1
              THEN 1 ELSE -1 END AS s
          FROM range(16) t(i) CROSS JOIN range(64) u(j)),
        y AS (SELECT q.vec_id, sg.i,
            CAST(sum(sg.s * q.qv[CAST(sg.j + 1 AS INT)]) AS BIGINT) AS y
          FROM q CROSS JOIN signs sg GROUP BY 1, 2),
        p AS (SELECT vec_id, CAST(sum(y * y) AS BIGINT) AS proj2
          FROM y GROUP BY 1),
        n AS (SELECT vec_id,
            CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
              AS norm2
          FROM q)
        SELECT n.vec_id, n.norm2, p.proj2,
          CAST(CAST(p.proj2 AS HUGEINT) * 1000000
            // greatest(16 * n.norm2, 1) AS BIGINT) AS ratio_ppm
        FROM n JOIN p USING (vec_id) ORDER BY vec_id""")),

    QDef("q_minhash_sig",
      (s, d) => {
        import graft.functions.MinHashSigAgg.minhash_sig
        documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("source"))
          .agg(minhash_sig(col("tok")).as("sig"))
          .select(col("source"), posexplode(col("sig")))
          .select(col("source"), col("pos").cast("long").as("perm"),
            col("col").as("sigval"))
          .orderBy(col("source"), col("perm"))
      },
      Some(s"""WITH toks AS (SELECT DISTINCT source,
            CAST(${md5NibbleHorner(1)} AS BIGINT) % 2147483647 AS h0
          FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)),
        perms AS (SELECT CAST(i AS BIGINT) AS i,
            ((2 * CAST(i AS BIGINT) + 3) * 40503) % 2147483647 AS a,
            ((CAST(i AS BIGINT) + 1) * 2654435761) % 2147483647 AS b
          FROM range(16) t(i))
        SELECT source, i AS perm,
          CAST(min((a * h0 + b) % 2147483647) AS BIGINT) AS sigval
        FROM toks CROSS JOIN perms
        GROUP BY source, i ORDER BY source, perm""")),

    // MinHash signature AGREEMENT vs exact Jaccard — the signature's
    // use case: estimate every source pair's token-set Jaccard from the
    // 16-long signatures alone (matches·625 bp) and put the EXACT
    // distinct-token Jaccard beside it with the absolute error, all in
    // integers (the err distribution is the estimator's measured
    // quality; RSE = 1/√16 = 0.25, spec re-measures the mean error
    // floor each round). Scale: signatures make the pair stage O(|src|²
    // ·16) on a 320-row frame — the exact side exists only as the
    // audit; a production run ships signatures alone.
    QDef("q_minhash_sig_pairs",
      (s, d) => {
        import graft.functions.MinHashSigAgg.minhash_sig
        val sigv = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy(col("source"))
          .agg(minhash_sig(col("tok")).as("sig"))
          .select(col("source"), posexplode(col("sig")))
          .select(col("source"), col("pos").as("perm"),
            col("col").as("sigval"))
          .localCheckpoint(true) // 16·|sources| rows; feeds both sides
        val matches = sigv.select(col("source").as("source_a"),
            col("perm"), col("sigval").as("va"))
          .join(sigv.select(col("source").as("source_b"), col("perm"),
            col("sigval").as("vb")), Seq("perm"))
          .filter(col("source_a") < col("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(sum((col("va") === col("vb")).cast("long")).as("matches"))
        val st = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .distinct()
          .localCheckpoint(true)
        val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val inter = st.as("a").join(st.as("b"),
            col("a.tok") === col("b.tok") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("inter"))
        matches
          .join(sizes.select(col("source").as("source_a"),
            col("sz").as("n_a")), Seq("source_a"))
          .join(sizes.select(col("source").as("source_b"),
            col("sz").as("n_b")), Seq("source_b"))
          .join(inter, Seq("source_a", "source_b"), "left")
          .withColumn("inter", coalesce(col("inter"), lit(0L)))
          .select(col("source_a"), col("source_b"), col("matches"),
            (col("matches") * 625).as("est_bp"),
            expr("inter * 10000 div (n_a + n_b - inter)").as("exact_bp"))
          .withColumn("err_bp", abs(col("est_bp") - col("exact_bp")))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""WITH toks AS (SELECT DISTINCT source, tok
          FROM (SELECT source, unnest($tokensSql) AS tok FROM documents)),
        h AS (SELECT DISTINCT source,
            CAST(${md5NibbleHorner(1)} AS BIGINT) % 2147483647 AS h0
          FROM toks),
        perms AS (SELECT CAST(i AS BIGINT) AS i,
            ((2 * CAST(i AS BIGINT) + 3) * 40503) % 2147483647 AS a,
            ((CAST(i AS BIGINT) + 1) * 2654435761) % 2147483647 AS b
          FROM range(16) t(i)),
        sig AS (SELECT source, i AS perm,
            min((a * h0 + b) % 2147483647) AS sigval
          FROM h CROSS JOIN perms GROUP BY source, i),
        m AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(sum(CASE WHEN a.sigval = b.sigval THEN 1 ELSE 0 END)
              AS BIGINT) AS matches
          FROM sig a JOIN sig b ON a.perm = b.perm
            AND a.source < b.source
          GROUP BY 1, 2),
        sizes AS (SELECT source, count(*) AS sz FROM toks GROUP BY source),
        iv AS (SELECT a.source AS source_a, b.source AS source_b,
            count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT m.source_a, m.source_b, matches,
          CAST(matches * 625 AS BIGINT) AS est_bp,
          CAST(COALESCE(iv.inter, 0) * 10000
            // (sa.sz + sb.sz - COALESCE(iv.inter, 0)) AS BIGINT)
            AS exact_bp,
          CAST(abs(matches * 625 - COALESCE(iv.inter, 0) * 10000
            // (sa.sz + sb.sz - COALESCE(iv.inter, 0))) AS BIGINT)
            AS err_bp
        FROM m
        JOIN sizes sa ON m.source_a = sa.source
        JOIN sizes sb ON m.source_b = sb.source
        LEFT JOIN iv ON iv.source_a = m.source_a
          AND iv.source_b = m.source_b
        ORDER BY m.source_a, m.source_b""")),

    // RECIPROCAL-RANK-FUSION hybrid retrieval — the lexical+semantic
    // fusion every RAG/retrieval stack runs: rank the corpus against a
    // probe document by (a) distinct-token overlap with the probe's
    // token set and (b) embedding cosine to the probe's vector, take
    // each top-50, and fuse with RRF (k = 60, the Cormack et al.
    // constant): score = Σ 1/(60 + rank), absent list contributes 0.
    // Determinism: ranks are assigned over total orders ((overlap desc,
    // id) / (round(cos, 6) desc, id)); the 1/(60+r) terms are rounded to
    // 10 dp before the sum, so both engines add identical doubles (the
    // pre-rounded-terms mechanism, TUNING.md). Scale: both rankings are
    // broadcast-probe map scans; top-50 is a distributed TakeOrdered;
    // row_number windows only ever see the 50-row frames — no global
    // sort anywhere.
    QDef("q_rank_fusion",
      (s, d) => {
        val docs = documents(s, d)
        val qToks = docs.filter(col("doc_id") === 0)
          .select(explode(array_distinct(tokens(col("text")))).as("tok"))
        val lex = docs.filter(col("doc_id") > 0)
          .select(col("doc_id"),
            explode(array_distinct(tokens(col("text")))).as("tok"))
          .join(broadcast(qToks), "tok")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
          .orderBy(col("overlap").desc, col("doc_id")).limit(50)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(col("overlap").desc, col("doc_id"))).cast("long"))
        val e = embeddings(s, d)
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        val sem = e.filter(col("vec_id") > 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id").as("doc_id"),
            round(graft.functions.VectorFunctions.vec_cosine(
              col("embedding"), col("q_emb")), 6).as("sim_r"))
          .orderBy(col("sim_r").desc, col("doc_id")).limit(50)
          .withColumn("sem_rank", row_number().over(
            Window.orderBy(col("sim_r").desc, col("doc_id"))).cast("long"))
        lex.select(col("doc_id"), col("lex_rank"))
          .join(sem.select(col("doc_id"), col("sem_rank")),
            Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(round(lit(1.0) / (lit(60) + col("lex_rank")), 10),
              lit(0.0)) +
            coalesce(round(lit(1.0) / (lit(60) + col("sem_rank")), 10),
              lit(0.0)), 10))
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("lex_rank"), col("sem_rank"), col("rrf"))
      },
      Some(s"""WITH qt AS (SELECT DISTINCT unnest(list_distinct($tokensSql)) AS tok
            FROM documents WHERE doc_id = 0),
          dt AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok
            FROM documents WHERE doc_id > 0),
          lex0 AS (SELECT doc_id, count(*) AS overlap
            FROM dt JOIN qt USING (tok) GROUP BY doc_id
            ORDER BY overlap DESC, doc_id LIMIT 50),
          lex AS (SELECT doc_id, CAST(row_number() OVER (
              ORDER BY overlap DESC, doc_id) AS BIGINT) AS lex_rank
            FROM lex0),
          pr AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
          sem0 AS (SELECT vec_id AS doc_id,
              round(${cosineSql("embedding", "q_emb")}, 6) AS sim_r
            FROM embeddings CROSS JOIN pr WHERE vec_id > 0
            ORDER BY sim_r DESC, doc_id LIMIT 50),
          sem AS (SELECT doc_id, CAST(row_number() OVER (
              ORDER BY sim_r DESC, doc_id) AS BIGINT) AS sem_rank
            FROM sem0)
          SELECT doc_id, lex_rank, sem_rank,
            round(COALESCE(round(CAST(1 AS DOUBLE) / (60 + lex_rank), 10),
                CAST(0 AS DOUBLE))
              + COALESCE(round(CAST(1 AS DOUBLE) / (60 + sem_rank), 10),
                CAST(0 AS DOUBLE)), 10) AS rrf
          FROM lex FULL JOIN sem USING (doc_id)
          ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // Misra–Gries HEAVY HITTERS — the deterministic-bound frequent-items
    // sketch beside approx_top_k/CMS: k=32 counters, estimates never
    // overcount, undercount ≤ n/33, so every token with true count >
    // n/33 is GUARANTEED in the summary — and the summary MERGES
    // (Agarwal et al. PODS'12), which neither of the hash sketches'
    // top-k forms does deterministically. Which extra items survive and
    // their estimates are processing-order-specific (class D), so the
    // compared columns are the EXACT counts of the guaranteed hitters
    // plus the three provable flags: presence, est ≤ true, and
    // 33·(true − est) ≤ n. The oracle computes the exact counts and
    // pins every flag = 1.
    QDef("q_agg_heavyhitters",
      (s, d) => {
        import graft.functions.MisraGriesAgg.misra_gries
        val toks = documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
        val mg = toks.agg(misra_gries(col("tok"), 32).as("mg"))
        val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = toks.agg(count(lit(1)).as("total"))
        exact.crossJoin(broadcast(tot))
          .filter(col("cnt") * 33 > col("total"))
          .crossJoin(broadcast(mg))
          .withColumn("est", element_at(col("mg"), col("tok")))
          .select(col("tok"), col("cnt"),
            col("est").isNotNull.cast("long").as("in_mg"),
            (col("est") <= col("cnt")).cast("long").as("est_le_true"),
            ((col("cnt") - col("est")) * 33 <= col("total")).cast("long")
              .as("err_bound_ok"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some(s"""WITH t AS (SELECT unnest($tokensSql) AS tok FROM documents),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        tot AS (SELECT count(*) AS total FROM t)
        SELECT tok, cnt,
          CAST(1 AS BIGINT) AS in_mg,
          CAST(1 AS BIGINT) AS est_le_true,
          CAST(1 AS BIGINT) AS err_bound_ok
        FROM c, tot WHERE cnt * 33 > total
        ORDER BY cnt DESC, tok""")),

    // DUP-PROFILE ROUTER — turns TUNING.md's set-sim variant guidance
    // into a runnable operator: one hash-agg over exact content groups
    // measures the corpus's duplication profile (dup docs, max clique,
    // total within-clique pair mass) and emits the declared routing
    // verdict. Rule (integer-exact, the measured 10× regimes): if the
    // clique pair mass alone exceeds the corpus size, candidate-
    // complete joins pay Ω(cliques²) before any real work → run exact
    // dedup FIRST; else prefix filtering's candidate cut beats the
    // direct equi-join once the corpus is big enough that verification
    // dominates (declared line: 1000 docs); small dup-sparse corpora
    // take the direct join. One scan + one tiny agg at any scale.
    QDef("q_dup_profile",
      (s, d) => {
        val nDocs = graft.tables.Tables.rowCount(s, d, "documents")
        documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("sz") > 1, col("sz")).otherwise(lit(0L)))
              .as("dup_docs"),
            max(col("sz")).as("max_group_sz"),
            sum(expr("sz * (sz - 1) div 2")).as("clique_pairs"))
          .select(lit(nDocs).as("n_docs"), col("n_groups"),
            col("dup_docs").cast("long").as("dup_docs"),
            col("max_group_sz"),
            col("clique_pairs").cast("long").as("clique_pairs"))
          .withColumn("route",
            when(col("clique_pairs") > col("n_docs"),
              lit("exact-dedup-first"))
              .when(col("n_docs") >= 1000, lit("prefix-filter"))
              .otherwise(lit("direct-equi-join")))
      },
      Some("""WITH g AS (SELECT md5(text) AS h, count(*) AS sz
          FROM documents GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT n.n_docs AS n_docs,
          count(*) AS n_groups,
          CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
            AS dup_docs,
          max(sz) AS max_group_sz,
          CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS clique_pairs,
          CASE WHEN CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) > n.n_docs
              THEN 'exact-dedup-first'
            WHEN n.n_docs >= 1000 THEN 'prefix-filter'
            ELSE 'direct-equi-join' END AS route
        FROM g, n GROUP BY n.n_docs""")),

    // IDF-WEIGHTED Jaccard near-dup pairs — rare shingles count for
    // more: wj(A,B) = Σ_{A∩B} w / Σ_{A∪B} w with w = the shingle's
    // global idf pre-rounded onto the 1e-2 grid (class C, one ln per
    // distinct shingle over identical exact-rational N/df); after that
    // the sums, the 2·inter_w ≥ union_w threshold, and the exact-ppm
    // output are pure BIGINT integer arithmetic (class A). Candidates
    // from the source-blocked shared-shingle equi-join — never
    // all-pairs, the q_jaccard_pairs frame shape. The weighted-prefix
    // candidate pruning lives in the declared sibling
    // q_jaccard_weighted_prefix (identical output + oracle).
    QDef("q_jaccard_weighted",
      (s, d) => jaccardWeightedJoin(s, d, prefixFiltered = false),
      Some(jaccardWeightedOracle)),

    // WEIGHTED AllPairs PREFIX variant of q_jaccard_weighted — the
    // candidate-pruned formulation for corpora whose source blocks are
    // large enough that verification dominates: wj ≥ 0.5 means
    // 3·inter_w ≥ wa + wb, and inter_w ≤ wb (the intersection is a
    // subset of B), so 2·inter_w ≥ wa — a bound in A's total weight
    // alone. Order each doc's shingles by the fixed global rare-first
    // order (w desc, sh asc; w is a function of df only, so this IS a
    // global total order); a qualifying pair's FIRST common shingle at
    // position p in A bounds inter_w by A's suffix weight from p, so
    // 2·suffix_w(p) ≥ wa must hold there — positions failing it can
    // never host the first common shingle and are pruned losslessly
    // (identical output, same brute-force oracle: equality is the
    // proof). The weight-size filter 2·min(wa,wb) ≥ max(wa,wb) (from
    // 3·inter ≥ wa+wb, inter ≤ min) prunes at the candidate join.
    // Measured at sf0.1: prefix keeps 49% of shingle rows and cuts
    // candidates 56,267 → 14,216 (−75%); on THIS corpus's small blocks
    // the saved verification is cheaper than the added per-doc window
    // sort, so the direct equi-join stays the declared default and this
    // is the large-block scale path (see TUNING.md).
    QDef("q_jaccard_weighted_prefix",
      (s, d) => jaccardWeightedJoin(s, d, prefixFiltered = true),
      Some(jaccardWeightedOracle)),

    // TF-IDF cosine document-pair similarity over the RARE vocabulary
    // (df ≤ 64 inverted index — the hot common tokens that dominate
    // fan-out carry no discriminative idf weight anyway): the sparse
    // lexical twin of the embedding cosine join. Integer-exact end to
    // end: idf pre-rounds ONCE onto a 1e-2 grid (class C, one ln per
    // distinct token over identical exact-rational N/df), weights
    // w = tf · idf_e2 are BIGINT, dot and norms are exact sums, the
    // cos ≥ 0.5 gate is 4·dot² ≥ ‖a‖²·‖b‖² (dot ≥ 0 since idf ≥ 0),
    // and the output is cos²·1e6 by truncating integer division — no
    // float division anywhere (class A after the idf grid). Candidates
    // come from the shared-token equi-join that accumulates dot
    // directly — inverted index, never all-pairs; fan-out bounded by
    // the df cap.
    QDef("q_tfidf_cosine_join",
      (s, d) => {
        val docs = documents(s, d)
        val dt = docs.select(col("doc_id"),
            explode(tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val nDocs = graft.tables.Tables.rowCount(s, d, "documents")
        val dfF = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 64)
          .withColumn("idf_e2",
            round(log(lit(nDocs.toDouble) / col("df")) * 100, 0).cast("long"))
        val w = dt.join(dfF, "tok")
          .select(col("tok"), col("doc_id"),
            (col("tf") * col("idf_e2")).as("w"))
        val norms = w.groupBy(col("doc_id"))
          .agg(sum(col("w") * col("w")).as("n2"))
        val dot = w.as("a")
          .join(w.as("b"),
            col("a.tok") === col("b.tok") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.w") * col("b.w")).as("dot"))
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        dot
          .join(norms.select(col("doc_id").as("id_a"), col("n2").as("n2a")), "id_a")
          .join(norms.select(col("doc_id").as("id_b"), col("n2").as("n2b")), "id_b")
          .filter(col("dot").cast(dec) * col("dot") * 4
            >= col("n2a").cast(dec) * col("n2b"))
          .select(col("id_a"), col("id_b"),
            expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000)" +
              " div (CAST(n2a AS DECIMAL(38,0)) * n2b) AS BIGINT)")
              .as("cos2_ppm"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH dt AS (
          SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
        tfs AS (SELECT doc_id, tok, count(*) AS tf FROM dt GROUP BY 1, 2),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfs AS (SELECT tok, count(*) AS df,
            CAST(round(ln(CAST(n.n_docs AS DOUBLE) / count(*)) * 100, 0)
              AS BIGINT) AS idf_e2
          FROM tfs, n GROUP BY tok, n.n_docs HAVING count(*) <= 64),
        w AS (SELECT doc_id, tfs.tok, tf * idf_e2 AS w
          FROM tfs JOIN dfs ON tfs.tok = dfs.tok),
        norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
        dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            sum(a.w * b.w) AS dot
          FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
          CAST((dot * dot * 1000000) // (na.n2 * nb.n2) AS BIGINT) AS cos2_ppm
        FROM dots
        JOIN norms na ON id_a = na.doc_id
        JOIN norms nb ON id_b = nb.doc_id
        WHERE 4 * dot * dot >= na.n2 * nb.n2
        ORDER BY id_a, id_b""")),

    // Bounded-hop reachability from a seed set over the dup edges: "every
    // document within 3 dedup hops of a flagged doc" — the takedown /
    // contamination blast-radius query. Frontier BFS with min-hop merge;
    // oracle is a recursive CTE bounded by the same hop budget (UNION
    // dedups (id,hops) states so dense clusters don't enumerate paths).
    QDef("q_dup_reach_k",
      (s, d) => {
        val docs = documents(s, d)
        val edges = graft.llm.TextDedup
          .jaccardEdgesShared(docs, "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .select(col("id_a"), col("id_b"))
        val seeds = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"))
        graft.llm.TextDedup.boundedReach(seeds, "doc_id", edges, maxHops = 3)
          .select(col("id").as("doc_id"), col("hops"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${dupEdgesCte("0.2")},
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
          UNION ALL SELECT id_b, id_a FROM edges0),
        reach(id, hops) AS (
          SELECT doc_id, 0 FROM documents WHERE doc_id % 5 = 0
          UNION
          SELECT e.b, reach.hops + 1 FROM reach JOIN edges e ON e.a = reach.id
          WHERE reach.hops < 3)
        SELECT id AS doc_id, CAST(min(hops) AS BIGINT) AS hops
        FROM reach GROUP BY id ORDER BY doc_id""")),

    // Document chunking: fixed 200-char windows at stride 150 (overlap 50)
    // — the pre-tokenization pass of a training-data pipeline. One explode
    // per document, no shuffle; chunk identity pinned by MD5 so the oracle
    // checks content, not just counts.
    QDef("q_doc_chunks",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          // greatest(…, 0): an empty doc still yields offset 0 (and
          // sequence(0, -1, +150) would error); oracle guards identically
          explode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)),
            lit(150))).as("off"),
          col("text"))
        .select(col("doc_id"),
          (col("off") / lit(150)).cast("long").as("chunk_idx"),
          expr("substring(text, off + 1, 200)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""SELECT doc_id, CAST(off / 150 AS BIGINT) AS chunk_idx,
        CAST(length(substr(text, CAST(off AS INT) + 1, 200)) AS BIGINT) AS chunk_len,
        md5(substr(text, CAST(off AS INT) + 1, 200)) AS chunk_md5
        FROM (SELECT doc_id, text,
                unnest(range(0, greatest(length(text), 1), 150)) AS off
              FROM documents)
        ORDER BY doc_id, chunk_idx""")),

    // Deterministic train/val/test assignment by multiplicative hash of
    // the stable id (Knuth 2654435761 mod 2³²) — reproducible across
    // engines, runs, and partitionings; no RNG state. 80/10/10.
    QDef("q_split_assign",
      (s, d) => {
        val bucket = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        documents(s, d)
          .select(col("doc_id"), col("lang"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
        CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
             WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
        FROM documents ORDER BY doc_id""")),

    // MinHash + LSH near-dup candidates over token 3-shingles (unigrams are
    // useless here: the corpus vocabulary is tiny, so every doc shares most
    // tokens — shingles discriminate). 32 permutations via xxhash64 with
    // per-permutation seeds, banded 8×4 → bucket equi-join. The raw bucket
    // keys are engine-hash-specific, so the ORACLE checks the property the
    // operator exists for: every brute-force shingle-Jaccard ≥ 0.9 pair
    // (DuckDB-computable ground truth) must appear in the candidate set —
    // `found` is recomputed by the engine and pinned to 1 by the oracle
    // (at j=0.9, P[miss] = (1−0.9⁴)^8 ≈ 2×10⁻⁵ per pair; this corpus is
    // verified to sit on the all-found side, and LlmSpec separately
    // property-tests recall on synthetic corpora).
    QDef("q_minhash_lsh",
      (s, d) => {
        val docs = documents(s, d)
        val cand = graft.llm.TextDedup
          .minhashCandidates(docs, "doc_id", "text")
          .withColumn("hit", lit(1L))
        // exact side = a filter over the shared >=0.2 dup-graph frame
        // (jaccardPairs(0.9) ≡ jaccardPairs(0.2).filter(>= 0.9))
        graft.llm.TextDedup
          .jaccardEdgesShared(docs, "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .filter(col("jaccard") >= 0.9)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .join(cand, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            coalesce(col("hit"), lit(0L)).as("found"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard,
          CAST(1 AS BIGINT) AS found
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9
        ORDER BY id_a, id_b""")),

    // SimHash document fingerprint: 64-bit majority-vote over token hash
    // bits; near-dups have small Hamming distance. The fingerprint value is
    // engine-hash-specific, so the ORACLE checks implementation agreement
    // instead: the codegen'd SimHash64 expression and the relational
    // formulation (explode → 64 bit-sums → pack) must produce the SAME
    // fingerprint for every document — two independent implementations
    // cross-validating in-query, with DuckDB pinning the per-row flag
    // (the relational form emits no row for token-less docs; the flag
    // accepts exactly that case).
    // MinHash sketch-quality audit — the dedup analog of the ANN recall
    // gates: for every exact dup pair (Jaccard ≥ 0.2), the 32-permutation
    // signature agreement est = matches/32 must sit within a measured
    // error band of the true Jaccard. est32 is hash-defined (xxhash64),
    // so DuckDB cannot recompute it; per the flag-collapse pattern the
    // oracle pins the exact Jaccard (same rational as q_jaccard_pairs)
    // plus est_ok=1. The band (0.40) clears the measured worst-case
    // deviation (≤0.22 across sf0.001/0.01/0.1; binomial σ at n=32 is
    // ~0.09) by ≥0.15 — LlmDedupSpec re-measures the margin each round.
    // Scale: signatures are one map-side-combinable min-agg over the
    // shingle table; the pair join hits the already-materialized dup
    // edge frame on id equi-keys.
    QDef("q_minhash_est",
      (s, d) => {
        val docs = documents(s, d)
        val sig = graft.llm.TextDedup
          .minhashSignatures(docs, "doc_id", "text")
          .localCheckpoint(true)
        val exact = graft.llm.TextDedup
          .jaccardEdgesShared(docs, "doc_id", "text",
            threshold = 0.2, corpusKey = d)
        val est32 = (0 until 32)
          .map(p => (col(s"a.h$p") === col(s"b.h$p")).cast("long"))
          .reduce(_ + _)
        exact
          .join(sig.as("a"), col("id_a") === col("a.doc_id"))
          .join(sig.as("b"), col("id_b") === col("b.doc_id"))
          .withColumn("est", est32 / lit(32.0)) // /2^5 — exact in binary
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"),
            (abs(col("est") - col("jaccard")) <= lit(0.40)).cast("long")
              .as("est_ok"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard,
          CAST(1 AS BIGINT) AS est_ok
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
        ORDER BY id_a, id_b""")),

    // SAMPLED variant of the sketch-quality audit: the same per-pair
    // est-vs-exact band check on the declared deterministic 1/16 pair
    // sample (md5 nibble — see pairSample). The sample predicate filters
    // the shared dup-edge frame BEFORE the two signature joins, so the
    // audit's join work shrinks ~16× while the exact frame and signatures
    // stay the maintained full-corpus artifacts. This is the cadence a
    // 100 TB pipeline runs daily (the full audit above being the release
    // gate).
    QDef("q_minhash_est_sampled",
      (s, d) => {
        val docs = documents(s, d)
        val sig = graft.llm.TextDedup
          .minhashSignatures(docs, "doc_id", "text")
          .localCheckpoint(true)
        val est32 = (0 until 32)
          .map(p => (col(s"a.h$p") === col(s"b.h$p")).cast("long"))
          .reduce(_ + _)
        graft.llm.TextDedup
          .jaccardEdgesShared(docs, "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .filter(pairSample(col("id_a"), col("id_b")))
          .join(sig.as("a"), col("id_a") === col("a.doc_id"))
          .join(sig.as("b"), col("id_b") === col("b.doc_id"))
          .withColumn("est", est32 / lit(32.0)) // /2^5 — exact in binary
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"),
            (abs(col("est") - col("jaccard")) <= lit(0.40)).cast("long")
              .as("est_ok"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $dupPairsCte
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard,
          CAST(1 AS BIGINT) AS est_ok
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
          AND $pairSampleSql
        ORDER BY id_a, id_b""")),

    // Near-dup DECONTAMINATION across train/val/test: q_contamination
    // catches exact n-gram leakage; this catches paraphrase-level
    // leakage — dup-graph edges (Jaccard ≥ 0.5) whose endpoints landed
    // in DIFFERENT splits under the q_split_assign hash. Reuses the
    // shared materialized edge frame (one shingle join per corpus) and
    // the Knuth-hash split — both already driver-verified — so the leak
    // report is exactly "edges ∩ split boundary". At 100 TB the edge
    // frame is the maintained near-dup index; the split predicate is a
    // map-side expression on its two id columns.
    QDef("q_decontam_neardup",
      (s, d) => {
        def split(id: org.apache.spark.sql.Column) = {
          val b = pmod(id * lit(2654435761L), lit(4294967296L)) % 100
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
        }
        graft.llm.TextDedup
          .jaccardEdgesShared(documents(s, d), "doc_id", "text",
            threshold = 0.5, corpusKey = d)
          .withColumn("split_a", split(col("id_a")))
          .withColumn("split_b", split(col("id_b")))
          .filter(col("split_a") =!= col("split_b"))
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"),
            col("split_a"), col("split_b"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $dupPairsCte,
        leaks AS (
          SELECT id_a, id_b,
            round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
              AS jaccard,
            CASE WHEN (id_a * 2654435761) % 4294967296 % 100 < 80
              THEN 'train'
              WHEN (id_a * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split_a,
            CASE WHEN (id_b * 2654435761) % 4294967296 % 100 < 80
              THEN 'train'
              WHEN (id_b * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split_b
          FROM pairs
          JOIN sizes sa ON id_a = sa.doc_id
          JOIN sizes sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
        SELECT * FROM leaks WHERE split_a <> split_b
        ORDER BY id_a, id_b""")),

    QDef("q_simhash",
      (s, d) => {
        val docs = documents(s, d)
        val nt = docs.select(col("doc_id"),
          size(graft.llm.TextDedup.tokens(col("text"))).cast("long").as("n_toks"))
        val viaExpr = graft.llm.TextDedup.simhash(docs, "doc_id", "text")
        val viaRel = graft.llm.TextDedup.simhashRelational(docs, "doc_id", "text")
          .withColumnRenamed("simhash64", "rel64")
        nt.join(viaExpr, "doc_id").join(viaRel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_toks"),
            when(col("n_toks") === 0, col("rel64").isNull)
              .otherwise(col("simhash64") === col("rel64"))
              .cast("long").as("impls_match"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
          AS n_toks,
        CAST(1 AS BIGINT) AS impls_match
        FROM documents ORDER BY doc_id""")),

    // Multimodal decode pipeline: binary payloads + metadata → per-asset
    // features via a per-partition codec (stubbed byte decoder, real Spark
    // plumbing — see graft.multimodal). Oracle-checked END-TO-END: the stub
    // features accumulate (rolling-hash-byte)/255f terms in float32, so
    // round(f0·255) recovers the EXACT integer term sum (accumulated f32
    // error ≪ 0.5/255 at any realistic doc length), which DuckDB replays
    // with mod-2⁶⁴ HUGEINT arithmetic; the payload checksum is the same
    // wrapping Long hash both engines can compute. The oracle packs its
    // fold state (h, s0, i mod 64) into ONE HUGEINT because DuckDB 1.0's
    // list_reduce evaluates struct_pack fields against sibling-updated
    // accumulator values (measured: step 1 pre-update, steps 2+ post).
    QDef("q_multimodal_decode",
      (s, d) => {
        val assets = graft.multimodal.Multimodal.manifest(s, d)
        graft.multimodal.Multimodal
          .decodeAll(assets, new graft.multimodal.Multimodal.StubCodec)
          .toDF()
          .select(col("asset_id"), col("kind"), col("n_bytes"), col("checksum"),
            round(element_at(col("features"), 1) * 255.0).cast("long").as("f0s"))
          .orderBy(col("asset_id"))
      },
      Some("""WITH bytes AS (
        SELECT doc_id,
          list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS HUGEINT)) AS cs
        FROM documents)
      SELECT doc_id AS asset_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        CAST(CASE WHEN chs >= CAST(9223372036854775808 AS HUGEINT)
             THEN chs - CAST(18446744073709551616 AS HUGEINT) ELSE chs END AS BIGINT) AS checksum,
        CAST(((packed // 64) % 16777216) AS BIGINT) AS f0s
      FROM (
        SELECT b.doc_id,
          list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
            (acc, c) -> (acc * 131 + c) % CAST(18446744073709551616 AS HUGEINT)) AS chs,
          list_reduce(
            list_prepend(CAST(1125899906842597 AS HUGEINT) * 1073741824, cs),
            (acc, c) -> ((((acc // 1073741824) * 31 + c) % CAST(18446744073709551616 AS HUGEINT)) * 1073741824)
              + (((acc // 64) % 16777216
                  + CASE WHEN acc % 64 = 0
                    THEN (((((acc // 1073741824) * 31 + c) % CAST(18446744073709551616 AS HUGEINT)) // 1099511627776) % 256)
                    ELSE 0 END) * 64)
              + ((acc % 64 + 1) % 64)) AS packed
        FROM bytes b) folds
      JOIN documents USING (doc_id)
      ORDER BY asset_id""")),

    // Thumbnail/resize pass over the image assets (stub codec, real
    // per-partition batching). Oracle-checked end-to-end: the stub resize
    // is a nearest-byte downsample of the (pure-ASCII) document text, so
    // DuckDB reproduces the exact 1024 resized bytes by char sampling and
    // must agree on their MD5 — payload identity, not just shape.
    QDef("q_multimodal_resize",
      (s, d) => {
        val assets = graft.multimodal.Multimodal.manifest(s, d)
        graft.multimodal.Multimodal
          .resizeAll(assets, new graft.multimodal.Multimodal.StubCodec, 32, 32)
          .toDF()
          .select(col("asset_id"), col("kind"), col("n_bytes"), col("md5_hex"))
          .orderBy(col("asset_id"))
      },
      Some("""SELECT doc_id AS asset_id, 'image' AS kind,
        CAST(CASE WHEN length(text) = 0 THEN 0 ELSE 1024 END AS BIGINT) AS n_bytes,
        md5(array_to_string(list_transform(range(1024),
          i -> substr(text, CAST((i * length(text)) // 1024 AS INT) + 1, 1)), ''))
          AS md5_hex
        FROM documents WHERE doc_id % 3 = 0 ORDER BY asset_id""")),

    // Frame sampling over the video assets: up to 4 evenly spaced frames
    // per payload, one row per frame. Oracle-checked end-to-end like
    // decode/resize: the stub codec's frames are byte slices at offsets
    // (i·len/k).toInt, and len/k is either a power-of-two division (k=4)
    // or 1.0 (len<4) — both exact in IEEE, so the double arithmetic equals
    // integer (i·len)//k and DuckDB reproduces every slice by substring,
    // agreeing on its MD5: frame identity, not just counts.
    QDef("q_multimodal_frames",
      (s, d) => {
        val assets = graft.multimodal.Multimodal.manifest(s, d)
        graft.multimodal.Multimodal
          .sampleFrames(assets, new graft.multimodal.Multimodal.StubCodec, 4)
          .toDF()
          .select(col("asset_id"), col("frame_no").cast("long").as("frame_no"),
            length(col("frame_bytes")).cast("long").as("frame_len"),
            md5(col("frame_bytes")).as("frame_md5"))
          .orderBy(col("asset_id"), col("frame_no"))
      },
      Some("""WITH v AS (
          SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
            least(4, CAST(length(text) AS BIGINT)) AS k
          FROM documents WHERE doc_id % 3 = 2 AND length(text) >= 1),
        idx AS (SELECT doc_id, text, len, k, unnest(range(k)) AS i FROM v),
        sl AS (SELECT doc_id, text, i, (i * len) // k AS lo,
            least(len, greatest(((i + 1) * len) // k, (i * len) // k + 1)) AS hi
          FROM idx)
        SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
          CAST(hi - lo AS BIGINT) AS frame_len,
          md5(substr(text, CAST(lo AS INT) + 1, CAST(hi - lo AS INT)))
            AS frame_md5
        FROM sl ORDER BY asset_id, frame_no""")),

    // ---- Similarity search --------------------------------------------

    // Brute-force cosine top-k: 10 query vectors × all candidates. Exact
    // baseline for ANN; ranking on round(sim,6) with id tiebreak keeps
    // cross-engine order stable.
    QDef("q_cosine_topk",
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_r").desc, col("c_id"))
        q.join(c, col("q_id") =!= col("c_id"))
          .withColumn("sim_r", round(
            graft.functions.VectorFunctions.vec_cosine(col("q_emb"), col("c_emb")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("rn"), col("c_id"), col("sim_r"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""SELECT q_id, rn, c_id, sim_r FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            round(${cosineSql("q.embedding", "c.embedding")}, 6) AS sim_r,
            CAST(row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6) DESC,
                       c.vec_id) AS INT) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings c ON q.vec_id <> c.vec_id)
        WHERE rn <= 5 ORDER BY q_id, rn""")),

    // Label-blocked near-neighbor self-join: the scale path — candidates
    // only within the same label block (equi-join), top-3 per vector.
    QDef("q_cosine_blocked",
      (s, d) => {
        val e = embeddings(s, d).filter(col("vec_id") < 200)
        val a = e.select(col("vec_id").as("a_id"), col("label"), col("embedding").as("a_emb"))
        val b = e.select(col("vec_id").as("b_id"), col("label"), col("embedding").as("b_emb"))
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("sim_r").desc, col("b_id"))
        a.join(b, Seq("label"))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("sim_r", round(
            graft.functions.VectorFunctions.vec_cosine(col("a_emb"), col("b_emb")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("a_id"), col("rn"), col("b_id"), col("label").cast("long").as("label"), col("sim_r"))
          .orderBy(col("a_id"), col("rn"))
      },
      Some(s"""SELECT a_id, rn, b_id, label, sim_r FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            CAST(a.label AS BIGINT) AS label,
            round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim_r,
            CAST(row_number() OVER (PARTITION BY a.vec_id
              ORDER BY round(${cosineSql("a.embedding", "b.embedding")}, 6) DESC,
                       b.vec_id) AS INT) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < 200) a
          JOIN (SELECT * FROM embeddings WHERE vec_id < 200) b
            ON a.label = b.label AND a.vec_id <> b.vec_id)
        WHERE rn <= 3 ORDER BY a_id, rn""")),

    // Embedding-cosine near-duplicate sets: label-blocked pairs above a
    // similarity threshold, canonical keeper = min vec_id. The embedding
    // analog of q_dedup_exact (same blocked-equi-join scale shape as
    // q_cosine_blocked; swap in LSH buckets for unlabeled corpora).
    QDef("q_dedup_embedding",
      (s, d) => {
        val e = embeddings(s, d)
        val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("label"), col("embedding").as("vb"))
        a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("sim_r", round(
            graft.functions.VectorFunctions.vec_cosine(col("va"), col("vb")), 6))
          .filter(col("sim_r") >= 0.3)
          .select(col("id_a").as("keep_id"), col("id_b").as("dup_id"),
            col("label").cast("long").as("label"), col("sim_r"))
          .orderBy(col("keep_id"), col("dup_id"))
      },
      Some(s"""SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
        CAST(a.label AS BIGINT) AS label,
        round(${cosineSql("a.embedding", "b.embedding")}, 6) AS sim_r
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= 0.3
        ORDER BY keep_id, dup_id""")),

    // Random-hyperplane LSH ANN — the similarity-search scale path:
    // bucket equi-join candidates, exact cosine only on collisions.
    // bits are chosen from the corpus size (bits ≈ log₂(n/bucket), the
    // TUNING.md rule): a fixed bit width is wrong at every other scale.
    // Recall at this auto-selected config asserted in VectorLshSpec.
    QDef("q_cosine_lsh",
      (s, d) => {
        val e = embeddings(s, d)
        val approx = graft.llm.VectorLsh
          .topkApproxAuto(e, "vec_id", "embedding", k = 5,
            // cardinality from parquet footer metadata (driver-side, no
            // Spark job) — the table-stats path; construction stays lazy
            n = Some(graft.tables.Tables.rowCount(s, d, "embeddings")))
        // AnnGateProbe: 0.60 at sf0.01, 0.42 at sf0.1 (recall falls with
        // corpus size at fixed bits) → floor 0.25, under both with margin
        annRecallGate(e, approx, nQ = 50, floor = 0.25)
      },
      Some(annGateSql)),

    // IVF ANN — the clustering-based similarity scale path (k-means
    // codebook, probe nprobe cells, exact rerank). Recall-tested in
    // VectorIvfSpec; oracle-gated through the in-query recall invariant
    // (the codebook itself is engine-internal).
    QDef("q_cosine_ivf",
      (s, d) => {
        val e = embeddings(s, d)
        // trainFraction=0.2: k-means sees a seeded sample, not the corpus
        // — same 100 TB posture as q_cosine_pq/q_cosine_ivfadc, and the
        // difference between stable ~2 s and scheduler-bound 7 s benches
        val approx = graft.llm.VectorIvf.topkApprox(e, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4,
          queries = Some(e.filter(col("vec_id") < 50)),
          trainFraction = 0.2)
        // AnnGateProbe: 0.64 at sf0.01, 0.58 at sf0.1 → floor 0.40
        annRecallGate(e, approx, nQ = 50, floor = 0.40)
      },
      Some(annGateSql)),

    // IVF RECALL/OPERATING-POINT SWEEP — the nprobe tuning curve AS AN
    // OPERATOR (the q_knn_graph_clusters lesson productized: choosing
    // the probe depth was this suite's single largest measured scale
    // decision — 657.8 s vs 107.8 s at 100× — so the curve that informs
    // it belongs on the declared, gated surface, not in a notebook).
    // ONE codebook + ONE inverted-list assignment (topkApproxSweep),
    // probed at nprobe ∈ {1,2,4,8}: sharing the trained structure makes
    // recall PROVABLY monotone — a larger probe set yields a candidate
    // superset, and the exact top-1 (the globally maximal (sim, −id))
    // can never leave a top-k once a candidate — so mono_ok is a
    // mathematical invariant, while floor_ok carries the per-point
    // recall floors (AnnGateProbe across sf0.001/0.01/0.1: np1
    // 0.30–0.32, np2 0.38–0.46, np4 0.58–0.64, np8 0.78–0.84 → floors
    // 0.20/0.25/0.40/0.55, the q_cosine_ivf ~2/3 margin). Scale: the
    // train + assign passes amortize across all four points; each point
    // adds only its probe join — the sweep costs ~the deepest point,
    // not the sum.
    QDef("q_ivf_recall_sweep",
      (s, d) => {
        val e = embeddings(s, d)
        val floors = Map(1 -> 0.20, 2 -> 0.25, 4 -> 0.40, 8 -> 0.55)
        val per = graft.llm.VectorIvf.topkApproxSweep(e, "vec_id",
            "embedding", k = 5, nlist = 16, nprobes = Seq(1, 2, 4, 8),
            queries = Some(e.filter(col("vec_id") < 50)),
            trainFraction = 0.2)
          .map { case (np, approx) =>
            annRecallMean(e, approx, nQ = 50)
              .select(lit(np.toLong).as("nprobe"), col("n_queries"),
                col("mean_hit"),
                (col("mean_hit") >= floors(np)).cast("long").as("floor_ok"))
          }.reduce(_ unionAll _)
          .localCheckpoint(true) // 4 rows; read by the lag window too
        // 4-row derived frame: the single-partition lag window is the
        // adjudicated bounded class
        val w = Window.orderBy(col("nprobe"))
        per.select(col("nprobe"), col("n_queries"), col("floor_ok"),
            coalesce(col("mean_hit") >=
              lag(col("mean_hit"), 1).over(w), lit(true))
              .cast("long").as("mono_ok"))
          .orderBy(col("nprobe"))
      },
      // n_queries is DERIVED (ADVICE r12): the query set is vec_id < 50,
      // i.e. least(50, |embeddings|) under the dense-id corpus — 50 was
      // an accident of the test corpora, not a contract, so a <50-row
      // corpus must still gate on the floor/mono flags alone.
      Some("""WITH nq AS (SELECT CAST(least(50, count(*)) AS BIGINT) AS n
          FROM embeddings)
        SELECT t.nprobe, nq.n AS n_queries, t.floor_ok, t.mono_ok
        FROM (VALUES
          (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
          (2, 1, 1), (4, 1, 1), (8, 1, 1)) t(nprobe, floor_ok, mono_ok)
        CROSS JOIN nq ORDER BY t.nprobe""")),

    // k-NN-GRAPH CLUSTERING — the production escape from fixed-ε
    // density that TUNING's own DBSCAN 100× row names (grid-cell DBSCAN
    // degrades structurally when a fixed ε meets rising density; a
    // k-NN graph adapts its scale per point): approximate k = 4
    // neighbor lists for EVERY vector via the IVF probe path (codebook
    // partitioning bounds candidate generation — never all-pairs),
    // symmetrized to MUTUAL-kNN edges (b ∈ knn(a) AND a ∈ knn(b) — the
    // standard noise-robust symmetrization: one-sided arrows from
    // outliers vanish), then connected components via the same
    // min-label CC that serves the dedup graphs. The codebook is
    // engine-internal, so the DECLARED output is the invariant row
    // (the q_cosine_* gate pattern): corpus count, edge-set
    // non-emptiness, CC-partition totality (every vector labeled
    // exactly once), and a k-recall@4 floor vs the exact kNN graph
    // recomputed in-query over a 50-node audit (bounded O(nQ·n) — the
    // annRecallMean argument). Graph-vs-exact edge recall and cluster
    // determinism are asserted in VectorIvfSpec.
    QDef("q_knn_graph_clusters",
      (s, d) => {
        val e = embeddings(s, d)
        // nlist ≈ √n from parquet footer stats (the topkApproxAuto /
        // TUNING bits-from-n rule) with CONSTANT nprobe: per-query
        // candidates then scale as nprobe·√n. The first cut grew
        // nprobe with nlist (nprobe = nlist/8) to hold probed MASS —
        // which silently makes candidates n/8 per query, quadratic in
        // total: measured 657.8 s / 180 GB spill at the 100× corpus.
        // A fixed nprobe = 8 restores the √n bound (3% of cells at
        // nlist = 256) at equal-or-better recall than the measured
        // floors (more probes than the 4/5 the floors were set under).
        val n = graft.tables.Tables.rowCount(s, d, "embeddings")
        val nlist = math.max(16, math.min(256,
          math.ceil(math.sqrt(n.toDouble)).toInt))
        val nprobe = 8
        val approx = graft.llm.VectorIvf.topkApprox(e, "vec_id",
            "embedding", k = 4, nlist = nlist, nprobe = nprobe,
            trainFraction = 0.2)
          .localCheckpoint(true) // both join sides + the audit read it
        val undirected = approx.select(col("q_id"), col("c_id"))
        val mutual = undirected.as("f")
          .join(undirected.as("r"),
            col("f.q_id") === col("r.c_id") &&
              col("f.c_id") === col("r.q_id"))
          .filter(col("f.q_id") < col("f.c_id"))
          .select(col("f.q_id").as("id_a"), col("f.c_id").as("id_b"))
        val cl = graft.llm.TextDedup.clusters(
          e.select(col("vec_id")), "vec_id", mutual)
        val clStats = cl.agg(count(lit(1)).as("n_labeled"),
          countDistinct(col("vec_id")).as("n_distinct"))
        val nNodes = e.agg(count(lit(1)).as("n_nodes"))
        val nEdges = mutual.agg(count(lit(1)).as("n_edges"))
        // k-recall@4: fraction of EXACT top-4 edges (50 audit nodes,
        // brute force in-query) present in the approx neighbor lists
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.select(col("vec_id").as("c_id"),
          col("embedding").as("c_emb"))
        val w4 = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id"))
        val exact4 = q.join(c, col("q_id") =!= col("c_id"))
          .withColumn("sim", graft.functions.VectorFunctions
            .vec_cosine(col("q_emb"), col("c_emb")))
          .withColumn("rn", row_number().over(w4))
          .filter(col("rn") <= 4)
          .select(col("q_id"), col("c_id"))
        val rec = exact4.join(approx.select(col("q_id"), col("c_id"))
            .withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
          .agg(avg(coalesce(col("hit"), lit(0))).as("mean_hit"))
        nNodes.crossJoin(broadcast(nEdges))
          .crossJoin(broadcast(clStats))
          .crossJoin(broadcast(rec))
          .select(col("n_nodes"),
            (col("n_edges") > 0).cast("long").as("has_edges"),
            (col("n_labeled") === col("n_nodes") &&
              col("n_distinct") === col("n_nodes")).cast("long")
              .as("partition_ok"),
            // measured k-recall@4 at (√n nlist, nprobe = 8): 0.615 at
            // sf0.001, 0.705 at sf0.01, 0.555 at sf0.1, 1.000 at the
            // replicated 10× corpus → floor 0.30 (~0.25 under weakest)
            (col("mean_hit") >= 0.30).cast("long").as("floor_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(1 AS BIGINT) AS has_edges,
          CAST(1 AS BIGINT) AS partition_ok,
          CAST(1 AS BIGINT) AS floor_ok
        FROM embeddings""")),

    // IVFADC with residual encoding (Jégou et al.): IVF cell probing
    // bounds the candidate set, PQ codes over vec−centroid residuals make
    // each candidate m table lookups — the billion-vector composition.
    // Engine-trained codebooks → oracle-gated through the in-query recall
    // invariant; overlap-vs-exhaustive-ADC, residual-recall, and
    // determinism in VectorPqSpec.
    QDef("q_cosine_ivfadc",
      (s, d) => {
        val e = embeddings(s, d)
        // rerankFactor=4 is the measured-best operating point (TUNING.md:
        // recall 0.42→0.65 for R·k true dot products per query, ~free)
        val approx = graft.llm.VectorPq.topkIvfAdc(e, "vec_id", "embedding",
          topk = 5, nlist = 16, nprobe = 4,
          queries = Some(e.filter(col("vec_id") < 50)),
          trainFraction = 0.2, residual = true, rerankFactor = 4)
        // AnnGateProbe: 0.52 at sf0.01, 0.34 at sf0.1 → floor 0.20
        annRecallGate(e, approx, nQ = 50, floor = 0.20)
      },
      Some(annGateSql)),

    // Product-quantization ADC scoring (m=8 subspaces × k=16 codes over
    // the 64-dim embedding): vectors compress to 8 codes, candidates are
    // scored by m table lookups. Engine-trained codebook → oracle-gated
    // through the in-query recall invariant (plain ADC, no rerank — the
    // lowest-precision operating point, hence the low floor; IVFADC above
    // is the production composition); recall + determinism in VectorPqSpec.
    QDef("q_cosine_pq",
      (s, d) => {
        val e = embeddings(s, d)
        // codebook trained on a 20% sample (seeded): k-means needs a
        // representative sample, not the corpus — the 100 TB posture
        val approx = graft.llm.VectorPq.topkApprox(e, "vec_id", "embedding",
          topk = 5, queries = Some(e.filter(col("vec_id") < 50)),
          trainFraction = 0.2)
        // AnnGateProbe: 0.26 at sf0.01, 0.16 at sf0.1 → floor 0.08 (plain
        // ADC is the low-precision demo; chance level is ~5/n ≈ 0.0003)
        annRecallGate(e, approx, nQ = 50, floor = 0.08)
      },
      Some(annGateSql)),

    // Per-label embedding statistics (norms in exact-ish double, rounded).
    QDef("q_embed_stats",
      (s, d) => embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))).as("norm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(davg(col("norm")), 6).as("avg_norm"),
          round(min(col("norm")), 6).as("min_norm"),
          round(max(col("norm")), 6).as("max_norm"))
        .orderBy(col("label")),
      Some(s"""SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
        round(${sqlDavg("norm")}, 6) AS avg_norm,
        round(min(norm), 6) AS min_norm,
        round(max(norm), 6) AS max_norm
        FROM (SELECT label, sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
              FROM embeddings)
        GROUP BY label ORDER BY label""")),

    // ---- Text analysis -------------------------------------------------

    // Corpus statistics per (lang, source).
    QDef("q_text_stats",
      (s, d) => documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          davg(col("n_chars").cast("double")).as("avg_chars"),
          sum(col("n_toks")).as("total_toks"))
        .orderBy(col("lang"), col("source")),
      Some(s"""SELECT lang, source, count(*) AS n_docs,
        ${sqlDavg("CAST(n_chars AS DOUBLE)")} AS avg_chars,
        CAST(sum(len($tokensSql)) AS BIGINT) AS total_toks
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // Document frequency + IDF of the most common tokens.
    QDef("q_token_df_idf",
      (s, d) => {
        val docs = documents(s, d)
        // corpus size as a broadcast 1-row join, not a driver-side action
        val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(n))
          .select(col("tok"), col("df"),
            round(log(col("n_docs") / col("df")), 6).as("idf"))
          .orderBy(col("df").desc, col("tok"))
          .limit(30)
      },
      Some(s"""WITH dt AS (
          SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok FROM documents),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        SELECT tok, count(*) AS df,
          round(ln(n.n_docs / count(*)), 6) AS idf
        FROM dt, n GROUP BY tok, n.n_docs
        ORDER BY df DESC, tok LIMIT 30""")),

    // BM25 document scoring (Robertson/Spärck Jones, k1=1.2, b=0.75) —
    // the retrieval-quality scorer beside TF-IDF. The k1/b term
    // saturation is EXACT scaled-integer arithmetic: clearing
    // denominators of tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with
    // k1=6/5, b=3/4, avgdl=T/N gives
    //   sat_ppm = (10⁶·22·T·tf) div (10·T·tf + 3·T + 9·dl·N)
    // — all BIGINT, identical in both engines (class A). idf is the one
    // transcendental: a single ln over identical rational operands,
    // pre-rounded at 1e-6 BEFORE the score multiply (class C, the
    // q_token_df_idf precedent); the final score is two further
    // correctly-rounded IEEE ops (÷10⁶ exact-operand, one multiply) on
    // identical doubles. Query terms are the df-rank-11..20 tokens via
    // orderBy+limit+offset (TakeOrdered — no global window), broadcast
    // to the tf frame. Magnitude: 2.2e7·T·tf ≤ ~1e17 at sf0.1 — inside
    // BIGINT; a 100 TB corpus (T ≳ 1e9) promotes the numerator to
    // DECIMAL(38,0), same plan. Scale profile: one explode + hash-agg
    // for tf/df (map-side combinable), broadcast query terms, top-1000
    // TakeOrdered output.
    QDef("q_bm25_score",
      (s, d) => {
        val docs = documents(s, d)
        val dt = docs.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("dl"),
            explode(tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("dl"), col("tok"))
          .agg(count(lit(1)).as("tf"))
          // NOT checkpointed (r17 measured-and-reverted): the qterms df
          // build and the scoring probe both read this frame, so the
          // tokenize + tf-agg subtree plans twice — but the two passes
          // are sequential within the one action either way (the qterms
          // broadcast must finish before the probe starts), and an eager
          // checkpoint only re-orders that serialization: min-of-3 was
          // neutral-to-worse across four cold A/B runs at sf0.1
        val tot = docs
          .select(size(tokens(col("text"))).cast("long").as("dl"))
          .agg(sum(col("dl")).as("t_toks"), count(lit(1)).as("n_docs"))
        val qterms = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("tok"))
          .limit(20).offset(10)
        val idf = round(log(lit(1) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
        dt.join(broadcast(qterms), "tok")
          .crossJoin(broadcast(tot))
          .withColumn("sat_ppm", expr(
            "(1000000 * 22 * t_toks * tf) div " +
              "(10 * t_toks * tf + 3 * t_toks + 9 * dl * n_docs)"))
          .select(col("tok"), col("doc_id"), col("tf"), col("sat_ppm"),
            idf.as("idf"),
            round(idf * (col("sat_ppm") / lit(1000000.0)), 6).as("score"))
          .orderBy(col("tok"), col("doc_id"))
          .limit(1000)
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $tokensSql AS toks FROM documents),
        dt0 AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toks),
        tfs AS (SELECT doc_id, dl, tok, count(*) AS tf
          FROM dt0 GROUP BY 1, 2, 3),
        tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS t_toks,
          count(*) AS n_docs FROM toks),
        dfs AS (SELECT tok, count(*) AS df FROM tfs GROUP BY tok),
        qterms AS (SELECT tok, df FROM dfs
          ORDER BY df DESC, tok LIMIT 10 OFFSET 10)
        SELECT tok, doc_id, tf,
          (1000000 * 22 * t_toks * tf)
            // (10 * t_toks * tf + 3 * t_toks + 9 * dl * n_docs) AS sat_ppm,
          round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf,
          round(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6)
            * (((1000000 * 22 * t_toks * tf)
                // (10 * t_toks * tf + 3 * t_toks + 9 * dl * n_docs))
              / 1000000.0), 6) AS score
        FROM tfs JOIN qterms USING (tok), tot
        ORDER BY tok, doc_id LIMIT 1000""")),

    // Per-document quality score: type-token ratio, mean token length,
    // and a bounded length factor — the classic cheap quality heuristics.
    QDef("q_quality_score",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_toks"),
          size(array_distinct(tokens(col("text")))).cast("long").as("n_uniq"),
          aggregate(tokens(col("text")), lit(0L), (acc, t) => acc + length(t)).as("tok_chars"))
        .select(col("doc_id"), col("n_toks"), col("n_uniq"),
          round(col("n_uniq").cast("double") / col("n_toks"), 6).as("ttr"),
          round(col("tok_chars").cast("double") / col("n_toks"), 6).as("avg_tok_len"),
          round(col("n_uniq").cast("double") / col("n_toks") * lit(0.5) +
            least(lit(1.0), col("n_toks").cast("double") / 100.0) * lit(0.5), 6).as("quality"))
        .orderBy(col("doc_id"))
        .limit(600),
      Some(s"""SELECT doc_id,
        CAST(len($tokensSql) AS BIGINT) AS n_toks,
        CAST(len(list_distinct($tokensSql)) AS BIGINT) AS n_uniq,
        round(CAST(len(list_distinct($tokensSql)) AS DOUBLE) / len($tokensSql), 6) AS ttr,
        round(CAST(list_sum(list_transform($tokensSql, t -> len(t))) AS DOUBLE)
          / len($tokensSql), 6) AS avg_tok_len,
        round(CAST(len(list_distinct($tokensSql)) AS DOUBLE) / len($tokensSql) * 0.5 +
          least(1.0, CAST(len($tokensSql) AS DOUBLE) / 100.0) * 0.5, 6) AS quality
        FROM documents ORDER BY doc_id LIMIT 600""")),

    // Canonical text normalization — the step every dedup pipeline runs
    // first: lowercase, non-alphanumerics → space, collapse runs, trim;
    // plus the md5 of the canonical form as the dedup key.
    QDef("q_text_normalize",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
        .select(col("doc_id"),
          substring(col("norm"), 1, 80).as("norm_prefix"),
          length(col("norm")).cast("long").as("norm_len"),
          md5(col("norm").cast("binary")).as("norm_hash"))
        .orderBy(col("doc_id"))
        .limit(600),
      Some("""SELECT doc_id,
        substring(norm, 1, 80) AS norm_prefix,
        CAST(length(norm) AS BIGINT) AS norm_len,
        md5(norm) AS norm_hash
        FROM (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM documents)
        ORDER BY doc_id LIMIT 600""")),

    // Exact dedup AFTER normalization (case/punct/whitespace-insensitive):
    // canonical = lowest doc_id per normalized-text hash group.
    QDef("q_dedup_normalized",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          md5(trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).cast("binary")).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("canonical_id")),
      Some("""SELECT md5(norm) AS norm_hash,
        min(doc_id) AS canonical_id, count(*) AS n_docs
        FROM (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM documents)
        GROUP BY 1 ORDER BY canonical_id""")),

    // BPE-ish token counting: regex word/punctuation pieces vs whitespace.
    QDef("q_token_counts",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("ws_toks"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("word_toks"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long").as("punct_chars"))
        .orderBy(col("doc_id"))
        .limit(600),
      Some(s"""SELECT doc_id,
        CAST(len($tokensSql) AS BIGINT) AS ws_toks,
        CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS word_toks,
        CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars
        FROM documents ORDER BY doc_id LIMIT 600""")),

    // Corpus bigram frequency table (the n-gram LM statistic): adjacent
    // token pairs via zip_with over shifted slices — explode + one
    // hash-agg, the same map-side-combine shape as unigram counts, so it
    // scales like any token count despite ~n_tokens rows per doc.
    QDef("q_ngram_bigrams",
      (s, d) => documents(s, d)
        .select(tokens(col("text")).as("t"))
        .select(explode(expr(
          """CASE WHEN size(t) >= 2
             THEN zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
                           (a, b) -> concat(a, ' ', b))
             ELSE CAST(array() AS ARRAY<STRING>) END""")).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(30),
      Some(s"""SELECT bigram, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM (SELECT $tokensSql AS toks FROM documents))
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""")),

    // Within-document repetition score (the Gopher-class quality signal:
    // heavily repeated n-grams mark boilerplate/spam): duplicate-bigram
    // fraction per doc, map-only per row — no shuffle at any scale.
    QDef("q_repetition_score",
      (s, d) => documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), expr(
          """CASE WHEN size(t) >= 2
             THEN zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
                           (a, b) -> concat(a, ' ', b))
             ELSE CAST(array() AS ARRAY<STRING>) END""").as("bg"))
        .select(col("doc_id"),
          size(col("bg")).cast("long").as("n_bigrams"),
          round(when(size(col("bg")) > 0,
              lit(1.0) - size(array_distinct(col("bg"))).cast("double")
                / size(col("bg")).cast("double"))
            .otherwise(lit(0.0)), 6).as("rep_score"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        CAST(len(bg) AS BIGINT) AS n_bigrams,
        round(CASE WHEN len(bg) > 0
          THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
          ELSE 0.0 END, 6) AS rep_score
        FROM (
          SELECT doc_id, list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1]) AS bg
          FROM (SELECT doc_id, $tokensSql AS toks FROM documents))
        ORDER BY doc_id""")),

    // Language ID via per-language token profiles mined from the corpus
    // itself (char-free n-gram heuristic): each doc votes with its tokens'
    // majority language. Fully relational (counts + deterministic
    // row_number ties), so the whole pipeline has a DuckDB oracle;
    // accuracy additionally asserted in LlmSpec.
    QDef("q_lang_id",
      (s, d) => langIdFrame(s, d).orderBy(col("doc_id")),
      Some("""WITH tok AS (
          SELECT doc_id, lang,
            unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM documents),
        profile AS (SELECT tok, lang, count(*) AS n FROM tok GROUP BY tok, lang),
        toklang AS (
          SELECT tok, lang AS tok_lang FROM (
            SELECT tok, lang,
              row_number() OVER (PARTITION BY tok ORDER BY n DESC, lang) AS rn
            FROM profile) t WHERE rn = 1),
        votes AS (
          SELECT t.doc_id, t.lang, tl.tok_lang, count(*) AS votes
          FROM tok t JOIN toklang tl ON t.tok = tl.tok
          GROUP BY t.doc_id, t.lang, tl.tok_lang)
        SELECT doc_id, lang AS true_lang, tok_lang AS pred_lang,
          CAST(lang = tok_lang AS BIGINT) AS correct
        FROM (SELECT doc_id, lang, tok_lang, votes,
                row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, tok_lang) AS rn
              FROM votes) v WHERE rn = 1
        ORDER BY doc_id""")),

    // Language-ID CONFUSION MATRIX — the evaluation rollup every
    // classifier audit needs: true lang × predicted lang counts over the
    // shared langIdFrame pipeline, with per-row shares in exact ppm
    // (integer division over the window row total). ≤ |langs|² rows;
    // all integer (class A).
    QDef("q_lang_confusion",
      (s, d) => {
        val wRow = Window.partitionBy(col("true_lang"))
        langIdFrame(s, d)
          .groupBy(col("true_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_n", sum(col("n")).over(wRow))
          .select(col("true_lang"), col("pred_lang"), col("n"),
            expr("(n * 1000000) div row_n").as("row_ppm"))
          .orderBy(col("true_lang"), col("pred_lang"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, lang,
            unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM documents),
        profile AS (SELECT tok, lang, count(*) AS n FROM tok GROUP BY tok, lang),
        toklang AS (
          SELECT tok, lang AS tok_lang FROM (
            SELECT tok, lang,
              row_number() OVER (PARTITION BY tok ORDER BY n DESC, lang) AS rn
            FROM profile) t WHERE rn = 1),
        votes AS (
          SELECT t.doc_id, t.lang, tl.tok_lang, count(*) AS votes
          FROM tok t JOIN toklang tl ON t.tok = tl.tok
          GROUP BY t.doc_id, t.lang, tl.tok_lang),
        pred AS (
          SELECT doc_id, lang AS true_lang, tok_lang AS pred_lang
          FROM (SELECT doc_id, lang, tok_lang, votes,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY votes DESC, tok_lang) AS rn
                FROM votes) v WHERE rn = 1)
        SELECT true_lang, pred_lang, count(*) AS n,
          CAST((count(*) * 1000000)
            // (sum(count(*)) OVER (PARTITION BY true_lang)) AS BIGINT)
            AS row_ppm
        FROM pred GROUP BY true_lang, pred_lang
        ORDER BY true_lang, pred_lang""")),

    // COHEN'S KAPPA — chance-corrected agreement between the lang-id
    // classifier and the true label, the single-number companion of
    // q_lang_confusion: κ = (n·Σdiag − Σᵢrowᵢ·colᵢ) / (n² − Σᵢrowᵢ·colᵢ),
    // the standard (pₒ−pₑ)/(1−pₑ) with both fractions cleared to exact
    // integers (kappa_num / kappa_den reported beside the rounded
    // double). Everything derives from the ≤|langs|² confusion frame
    // (one hash-agg over the shared langIdFrame pipeline, checkpointed
    // once — diagonal, row marginals, and column marginals are three
    // reads of that bounded frame, never of the corpus). A label never
    // predicted contributes rowᵢ·0 = 0, which the marginal equi-join
    // drops — identical algebra on both engines. Class A + exact-div.
    QDef("q_cohens_kappa",
      (s, d) => {
        val conf = langIdFrame(s, d)
          .groupBy(col("true_lang"), col("pred_lang"))
          .agg(count(lit(1)).as("m"))
          .localCheckpoint(true) // diagonal + both marginals read it
        val tot = conf.agg(sum(col("m")).as("n"),
          sum(when(col("true_lang") === col("pred_lang"), col("m"))
            .otherwise(lit(0L))).as("diag"))
        val rowm = conf.groupBy(col("true_lang")).agg(sum(col("m")).as("rm"))
        val colm = conf.groupBy(col("pred_lang")).agg(sum(col("m")).as("cm"))
        val srcF = rowm.join(colm, col("true_lang") === col("pred_lang"))
          .agg(sum(col("rm") * col("cm")).as("src"))
        tot.crossJoin(broadcast(srcF))
          .select(col("n"), col("diag"), col("src"),
            (col("n") * col("diag") - col("src")).as("kappa_num"),
            (col("n") * col("n") - col("src")).as("kappa_den"),
            round((col("n") * col("diag") - col("src")).cast("double") /
              (col("n") * col("n") - col("src")), 6).as("kappa"))
      },
      Some("""WITH tok AS (
          SELECT doc_id, lang,
            unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM documents),
        profile AS (SELECT tok, lang, count(*) AS n FROM tok GROUP BY tok, lang),
        toklang AS (
          SELECT tok, lang AS tok_lang FROM (
            SELECT tok, lang,
              row_number() OVER (PARTITION BY tok ORDER BY n DESC, lang) AS rn
            FROM profile) t WHERE rn = 1),
        votes AS (
          SELECT t.doc_id, t.lang, tl.tok_lang, count(*) AS votes
          FROM tok t JOIN toklang tl ON t.tok = tl.tok
          GROUP BY t.doc_id, t.lang, tl.tok_lang),
        pred AS (
          SELECT doc_id, lang AS true_lang, tok_lang AS pred_lang
          FROM (SELECT doc_id, lang, tok_lang, votes,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY votes DESC, tok_lang) AS rn
                FROM votes) v WHERE rn = 1),
        conf AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS m
          FROM pred GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(m) AS BIGINT) AS n,
            CAST(sum(CASE WHEN true_lang = pred_lang THEN m ELSE 0 END)
              AS BIGINT) AS diag
          FROM conf),
        rm AS (SELECT true_lang AS l, CAST(sum(m) AS BIGINT) AS rm
          FROM conf GROUP BY 1),
        cm AS (SELECT pred_lang AS l, CAST(sum(m) AS BIGINT) AS cm
          FROM conf GROUP BY 1),
        sc AS (SELECT CAST(sum(rm * cm) AS BIGINT) AS src
          FROM rm JOIN cm USING (l))
        SELECT n, diag, src,
          n * diag - src AS kappa_num,
          n * n - src AS kappa_den,
          round(CAST(n * diag - src AS DOUBLE) / (n * n - src), 6) AS kappa
        FROM tot CROSS JOIN sc""")),

    // Rolling-hash (Rabin-Karp style) document fingerprint over chars —
    // deterministic pure-Spark expression chain; golden-tested in LlmSpec
    // AND oracle-checked: the polynomial fold is exactly expressible as a
    // DuckDB list_reduce.
    QDef("q_doc_fingerprint",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(split(col("text"), ""), ch => ascii(ch).cast("long")),
            lit(0L),
            (acc, c) => pmod(acc * 31 + c, lit(1000000007L))).as("fingerprint"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
        FROM documents ORDER BY doc_id""")),

    // Multimodal manifest: opaque binary payload + typed metadata struct.
    // The decode/feature-extract path lives in graft.multimodal (stubbed
    // codecs, real Spark plumbing); this query checks the schema + sizes.
    // Multimodal near-duplicate detection WITHOUT codecs: Jaccard over
    // RARE byte 16-gram windows (stride 8) of the raw binary payload —
    // the shape of perceptual-hash dedup when decode isn't available (or
    // as the cheap first pass before it): re-encoded/truncated copies
    // share most byte windows. Two scale guards, both exactly
    // SQL-expressible so the oracle replays them: wide windows (16 bytes)
    // are discriminative, and a df ≤ 32 rarity cap drops boilerplate
    // windows BEFORE the candidate join — the O(df²) hot-shingle landmine
    // the text family caps with maxShingleDf, here as a declared,
    // oracle-checked semantic (jaccard is over each doc's RARE-window
    // set, both engines identically). Windows are taken over the hex
    // encoding (2 chars = 1 byte) because both engines reproduce it
    // exactly — unlike classic pHash this variant is fully oracle-checked.
    // Swap the window fingerprint for a real pHash per frame/tile when
    // codecs exist; the join shape stays.
    QDef("q_multimodal_neardup",
      (s, d) => {
        val hx = documents(s, d).select(col("doc_id"),
          hex(col("text").cast("binary")).as("hx"))
        val sh = hx.select(col("doc_id"), explode(array_distinct(
            expr("transform(sequence(1, greatest(length(hx)-31, 1), 16)," +
              " i -> substring(hx, i, 32))"))).as("sh"))
        val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 32).select(col("sh"))
        val shRare = sh.join(rare, "sh")
        val sizes = shRare.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        shRare.as("a").join(shRare.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
          .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
          .select(col("id_a"), col("id_b"),
            round(col("inter").cast("double") /
              (col("sa.sz") + col("sb.sz") - col("inter")), 6).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH hx AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
          FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, greatest(len(hx)-31, 1) + 1, 16),
            i -> substr(hx, i, 32)))) AS sh FROM hx),
        rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 32),
        shr AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            count(*) AS inter
          FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
          round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        ORDER BY id_a, id_b""")),

    QDef("q_multimodal_manifest",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          col("text").cast("binary").as("payload"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("payload_bytes"),
          col("meta.lang").as("lang"),
          col("meta.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
        .limit(600),
      Some("""SELECT doc_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_bytes,
        lang, n_chars
        FROM documents ORDER BY doc_id LIMIT 600""")),

    // HARD-NEGATIVE MINING — the contrastive-training sampler: for each
    // anchor vector, the top-3 most-similar candidates with a DIFFERENT
    // label (high-cosine wrong-class examples are exactly the negatives
    // that sharpen an embedding model; random negatives are trivially
    // easy). Shape: the anchors are a bounded probe set broadcast
    // against one full candidate scan (the q_rank_fusion broadcast-probe
    // pattern — no self-join of the corpus against itself), windows only
    // per-anchor. At production scale the candidate scan becomes the
    // IVF/LSH-bucketed ANN probe (q_cosine_ivf) with the label filter
    // pushed into the bucket scan; the declared exact form IS the audit
    // for that path. Determinism: round-6 cosine + id tiebreak, the
    // adjudicated q_cosine_blocked class.
    QDef("q_hard_negatives",
      (s, d) => {
        val e = embeddings(s, d)
        val anchors = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"))
        val cands = e.select(col("vec_id").as("c_id"),
          col("label").as("c_label"), col("embedding").as("c_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_r").desc, col("c_id"))
        cands.join(broadcast(anchors), col("q_label") =!= col("c_label"))
          .withColumn("sim_r", round(
            graft.functions.VectorFunctions.vec_cosine(
              col("q_emb"), col("c_emb")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("rn"), col("c_id"),
            col("q_label").cast("long").as("q_label"),
            col("c_label").cast("long").as("c_label"), col("sim_r"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(s"""SELECT q_id, rn, c_id, q_label, c_label, sim_r FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            CAST(q.label AS BIGINT) AS q_label,
            CAST(c.label AS BIGINT) AS c_label,
            round(${cosineSql("q.embedding", "c.embedding")}, 6) AS sim_r,
            CAST(row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6)
                DESC, c.vec_id) AS INT) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < 50) q
          JOIN embeddings c ON q.label <> c.label)
        WHERE rn <= 3 ORDER BY q_id, rn""")),

    // MAXIMAL-MARGINAL-RELEVANCE selection (Carbonell & Goldstein '98) —
    // the diversity-aware retrieval/data-selection step after any
    // similarity ranking: greedily pick 5 of the top-20 candidates
    // maximizing 2·score = 2·sim(query) − max_{j∈selected} sim(i, j)
    // (λ = ½ cleared to integers — every sim is a round-6 cosine scaled
    // to e6 BIGINT once, so the 4 selection rounds are PURE INTEGER
    // argmax chains, the q_kmeans_lloyd iterative-query precedent with
    // a chained-CTE oracle replaying the identical trajectory).
    // Scale: candidate generation is the broadcast-probe scan +
    // distributed TakeOrdered(20); the selection loop touches only the
    // 20-row candidate frame and its 20×20 pairwise-sim frame —
    // driver-bounded constants, never the corpus.
    QDef("q_mmr_select",
      (s, d) => {
        val e = embeddings(s, d)
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        val cand = e.filter(col("vec_id") > 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id").as("c_id"), col("embedding"),
            round(graft.functions.VectorFunctions.vec_cosine(
              col("embedding"), col("q_emb")), 6).as("sim_q"))
          .orderBy(col("sim_q").desc, col("c_id")).limit(20)
          .select(col("c_id"),
            round(col("sim_q") * 1e6).cast("long").as("simq_e6"),
            col("embedding"))
          .localCheckpoint(true) // pairwise frame + every selection round
        val pairSims = cand.select(col("c_id").as("ia"),
            col("embedding").as("ea"))
          .join(cand.select(col("c_id").as("ib"), col("embedding").as("eb")),
            col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            round(round(graft.functions.VectorFunctions.vec_cosine(
              col("ea"), col("eb")), 6) * 1e6).cast("long").as("sim_e6"))
          .localCheckpoint(true) // read by all 4 penalty rounds
        val c0 = cand.select(col("c_id"), col("simq_e6"))
        // round 1: no penalty — plain argmax on (simq, id)
        var selected = c0
          .orderBy(col("simq_e6").desc, col("c_id")).limit(1)
          .select(col("c_id"), lit(1L).as("rn"), col("simq_e6"),
            (col("simq_e6") * 2).as("score2_e6"))
          .localCheckpoint(true)
        for (r <- 2 to 5) {
          val pen = pairSims
            .join(selected.select(col("c_id").as("ib")), Seq("ib"))
            .groupBy(col("ia")).agg(max(col("sim_e6")).as("pen_e6"))
          val next = c0
            .join(selected.select(col("c_id"), lit(1).as("sel")),
              Seq("c_id"), "left_anti")
            .join(pen, col("c_id") === col("ia"))
            .select(col("c_id"), col("simq_e6"),
              (col("simq_e6") * 2 - col("pen_e6")).as("score2_e6"))
            .orderBy(col("score2_e6").desc, col("c_id")).limit(1)
            .select(col("c_id"), lit(r.toLong).as("rn"), col("simq_e6"),
              col("score2_e6"))
          selected = selected.unionAll(next).localCheckpoint(true)
        }
        selected.orderBy(col("rn"))
      },
      Some {
        val simE6 = (a: String, b: String) =>
          s"CAST(round(round(${cosineSql(a, b)}, 6) * 1000000) AS BIGINT)"
        def round_(k: Int): String = s"""
        sel$k AS (SELECT * FROM sel${k - 1} UNION ALL
          SELECT c_id, CAST($k AS BIGINT) AS rn, simq_e6, score2_e6
          FROM (SELECT c.c_id, c.simq_e6,
              c.simq_e6 * 2 - (SELECT max(p.sim_e6) FROM ps p
                JOIN sel${k - 1} s ON p.ib = s.c_id
                WHERE p.ia = c.c_id) AS score2_e6
            FROM cand c
            WHERE c.c_id NOT IN (SELECT c_id FROM sel${k - 1})
            ORDER BY score2_e6 DESC, c_id LIMIT 1))"""
        s"""WITH pr AS (SELECT embedding AS q_emb FROM embeddings
            WHERE vec_id = 0),
        cand AS (SELECT c_id, simq_e6, embedding FROM (
            SELECT vec_id AS c_id,
              CAST(round(round(${cosineSql("embedding", "q_emb")}, 6)
                * 1000000) AS BIGINT) AS simq_e6,
              embedding
            FROM embeddings CROSS JOIN pr WHERE vec_id > 0
            ORDER BY simq_e6 DESC, c_id LIMIT 20)),
        ps AS (SELECT a.c_id AS ia, b.c_id AS ib,
            ${simE6("a.embedding", "b.embedding")} AS sim_e6
          FROM cand a JOIN cand b ON a.c_id <> b.c_id),
        sel1 AS (SELECT c_id, CAST(1 AS BIGINT) AS rn, simq_e6,
            simq_e6 * 2 AS score2_e6
          FROM cand ORDER BY simq_e6 DESC, c_id LIMIT 1),
        ${(2 to 5).map(round_).mkString(",")}
        SELECT c_id, rn, simq_e6, score2_e6 FROM sel5 ORDER BY rn"""
      }),

    // IVF-BUCKETED hard-negative mining — the scale path q_hard_negatives'
    // Scaladoc promises: the label-disjoint filter rides the inverted-list
    // join (VectorIvf.topkApproxLabelDisjoint), so each anchor scores only
    // its nprobe cells' different-label members instead of the corpus.
    // Engine-trained codebook ⇒ oracle-gated through the in-query recall
    // invariant (the q_cosine_ivf pattern): per anchor, does the TRUE
    // top-1 hard negative (recomputed in-query by the exact broadcast
    // scan) appear in the approx top-3? AnnGateProbe-measured mean_hit:
    // see the floor comment; the exact q_hard_negatives output remains
    // the full-precision audit beside this gate.
    QDef("q_hard_negatives_ivf",
      (s, d) => {
        val e = embeddings(s, d)
        val approx = graft.llm.VectorIvf.topkApproxLabelDisjoint(
          e, "vec_id", "embedding", "label", k = 3,
          nlist = 16, nprobe = 4,
          queries = Some(e.filter(col("vec_id") < 50)),
          trainFraction = 0.2)
        // AnnGateProbe: 0.64 at sf0.01, 0.60 at sf0.1 → floor 0.45
        hardNegRecallMean(e, approx, nQ = 50)
          .select(col("n_queries"),
            (col("mean_hit") >= 0.45).cast("long").as("floor_ok"))
      },
      Some(annGateSql)),

    // nDCG@10 RETRIEVAL EVAL — the ranking-quality rollup beside
    // q_rank_fusion (which BUILDS a ranking) and q_hard_negatives (which
    // mines failures): per anchor, rank all other vectors by round-6
    // cosine, grade rank positions with binary same-label relevance, and
    // report DCG@10 / ideal-DCG@10. The 10 discount weights 10⁶/log₂(i+1)
    // are compile-time INTEGER constants embedded identically in both
    // plans (the only transcendental is evaluated once in the builder,
    // not per-engine), so dcg/idcg are exact BIGINT sums and nDCG is one
    // IEEE divide (class A + exact-div). Shape: 8 broadcast anchors fan
    // against one corpus scan, per-anchor window top-10, one hash-agg —
    // the q_hard_negatives probe pattern.
    QDef("q_ndcg_at_k",
      (s, d) => {
        val e = embeddings(s, d)
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_r").desc, col("c_id"))
        val graded = e.select(col("vec_id").as("c_id"),
            col("label").as("c_label"), col("embedding").as("c_emb"))
          .join(broadcast(anchors), col("q_id") =!= col("c_id"))
          .withColumn("sim_r", round(graft.functions.VectorFunctions
            .vec_cosine(col("q_emb"), col("c_emb")), 6))
          .withColumn("rel", (col("q_label") === col("c_label")).cast("long"))
          .withColumn("rn", row_number().over(w))
        graded
          .groupBy(col("q_id"))
          .agg(sum(col("rel")).as("n_rel"),
            sum(when(col("rn") <= 10,
              col("rel") * element_at(lit(NdcgW), col("rn").cast("int")))
              .otherwise(lit(0L))).as("dcg_e6"))
          .select(col("q_id"), col("n_rel"), col("dcg_e6"),
            when(col("n_rel") === 0, lit(0L))
              .otherwise(element_at(lit(NdcgCum),
                least(col("n_rel"), lit(10L)).cast("int"))).as("idcg_e6"))
          .withColumn("ndcg",
            when(col("idcg_e6") === 0, lit(0.0))
              .otherwise(round(col("dcg_e6").cast("double") /
                col("idcg_e6"), 6)))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH g AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
            CAST(q.label = c.label AS BIGINT) AS rel,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6)
                DESC, c.vec_id) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < 8) q
          JOIN embeddings c ON q.vec_id <> c.vec_id),
        wts AS (SELECT ${NdcgW.mkString("[", ",", "]")} AS w,
            ${NdcgCum.mkString("[", ",", "]")} AS cw),
        agg AS (SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
            CAST(sum(CASE WHEN rn <= 10 THEN rel * w[rn] ELSE 0 END)
              AS BIGINT) AS dcg_e6
          FROM g CROSS JOIN wts GROUP BY q_id)
        SELECT q_id, n_rel, dcg_e6,
          CAST(CASE WHEN n_rel = 0 THEN 0
            ELSE cw[CAST(least(n_rel, 10) AS INT)] END AS BIGINT) AS idcg_e6,
          CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(CAST(dcg_e6 AS DOUBLE) /
              cw[CAST(least(n_rel, 10) AS INT)], 6) END AS ndcg
        FROM agg CROSS JOIN wts ORDER BY q_id""")),

    // MRR@10 — the first-relevant-rank eval beside q_ndcg_at_k (nDCG
    // grades the whole ranked list; MRR asks only "how soon is the
    // first hit", the navigational-query metric): per anchor, the
    // reciprocal of the first same-label rank within the top-10, as the
    // builder-time integer table round(10⁶/rank) (the NdcgW pattern —
    // no per-engine division), 0 when no hit. Same broadcast-probe +
    // per-anchor window shape as its sibling. Class A.
    QDef("q_mrr_at_k",
      (s, d) => {
        val e = embeddings(s, d)
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_r").desc, col("c_id"))
        e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
            col("embedding").as("c_emb"))
          .join(broadcast(anchors), col("q_id") =!= col("c_id"))
          .withColumn("sim_r", round(graft.functions.VectorFunctions
            .vec_cosine(col("q_emb"), col("c_emb")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy(col("q_id"))
          .agg(min(when(col("q_label") === col("c_label"), col("rn")))
            .as("first_rel"))
          .select(col("q_id"),
            coalesce(col("first_rel").cast("long"), lit(0L))
              .as("first_rel_rank"),
            coalesce(element_at(lit(MrrW), col("first_rel").cast("int")),
              lit(0L)).as("rr_e6"))
          .orderBy(col("q_id"))
      },
      Some(s"""WITH g AS (SELECT q.vec_id AS q_id,
            CAST(q.label = c.label AS BIGINT) AS rel,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(${cosineSql("q.embedding", "c.embedding")}, 6)
                DESC, c.vec_id) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < 8) q
          JOIN embeddings c ON q.vec_id <> c.vec_id),
        wts AS (SELECT ${MrrW.mkString("[", ",", "]")} AS w),
        fr AS (SELECT q_id, min(CASE WHEN rel = 1 THEN rn END) AS first_rel
          FROM g WHERE rn <= 10 GROUP BY q_id)
        SELECT q_id,
          CAST(COALESCE(first_rel, 0) AS BIGINT) AS first_rel_rank,
          CAST(COALESCE(w[CAST(first_rel AS INT)], 0) AS BIGINT) AS rr_e6
        FROM fr CROSS JOIN wts ORDER BY q_id""")),

    // GRID-BLOCKED DBSCAN point classification — the density-based
    // clustering step (Ester et al. 1996) over the embedding table's
    // first two dimensions, quantized to exact e6 integers: a point is
    // CORE when ≥ 4 neighbors sit within ε = 0.02, BORDER when a core
    // point is within ε, NOISE otherwise. The ε-neighbor join is the
    // classic grid block: each point probes its 3×3 cell neighborhood
    // (cell = coord div ε — both engines truncate toward zero, and a
    // length-ε interval crosses at most one cell boundary, so the probe
    // grid is candidate-complete), then an integer squared-distance
    // verify — never an all-pairs join. At 100 TB the cell equi-join IS
    // the partition strategy (points co-locate by cell). All integer
    // (class A).
    QDef("q_dbscan_core",
      (s, d) => {
        val eps = 20000L
        val pts = embeddings(s, d).select(col("vec_id"),
            round(col("embedding").getItem(0).cast("double") * 1e6)
              .cast("long").as("x"),
            round(col("embedding").getItem(1).cast("double") * 1e6)
              .cast("long").as("y"))
          .withColumn("cx", expr(s"x div $eps"))
          .withColumn("cy", expr(s"y div $eps"))
          .localCheckpoint(true) // probe fan + member side + point list
        val probes = pts.select(col("vec_id"), col("x"), col("y"),
            explode(expr("""flatten(transform(array(-1, 0, 1),
              dx -> transform(array(-1, 0, 1),
                dy -> named_struct('px', cx + dx, 'py', cy + dy))))"""))
              .as("p"))
          .select(col("vec_id"), col("x"), col("y"),
            col("p.px").as("px"), col("p.py").as("py"))
        val nbrPairs = probes.join(pts.select(col("vec_id").as("b_id"),
            col("x").as("bx"), col("y").as("by"),
            col("cx").as("px"), col("cy").as("py")), Seq("px", "py"))
          .filter(col("vec_id") =!= col("b_id") &&
            (col("x") - col("bx")) * (col("x") - col("bx")) +
              (col("y") - col("by")) * (col("y") - col("by")) <=
              lit(eps * eps))
          .select(col("vec_id").as("a_id"), col("b_id"))
          .localCheckpoint(true) // degree count + the border probe
        val nnb = nbrPairs.groupBy(col("a_id")).agg(count(lit(1)).as("n_nb"))
        val flags = pts.select(col("vec_id"))
          .join(nnb, col("vec_id") === col("a_id"), "left")
          .select(col("vec_id"), coalesce(col("n_nb"), lit(0L)).as("n_nb"))
          .withColumn("is_core", col("n_nb") >= 4)
          .localCheckpoint(true) // core set + final classification
        val hasCoreNbr = nbrPairs
          .join(flags.filter(col("is_core"))
            .select(col("vec_id").as("b_id")), Seq("b_id"))
          .select(col("a_id")).distinct()
        flags.join(hasCoreNbr.withColumn("hc", lit(1L)),
            col("vec_id") === col("a_id"), "left")
          .select(col("vec_id"), col("n_nb"),
            when(col("is_core"), "core")
              .when(col("hc").isNotNull, "border")
              .otherwise("noise").as("kind"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH pts AS (SELECT vec_id,
            CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
              AS x,
            CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)
              AS y
          FROM embeddings),
        cells AS (SELECT vec_id, x, y,
            x // 20000 AS cx, y // 20000 AS cy FROM pts),
        probes AS (SELECT vec_id, x, y, cx + dx.range AS px,
            cy + dy.range AS py
          FROM cells CROSS JOIN range(-1, 2) dx CROSS JOIN range(-1, 2) dy),
        np AS (SELECT p.vec_id AS a_id, b.vec_id AS b_id
          FROM probes p JOIN cells b
            ON p.px = b.cx AND p.py = b.cy AND p.vec_id <> b.vec_id
          WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
            <= 400000000),
        nnb AS (SELECT a_id, CAST(count(*) AS BIGINT) AS n_nb
          FROM np GROUP BY a_id),
        flags AS (SELECT c.vec_id, COALESCE(n_nb, 0) AS n_nb,
            COALESCE(n_nb, 0) >= 4 AS is_core
          FROM cells c LEFT JOIN nnb ON c.vec_id = nnb.a_id),
        hc AS (SELECT DISTINCT np.a_id FROM np
          JOIN flags f ON np.b_id = f.vec_id WHERE f.is_core)
        SELECT f.vec_id, f.n_nb,
          CASE WHEN f.is_core THEN 'core'
            WHEN hc.a_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS kind
        FROM flags f LEFT JOIN hc ON f.vec_id = hc.a_id
        ORDER BY f.vec_id""")),

    // DBSCAN CLUSTER IDS — the completion of q_dbscan_core (which
    // classifies points; this names the clusters): connected components
    // over the core–core ε-graph via the same iterative min-label
    // machinery as the dedup clusterer (TextDedup.clusters is generic
    // over (nodes, edges)), border points attach to their NEAREST core
    // neighbor's cluster (ties by core id — the (dist², id) fixed-width
    // composite key both engines order identically), noise labels −1.
    // Oracle: the q_dedup_clusters recursive-CTE min-reachable-id over
    // the core graph (measured 5.3 s at sf0.1 — 1,711 cores, 5
    // components). Scale: the ε-join is the q_dbscan_core grid probe;
    // CC iterates ONLY the core edge frame (the corpus never re-enters
    // the loop). Class A.
    QDef("q_dbscan_clusters",
      (s, d) => {
        val eps = 20000L
        val pts = embeddings(s, d).select(col("vec_id"),
            round(col("embedding").getItem(0).cast("double") * 1e6)
              .cast("long").as("x"),
            round(col("embedding").getItem(1).cast("double") * 1e6)
              .cast("long").as("y"))
          .withColumn("cx", expr(s"x div $eps"))
          .withColumn("cy", expr(s"y div $eps"))
          .localCheckpoint(true)
        val probes = pts.select(col("vec_id"), col("x"), col("y"),
            explode(expr("""flatten(transform(array(-1, 0, 1),
              dx -> transform(array(-1, 0, 1),
                dy -> named_struct('px', cx + dx, 'py', cy + dy))))"""))
              .as("p"))
          .select(col("vec_id"), col("x"), col("y"),
            col("p.px").as("px"), col("p.py").as("py"))
        val nbrPairs = probes.join(pts.select(col("vec_id").as("b_id"),
            col("x").as("bx"), col("y").as("by"),
            col("cx").as("px"), col("cy").as("py")), Seq("px", "py"))
          .filter(col("vec_id") =!= col("b_id"))
          .withColumn("d2",
            (col("x") - col("bx")) * (col("x") - col("bx")) +
              (col("y") - col("by")) * (col("y") - col("by")))
          .filter(col("d2") <= lit(eps * eps))
          .select(col("vec_id").as("a_id"), col("b_id"), col("d2"))
          .localCheckpoint(true) // degree, core edges, border attach
        val core = nbrPairs.groupBy(col("a_id"))
          .agg(count(lit(1)).as("n_nb")).filter(col("n_nb") >= 4)
          .select(col("a_id").as("vec_id"))
          .localCheckpoint(true) // CC nodes + both memberships
        val coreEdges = nbrPairs
          .join(core.select(col("vec_id").as("a_id")), Seq("a_id"), "left_semi")
          .join(core.select(col("vec_id").as("b_id")), Seq("b_id"), "left_semi")
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
        val coreLab = graft.llm.TextDedup
          .clusters(core, "vec_id", coreEdges)
          .select(col("vec_id"), col("cluster"))
          .localCheckpoint(true) // core output + border attach
        val borderLab = nbrPairs
          .join(core.select(col("vec_id").as("b_id")), Seq("b_id"), "left_semi")
          .withColumnRenamed("a_id", "vec_id")
          .join(core.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .withColumn("k", concat(
            lpad(col("d2").cast("string"), 13, "0"),
            lpad(col("b_id").cast("string"), 12, "0")))
          .groupBy(col("vec_id")).agg(min_by(col("b_id"), col("k")).as("nc"))
          .join(coreLab.select(col("vec_id").as("nc"),
            col("cluster").as("bcluster")), Seq("nc"))
          .select(col("vec_id"), col("bcluster"))
        pts.select(col("vec_id"))
          .join(coreLab, Seq("vec_id"), "left")
          .join(borderLab, Seq("vec_id"), "left")
          .select(col("vec_id"),
            when(col("cluster").isNotNull, lit("core"))
              .when(col("bcluster").isNotNull, lit("border"))
              .otherwise(lit("noise")).as("kind"),
            coalesce(col("cluster"), col("bcluster"), lit(-1L))
              .as("cluster"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH RECURSIVE
        pts AS (SELECT vec_id,
            CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
              AS x,
            CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)
              AS y
          FROM embeddings),
        cells AS (SELECT vec_id, x, y,
            x // 20000 AS cx, y // 20000 AS cy FROM pts),
        probes AS (SELECT vec_id, x, y, cx + dx.range AS px,
            cy + dy.range AS py
          FROM cells CROSS JOIN range(-1, 2) dx CROSS JOIN range(-1, 2) dy),
        np AS (SELECT p.vec_id AS a_id, b.vec_id AS b_id,
            (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y) AS d2
          FROM probes p JOIN cells b
            ON p.px = b.cx AND p.py = b.cy AND p.vec_id <> b.vec_id
          WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
            <= 400000000),
        core AS (SELECT a_id AS vec_id FROM np
          GROUP BY a_id HAVING count(*) >= 4),
        ce AS (SELECT a_id AS a, b_id AS b FROM np
          WHERE a_id IN (SELECT vec_id FROM core)
            AND b_id IN (SELECT vec_id FROM core)),
        reach(id, r) AS (
          SELECT vec_id, vec_id FROM core
          UNION
          SELECT ce.b, reach.r FROM reach JOIN ce ON ce.a = reach.id),
        corelab AS (SELECT id AS vec_id, min(r) AS cluster
          FROM reach GROUP BY id),
        borderlab AS (SELECT np.a_id AS vec_id,
            min_by(cl.cluster, lpad(CAST(np.d2 AS VARCHAR), 13, '0')
              || lpad(CAST(np.b_id AS VARCHAR), 12, '0')) AS bcluster
          FROM np JOIN corelab cl ON np.b_id = cl.vec_id
          WHERE np.a_id NOT IN (SELECT vec_id FROM core)
          GROUP BY np.a_id)
        SELECT p.vec_id,
          CASE WHEN c.cluster IS NOT NULL THEN 'core'
            WHEN b.bcluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS kind,
          COALESCE(c.cluster, b.bcluster, -1) AS cluster
        FROM pts p
        LEFT JOIN corelab c ON p.vec_id = c.vec_id
        LEFT JOIN borderlab b ON p.vec_id = b.vec_id
        ORDER BY p.vec_id"""))
  )

  /** Shared pipeline of q_lsh_band_sweep / q_lsh_band_sweep_sampled —
    * one definition, so the sampled audit twin cannot drift. ONE
    * 16-permutation signature set banded four nested ways; recall
    * floors are pinned per mode (measured at sf0.001/0.01/0.1, the
    * AnnGateProbe cadence, ~2/3 margin under the observed minimum). */
  private def lshBandSweep(s: org.apache.spark.sql.SparkSession,
      d: String, sampled: Boolean): org.apache.spark.sql.DataFrame = {
    val docs0 = documents(s, d)
    val docs = if (sampled)
      docs0.filter(docSampleNibble(col("doc_id")) <= 3) else docs0
    val sig = graft.llm.TextDedup
      .minhashSignatures(docs, "doc_id", "text", nPerm = 16)
      .localCheckpoint(true) // banded four ways below
    val exact = graft.llm.TextDedup
      .jaccardEdgesShared(docs, "doc_id", "text",
        threshold = 0.2, corpusKey = if (sampled) s"$d#nib3" else d)
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true) // recall denominator + per-config hits
    val configs = Seq(2, 4, 8, 16)
    // r16 opt (guide §2.4): ONE bucket explode + ONE self-join for all
    // four configs — the config id rides IN the bucket key, so
    // cross-config buckets can never match and each config's candidate
    // set is exactly what its standalone join produced (the raw r-long
    // signature slice stays the key — r13 ADVICE: no digest, so the
    // nested-band superset law is exact, not exact-up-to-collision).
    // Replaces 4 self-joins + 4 eager checkpoints (the per-config
    // explode rows are the same 30/doc either way; the join volume is
    // identical, the stage/action count is a quarter of it).
    val bandRows = configs.flatMap { bands =>
      val rows = 16 / bands
      (0 until bands).map { b =>
        struct(lit(bands.toLong).as("cfg"), lit(b).as("band"),
          array((0 until rows).map(r => col(s"h${b * rows + r}")): _*)
            .as("sig"))
      }
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandRows: _*)).as("bk"))
    val tagged = buckets.as("a").join(buckets.as("b"),
        col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.bk.cfg").as("n_bands"),
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint(true) // recall tag join + the 3 superset checks
    val cand = configs.map(b =>
      b -> tagged.filter(col("n_bands") === b.toLong)
        .select(col("id_a"), col("id_b"))).toMap
    // measured recall floors vs exact J ≥ 0.5 (BandSweepProbe across
    // sf0.001/0.01/0.1: full corpus b=2 0.88–0.93, b≥4 = 1.00; the
    // 1/4 stratum b=2 0.50–1.00 — per-pair hit probability is
    // signature-local so the stratum estimate is unbiased, but its
    // tiny denominator at sf0.001 (4 pairs) widens the variance, so
    // the sampled b=2 floor sits at the ~2/3 margin under the 0.50
    // observed minimum). The nested-band law guarantees MONOTONE; the
    // floors pin the LEVEL.
    val floors =
      if (sampled) Map(2 -> 300000L, 4 -> 650000L, 8 -> 650000L,
        16 -> 650000L)
      else Map(2 -> 600000L, 4 -> 650000L, 8 -> 650000L,
        16 -> 650000L)
    import s.implicits._
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    // left-join from the static config frame so a candidate-less
    // config still emits its row (n_true = 0) instead of vanishing
    val confFrame = configs.map(b => (b.toLong, (16 / b).toLong))
      .toDF("n_bands", "rows_per_band")
    val per = confFrame
      .join(tagged
        .join(exact.withColumn("hit", lit(1L)), Seq("id_a", "id_b"),
          "left")
        .groupBy(col("n_bands"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_true")),
        Seq("n_bands"), "left")
      .crossJoin(broadcast(nExact))
      .select(col("n_bands"), col("rows_per_band"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        col("n_exact"))
    // deterministic superset law: candidates(b) \ candidates(2b)
    // must be EMPTY (nested bands) — asserted pairwise
    val vio = Seq((2, 4), (4, 8), (8, 16)).map { case (lo, hi) =>
      cand(lo).join(cand(hi), Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("v"))
        .select(lit(hi.toLong).as("n_bands"), col("v"))
    }.reduce(_ unionAll _)
    val floorCol = configs.map(b =>
      when(col("n_bands") === b.toLong,
        col("n_true") * 1000000L >= lit(floors(b)) * col("n_exact")))
      .reduceRight(_ otherwise _) // right-nested: one when per config
    val w = Window.orderBy(col("n_bands"))
    per.join(vio, Seq("n_bands"), "left")
      .select(col("n_bands"), col("rows_per_band"), col("n_true"),
        col("n_exact"), coalesce(col("v"), lit(0L)).as("v"))
      .select(col("n_bands"), col("rows_per_band"),
        col("n_exact"),
        floorCol.cast("long").as("floor_ok"),
        (col("v") === 0L).cast("long").as("superset_ok"),
        coalesce(col("n_true") >= lag(col("n_true"), 1).over(w),
          lit(true)).cast("long").as("mono_ok"))
      .orderBy(col("n_bands"))
  }

  /** Shared pipeline of q_dedup_cascade / q_dedup_cascade_sampled /
    * q_dedup_cascade_banded — one definition, so neither twin can drift
    * from the operator it bounds. `sampled` restricts to the
    * deterministic 1/4 doc stratum (first md5 nibble ≤ 3 ⇒ 1/16 of the
    * pair work) and memoizes the stratum's edge frame under its own
    * corpus key. `bandedThreshold` (cascade-on-candidates, r15 VERDICT
    * directive 3) swaps the exact ≥0.2 edge build for the PRODUCTION
    * near-dup stage: banded LSH candidates generated on the stage-1
    * SURVIVORS only (exact dup cliques never reach pair generation —
    * on the replicated adversarial corpus this is what converts the
    * measured 100× scratch exclusion into a completing run), exactly
    * verified per candidate, thresholded at the production 0.9 point. */
  private def dedupCascade(s: org.apache.spark.sql.SparkSession,
      d: String, sampled: Boolean,
      bandedThreshold: Option[Double] = None): org.apache.spark.sql.DataFrame = {
    val dset = if (sampled)
      documents(s, d).filter(docSampleNibble(col("doc_id")) <= 3)
    else documents(s, d)
    val base = dset
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("n_toks"),
        md5(col("text").cast("binary")).as("h"))
      .localCheckpoint(true) // stage-0 rollup + the keeper window
    val k1 = base
      .withColumn("kid", min(col("doc_id")).over(
        Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("kid"))
      .select(col("doc_id"), col("n_toks"))
      .localCheckpoint(true) // edge restriction (×2) + CC + rollup
    val e1 = bandedThreshold match {
      case Some(thr) =>
        // production near-dup stage: pair generation runs on the stage-1
        // survivors (restricting the corpus before pair generation ≡
        // restricting exact pairs after — same verified edge set, but
        // the all-dup cliques have already collapsed), candidates are
        // banded (8×4 on 32 permutations — the q_minhash_lsh operating
        // point whose ≥0.9 recall that query's oracle pins to 1 on this
        // corpus), and each candidate is verified EXACTLY, so the edge
        // set is exactly the true ≥ thr pairs among survivors
        val survivors = dset.join(k1.select(col("doc_id")), "doc_id")
        val cand = graft.llm.TextDedup
          .minhashCandidates(survivors, "doc_id", "text")
        graft.llm.TextDedup
          .verifyCandidatePairs(survivors, cand, "doc_id", "text")
          .filter(col("jaccard") >= thr)
          .select(col("id_a"), col("id_b"))
      case None =>
        graft.llm.TextDedup
          .jaccardEdgesShared(dset, "doc_id", "text",
            threshold = 0.2, corpusKey = if (sampled) s"$d#nib3" else d)
          .select(col("id_a"), col("id_b"))
          .join(k1.select(col("doc_id").as("id_a")), "id_a")
          .join(k1.select(col("doc_id").as("id_b")), "id_b")
          .select(col("id_a"), col("id_b"))
    }
    val cl = graft.llm.TextDedup
      .clusters(k1.select(col("doc_id")), "doc_id", e1)
    val k2 = cl.filter(col("doc_id") === col("cluster"))
      .select(col("doc_id")).join(k1, "doc_id")
    val stages = Seq("0_raw" -> base.select(col("doc_id"),
      col("n_toks")), "1_exact" -> k1, "2_neardup" -> k2)
    val w = Window.orderBy(col("stage"))
    stages.map { case (nm, f) =>
      f.agg(count(lit(1)).as("n_docs"), sum(col("n_toks"))
        .as("n_tokens"))
        .select(lit(nm).as("stage"), col("n_docs"), col("n_tokens"))
    }.reduce(_ unionAll _)
      .withColumn("removed_docs",
        coalesce(lag(col("n_docs"), 1).over(w) - col("n_docs"),
          lit(0L)))
      .orderBy(col("stage"))
  }
}
