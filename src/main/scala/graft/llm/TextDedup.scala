package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection primitives over a (id, text) corpus:
  * MinHash+LSH candidate generation and 64-bit SimHash fingerprints.
  * Pure DataFrame transforms (codegen'd hash/HOF expressions, no UDFs),
  * reusable from the declared queries and from tests with synthetic
  * corpora.
  *
  * Scale design: candidates come from an equi-join on (band, signature)
  * bucket keys — one shuffle proportional to corpus size, never O(n²).
  * Probability a pair with Jaccard j collides in ≥1 of b bands of r rows:
  * 1-(1-j^r)^b (b=8, r=4: j=0.8 → 0.986, j=0.3 → 0.063).
  */
object TextDedup {

  /** Non-empty whitespace tokens. */
  def tokens(c: Column): Column = filter(split(c, " "), t => t =!= "")

  /** Distinct token k-shingles (k consecutive tokens joined by space).
    * Docs with fewer than k tokens yield an empty array — guarded,
    * because Spark's `sequence(0, negative)` counts DOWN (step defaults
    * to -1), which would both crash `slice` (start 0) and emit bogus
    * short shingles. */
  def shingles(c: Column, k: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exploded (id [, blockCols], shingle) pairs; docs with fewer than k
    * tokens contribute nothing.
    *
    * `maxDf`: drop shingles whose document frequency (within a block)
    * exceeds the cap. The shingle equi-join emits O(df²) pairs PER
    * SHINGLE — one boilerplate phrase shared by 10⁵ documents is 10¹⁰
    * join rows, the thing that actually kills this operator at 100 TB.
    * Ultra-common shingles carry no near-dup signal (they don't
    * discriminate), so capping df bounds the join at a marginal recall
    * cost; similarity is then computed over the surviving shingles (a
    * documented approximation, the standard production trade). */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, k: Int,
      blockCols: Seq[String] = Seq.empty,
      maxDf: Option[Int] = None): DataFrame = {
    val sh = docs.select((col(idCol).as("sid") +: blockCols.map(col)) :+
        tokens(col(textCol)).as("toks"): _*)
      .filter(size(col("toks")) >= k)
      .select((col("sid").as(idCol) +: blockCols.map(col)) :+
        explode(array_distinct(transform(
          sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k)))))).as("sh"): _*)
    maxDf.fold(sh) { cap =>
      val keys = blockCols.map(col) :+ col("sh")
      // the hot set is small by definition (few shingles are ultra-common)
      // — an anti-join against it is one cheap shuffle, AQE broadcasts it
      val hot = sh.groupBy(keys: _*).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .select(keys: _*)
      sh.join(hot, blockCols :+ "sh", "left_anti")
    }
  }

  /** MinHash signature + banded LSH candidate pairs (id_a < id_b).
    * nPerm permutations simulated as xxhash64(shingle, seed=p); bands of
    * nPerm/bands rows hashed into a bucket key.
    */
  /** Per-doc MinHash signature: columns h0..h{nPerm-1}, each the min of
    * xxhash64(shingle, seed=p) over the doc's distinct shingles — the
    * min-wise estimator (P[h_a = h_b] = Jaccard(a, b) per permutation). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, nPerm: Int = 32): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleK)
    val minCols = (0 until nPerm).map(p =>
      min(xxhash64(col("sh"), lit(p))).as(s"h$p"))
    sh.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
  }

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, nPerm: Int = 32, bands: Int = 8): DataFrame = {
    require(nPerm % bands == 0, "bands must divide nPerm")
    val rows = nPerm / bands
    val sig = minhashSignatures(docs, idCol, textCol, shingleK, nPerm)
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rows).map(r => col(s"h${b * rows + r}"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("sig")).as(s"band$b")
    }
    // self-joined below: materialize once, or the full shingle → 32-hash
    // signature aggregation runs twice
    val buckets = sig.select(col(idCol) +: bandCols: _*)
      .select(col(idCol),
        explode(array((0 until bands).map(b => col(s"band$b")): _*)).as("bk"))
      .localCheckpoint(true)
    buckets.as("a").join(buckets.as("b"),
        col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** EXACT Jaccard computed ONLY for the given candidate pairs — the
    * verification half of the production LSH cascade (generate banded
    * candidates, verify exactly, never touch non-candidate pairs). The
    * work is |candidates| × shingles-per-doc: the a-side shingle attach
    * fans each pair by one doc's shingles, the b-side match is an
    * (id, shingle) equi-join, then one hash-agg per pair — linear in
    * candidates, with NO corpus-wide pair fan anywhere (the thing the
    * exact edge build's measured 100× scratch exclusion is made of).
    * Pairs sharing zero shingles simply drop out (their Jaccard is 0 —
    * below any useful threshold). String shingle keys are kept here:
    * the candidate-restricted fan is small enough that the xxhash64
    * width trade (and its injectivity proof) buys nothing. */
  def verifyCandidatePairs(docs: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleK)
      .localCheckpoint(true) // feeds sizes + both pair-join sides
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(sh.select(col(idCol).as("id_a"), col("sh")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("szb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter"))).as("jaccard"))
  }

  /** Exact pairwise shingle-Jaccard ≥ threshold via shingle equi-join —
    * the ground truth MinHash approximates (O(pairs-sharing-a-shingle);
    * pass `blockCols` and/or use the minhash variant at scale). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.0,
      blockCols: Seq[String] = Seq.empty,
      /** see [[shingleTable]]: bounds the equi-join's per-shingle fan-out */
      maxShingleDf: Option[Int] = None): DataFrame = {
    // the shingle table feeds three plan branches (sizes + both join
    // sides) — materialize it once instead of re-running the tokenize +
    // explode subtree three times (localCheckpoint: GC-reclaimed, no
    // CacheManager substitution into unrelated plans). Key compaction
    // (r14 VERDICT directive 4) makes both join-side shuffles carry an
    // 8-byte key instead of the ~25-byte gram.
    val sh = KeyCompaction.compact(shingleTable(docs, idCol, textCol,
      shingleK, blockCols, maxShingleDf), "sh")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val blockCond = blockCols
      .map(b => col(s"a.$b") === col(s"b.$b"))
      .foldLeft(col("a.sh") === col("b.sh"))(_ && _)
    val inter = sh.as("a").join(sh.as("b"),
        blockCond && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col(s"sa.$idCol"))
      .join(sizes.as("sb"), col("id_b") === col(s"sb.$idCol"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Session-scoped materialized dup graph: the graph-analysis queries
    * (triangles, bounded reach, PageRank) all read the SAME unblocked
    * Jaccard ≥ threshold edge set. At 100 TB that edge set is a table the
    * dedup pipeline MAINTAINS — recomputing the shingle join per query
    * would dwarf every downstream graph operator. This cache is the
    * single-JVM analog of that materialized table: the first caller pays
    * the shingle join once and localCheckpoints the edges (storage-backed,
    * GC-reclaimed when the session drops the reference), later callers
    * scan the materialized frame. Keyed by (corpus key, id/text cols,
    * shingle k, threshold) so different corpora or operating points never
    * alias. Semantically transparent: callers get exactly
    * `jaccardPairs(...)` — including the jaccard column, so a HIGHER
    * threshold is a free filter over the shared frame (the exact side of
    * the MinHash coverage check reads ≥ 0.9 out of the ≥ 0.2 table). */
  private val sharedEdges = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Int, Double), DataFrame]()
  // structural cleanup contract: the harness clears ALL checkpoint-backed
  // memos via graft.Memo — registering here (object body runs before any
  // memo insert) means Bench cannot miss this memo
  graft.Memo.registerInvalidator(() => invalidateSharedEdges())

  /** Wall-clock seconds spent BUILDING shared edge frames since the last
    * reset — the memo's first-caller cost. graft.Bench reads-and-resets
    * this per pass so the shared fixed cost is attributed in the bench
    * artifact instead of silently riding whichever dup-graph query
    * happens to run first (VERDICT r12 directive 6). */
  private val sharedBuildNanos =
    new java.util.concurrent.atomic.AtomicLong(0L)
  def sharedEdgesBuildSecAndReset(): Double =
    sharedBuildNanos.getAndSet(0L) / 1e9

  /** Drop every memoized shared edge frame. A harness that reclaims
    * checkpoint blocks between passes (graft.Bench's inter-pass cleanup)
    * MUST call this afterwards: the memo holds eagerly-checkpointed
    * frames whose lineage is truncated, so a survivor would throw
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on its next scan instead of
    * recomputing. Rebuilding on the next call is the memo's normal
    * first-caller cost. */
  def invalidateSharedEdges(): Unit = sharedEdges.clear()

  def jaccardEdgesShared(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, corpusKey: String, shingleK: Int = 3): DataFrame =
    // compute (not computeIfAbsent): a cached frame whose checkpoint
    // blocks belong to a STOPPED session would throw at execution, so a
    // session mismatch rebuilds against the live one
    sharedEdges.compute((corpusKey, idCol, textCol, shingleK, threshold),
      (_, cached) =>
        if (cached != null && (cached.sparkSession eq docs.sparkSession)) cached
        else {
          val t0 = System.nanoTime()
          val built = jaccardPairs(docs, idCol, textCol, shingleK, threshold)
            .localCheckpoint(true)
          sharedBuildNanos.addAndGet(System.nanoTime() - t0)
          built
        })

  /** Connected components over an undirected dup-pair edge list —
    * near-dup PAIRS are not actionable until they become CLUSTERS (keep
    * one representative, drop the rest), and pair-chains mean the
    * transitive closure matters: a~b, b~c puts a,c in one cluster even
    * if a≁c directly.
    *
    * Iterative min-label propagation to FIXPOINT: every node starts as
    * its own label; each round, labels flow across edges and each node
    * keeps the minimum seen. Terminates in O(diameter) rounds with
    * label = min node id of the component — the same algorithm
    * GraphX/GraphFrames run, expressed as joins so it scales as ordinary
    * shuffles (edges hash-partitioned by src). Per-round
    * localCheckpoint truncates the otherwise exponentially growing
    * iterative lineage; the per-round convergence count is one action on
    * an already-materialized frame.
    */
  /** Diagnostic: propagation rounds the most recent [[clusters]] call took
    * to reach its fixpoint (includes the final no-change round that proves
    * convergence). ScaleProof reads this for the O(diameter) evidence row
    * — it is NOT part of the operator's result. */
  @volatile var lastClusterIters: Int = 0

  def clusters(nodes: DataFrame, idCol: String, edges: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 50): DataFrame = {
    val bidir = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    // iterate ONLY the nodes that have edges: in a dedup graph the
    // overwhelming majority of the corpus is singleton, and a singleton's
    // component is itself — joining them back once at the end turns the
    // per-round shuffle from O(|corpus|) into O(|dup graph|)
    var labels = bidir.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").cast("long").as("label"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val viaEdges = bidir.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      // Convergence detection rides the SAME aggregation (r16 opt): the
      // current-labels branch carries its label a second time as `prev`
      // (each id has exactly ONE labels row — labels is always a groupBy
      // result or the initial distinct — and every viaEdges dst is a
      // bidir src, so min(prev) over a group is exactly the old label).
      // The old per-round convergence check was a separate
      // next ⋈ labels equi-join (two exchanges + one more action per
      // round, guide §2.4); now it is a filter SCAN over the frame the
      // checkpoint just materialized — boundedReach's pattern.
      // r17 measured-and-REVERTED: fusing the round into ONE job (lazy
      // localCheckpoint materialized by a full-scan convergence count)
      // lost 5–34% across all 8 CC/BFS consumers in a 3-pass interleaved
      // worktree A/B — the fused job pays a full count(when(...)) scan +
      // an extra global-agg exchange every round, while this shape's
      // isEmpty is a take(1) short-circuit over an already-materialized
      // frame (~instant). Two jobs per round, the cheap one nearly free,
      // beats one heavier job.
      val next = labels.select(col("id"), col("label"),
          col("label").as("prev"))
        .unionAll(viaEdges.select(col("id"), col("label"),
          lit(Long.MaxValue).as("prev")))
        .groupBy(col("id")).agg(min(col("label")).as("label"),
          min(col("prev")).as("prev"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      it += 1
    }
    lastClusterIters = it
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id").cast("long")).as("cluster"))
  }

  /** Triangle enumeration over an undirected dup-pair edge list — the
    * density diagnostic of a dedup graph: triangles are pair-chains that
    * CLOSED (a~b, b~c AND a~c), so triangle-rich components are true
    * content clusters while triangle-free chains are often threshold
    * noise worth re-scoring.
    *
    * Degree-oriented enumeration: orient every edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges at the
    * common source, and close them against the oriented edge set. Each
    * triangle is found exactly once, and the wedge count is bounded by
    * Σ C(outdeg,2) with outdeg = O(√|E|) — the classic distributed bound
    * — instead of Σ C(deg,2), which a hub key would blow up. Every step
    * is an equi-join/hash-agg (three ordinary shuffles); nothing is
    * quadratic in a vertex's raw degree.
    *
    * Output: one row per triangle as (a, b, c), ids sorted ascending.
    */
  def triangles(edges: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // normalize to (min, max) so an edge listed in both directions is one
    // edge; feeds degree count + three join branches: materialize once
    val und = edges.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // src ≺ dst in (degree, id) order; dst keeps its degree so wedges can
    // re-derive the same total order without another join
    val oriented = withDeg.select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
      .localCheckpoint(true)
    // wedge (x→y, x→z) with y ≺ z, closed by the oriented edge y→z
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
        (col("e1.dd") < col("e2.dd") ||
          (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    wedges.join(oriented.as("e3"),
        col("y") === col("e3.src") && col("z") === col("e3.dst"))
      .select(sort_array(array(col("x"), col("y"), col("z"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** Bounded-hop reachability from a seed set over the undirected dup
    * edge list — "which documents are within k dedup hops of a flagged
    * set" (contaminated docs, takedown requests, a licensing block list).
    *
    * Frontier BFS: each round joins ONLY the nodes first reached last
    * round against the edges, merges by min-hop, and stops at `maxHops`
    * or when a frontier comes back empty. Exactly `hops ≤ maxHops` rounds
    * of ordinary equi-join + hash-agg shuffles, per-round localCheckpoint
    * truncating the iterative lineage — the same pattern [[clusters]]
    * runs to fixpoint, here with a hop budget.
    *
    * Output: (id, hops) for every node reachable in ≤ maxHops hops
    * (seeds at hops = 0), hops = BFS distance.
    */
  def boundedReach(seeds: DataFrame, idCol: String, edges: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxHops: Int = 3): DataFrame = {
    val bidir = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = seeds.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("hops"))
      .localCheckpoint(true)
    var h = 0L
    var frontierEmpty = false
    while (h < maxHops && !frontierEmpty) {
      // min-merged labels ⇒ hops === h is exactly the nodes FIRST reached
      // at round h — the BFS frontier, not the whole reached set
      val frontier = labels.filter(col("hops") === h)
      val next = frontier.join(bidir, col("id") === col("src"))
        .select(col("dst").as("id"), lit(h + 1L).as("hops"))
      // (same measured-and-reverted single-job fusion as clusters —
      // eager checkpoint + take(1)-short-circuit isEmpty wins)
      val merged = labels.unionAll(next)
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
        .localCheckpoint(true)
      frontierEmpty = merged.filter(col("hops") === h + 1L).isEmpty
      labels = merged
      h += 1
    }
    labels
  }

  /** Fixed-iteration PageRank over an undirected dup-pair edge list — the
    * centrality ranking of a dedup graph: in a near-dup component the
    * highest-PageRank node is the "most canonical" copy (most similar to
    * the most other copies), a better keep-representative choice than
    * min-id when copies differ in quality.
    *
    * Un-normalized per-node formulation, the one iterative-SQL engines
    * use: pr₀ = 1; prₖ₊₁(v) = (1−d) + d·Σ_{u→v} prₖ(u)/deg(u). A FIXED
    * iteration count (not convergence) keeps the operator deterministic
    * and budget-bounded; each round is one equi-join + hash-agg shuffle
    * over the dup graph only (isolated corpus nodes never enter the loop
    * — they get the closed-form (1−d) at the end). Per-round
    * localCheckpoint truncates the iterative lineage, the same pattern as
    * [[clusters]] / [[boundedReach]].
    *
    * Cross-engine determinism: contributions pr/deg are IEEE divisions of
    * identical doubles, summed EXACTLY via decimal cast (Q.dsum) so
    * partition order cannot perturb the sum — every iteration is
    * bit-reproducible against a sequential engine running the same
    * formula.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    import graft.queries.Q.dsum
    val bidir = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    val deg = bidir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var pr = deg.select(col("src").as("id"), lit(1.0).as("pr"))
    for (_ <- 0 until iters) {
      val sums = bidir
        .join(deg, "src")
        .join(pr, col("id") === col("src"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(dsum(col("c")).as("s"))
      pr = deg.select(col("src").as("id"))
        .join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(1 - damping) + lit(damping) * coalesce(col("s"), lit(0.0)))
            .as("pr"))
        .localCheckpoint(true)
    }
    nodes.select(col(idCol).as("id"))
      .join(pr, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("pr"), lit(1 - damping)).as("pagerank"))
  }

  /** 64-bit SimHash per document: majority vote of each token-hash bit —
    * a pure projection via the codegen'd [[graft.functions.SimHash64]]
    * expression (no explode, no shuffle: map-only at any scale). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.SimHash64.simhash64(tokens(col(textCol))).as("simhash64"))

  /** The relational formulation of [[simhash]] (explode → xxhash64 →
    * 64 bit-sums → pack). Kept as the differential-testing oracle for the
    * expression; identical output, one shuffle more expensive. */
  def simhashRelational(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
    val bitCols = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    agg.select(col(idCol), fp.as("simhash64"))
  }

  /** Hamming distance between two simhash64 columns (bit_count of XOR). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
