package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import Q._

/** Corpus-curation operators beyond dedup/ANN: weighted sampling,
  * split-distribution drift, entropy quality scoring, robust outlier
  * detection, numeric histograms, and dup-graph PageRank. Every query is
  * oracle-checked; every formulation is the one that survives 100 TB
  * (prefix sums are two-level bucketed, sums over doubles are
  * decimal-exact, iteration is fixed-budget over the dup graph only).
  */
object Corpus {

  /** Per-doc CCNet bigram-LM score frame (doc_id, n_bigrams, nllr, nll)
    * SHARED by q_perplexity_filter and q_perplexity_buckets (r13) so
    * the hard gate and the head/middle/tail mixture view score every
    * document identically. nllr is the unrounded decimal average (the
    * filter's 6.0 threshold compares against it, as always); nll is
    * the 6-dp rounded export. */
  private def nllFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val toksT = documents(s, d)
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("t"))
    val withBi = toksT.filter(size(col("t")) >= 2)
    val bi = withBi.select(col("doc_id"), explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> named_struct('w1', a, 'bg', concat(a, ' ', b)))"""))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val uni = toksT.select(explode(col("t")).as("w"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val c2 = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val v = uni.agg(countDistinct(col("w")).as("v"))
    bi.join(c2, "bg")
      .join(c1, col("w1") === col("w"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(lit(0.0) - log((col("c2") + 1.0) / (col("c1") + col("v"))), 4)
          .as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), davg(col("t")).as("nllr"))
      .withColumn("nll", round(col("nllr"), 6))
  }

  /** The oracle half of [[nllFrame]] — CTE chain ending in
    * `nf(doc_id, n_bigrams, nllr, nll)`. */
  private val nllCte: String = s"""toksT AS (SELECT doc_id,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    bi AS (SELECT doc_id, toks[i] AS w1,
        toks[i] || ' ' || toks[i + 1] AS bg
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM toksT WHERE len(toks) >= 2)),
    uni AS (SELECT unnest(toks) AS w FROM toksT),
    c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
    c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY bg),
    v AS (SELECT count(DISTINCT w) AS v FROM uni),
    terms AS (SELECT doc_id,
        round(0.0 - ln((c2.c2 + 1.0) / (c1.c1 + v.v)), 4) AS t
      FROM bi JOIN c2 USING (bg) JOIN c1 ON bi.w1 = c1.w CROSS JOIN v),
    nf AS (SELECT doc_id, count(*) AS n_bigrams,
        ${sqlDavg("t")} AS nllr, round(${sqlDavg("t")}, 6) AS nll
      FROM terms GROUP BY doc_id)"""


  val all: Seq[QDef] = Seq(

    // PageRank over the dup edge set (unblocked Jaccard ≥ 0.2, the same
    // graph the triangle/reachability queries read): inside a near-dup
    // component the highest-PageRank doc is the most-central copy — the
    // keep-representative choice when copies differ (min-id keeps an
    // arbitrary one). Fixed 5 iterations, each one equi-join + hash-agg
    // over the dup graph only; isolated docs get the closed-form (1−d)
    // without ever entering the loop. Oracle: five chained CTEs running
    // the identical formula with the identical decimal-exact summation.
    QDef("q_dup_pagerank",
      (s, d) => {
        val docs = documents(s, d)
        val edges = graft.llm.TextDedup
          .jaccardEdgesShared(docs, "doc_id", "text",
            threshold = 0.2, corpusKey = d)
          .select(col("id_a"), col("id_b"))
        graft.llm.TextDedup.pageRank(docs, "doc_id", edges, iters = 5)
          .select(col("doc_id"), round(col("pagerank"), 6).as("pagerank"))
          .orderBy(col("doc_id"))
      },
      Some {
        val edgesCte = s"""${Llm.dupEdgesCte("0.2")},
        edges AS (SELECT id_a AS src, id_b AS dst FROM edges0
          UNION ALL SELECT id_b, id_a FROM edges0),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        pr0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) AS pr FROM deg)"""
        def iter(k: Int): String = s"""
        pr$k AS (SELECT d.src AS id,
            (1 - CAST(0.85 AS DOUBLE)) +
              CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
          FROM deg d LEFT JOIN (
            SELECT e.dst AS id,
              CAST(sum(CAST((p.pr / g.deg) AS DECIMAL(30,6))) AS DOUBLE) AS s
            FROM edges e JOIN deg g USING (src)
            JOIN pr${k - 1} p ON p.id = e.src
            GROUP BY 1) s ON s.id = d.src)"""
        s"""WITH $edgesCte, ${(1 to 5).map(iter).mkString(",")}
        SELECT doc_id,
          round(COALESCE(pr5.pr, 1 - CAST(0.85 AS DOUBLE)), 6) AS pagerank
        FROM documents LEFT JOIN pr5 ON pr5.id = doc_id
        ORDER BY doc_id"""
      }),

    // Weighted (probability-proportional-to-size) systematic sampling:
    // k slots over the cumulative weight line, one doc per crossed slot
    // boundary — the deterministic PPS scheme (weights = document length,
    // so the sample holds ~uniform TOKEN coverage, not uniform DOC
    // coverage, which is what a training-mix ablation wants). All
    // arithmetic on exact integers; the prefix sum is the two-level
    // bucketed decomposition (per-bucket sums + offsets over the tiny
    // bucket table + within-bucket running sum), so no task ever windows
    // more than one doc_id bucket — the global-window form this replaces
    // sorts the corpus on ONE task at 100 TB.
    QDef("q_sample_weighted",
      (s, d) => {
        val k = 50
        val d0 = documents(s, d).select(col("doc_id"), col("n_chars"),
          floor(col("doc_id") / 100).cast("long").as("b"))
        val bsums = d0.groupBy(col("b")).agg(sum(col("n_chars")).as("bw"))
        val wOff = Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = bsums.select(col("b"),
          coalesce(sum(col("bw")).over(wOff), lit(0L)).as("off"),
          sum(col("bw")).over(Window.partitionBy()).as("total"))
        val wLocal = Window.partitionBy(col("b")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = d0.join(broadcast(offsets), Seq("b"))
          .select(col("doc_id"), col("n_chars"), col("total"),
            (col("off") + coalesce(sum(col("n_chars")).over(wLocal), lit(0L)))
              .as("cw0"))
        cum.filter(floor(col("cw0") * k / col("total")) <
            floor((col("cw0") + col("n_chars")) * k / col("total")))
          .select(col("doc_id"), col("n_chars"),
            (floor(col("cw0") * k / col("total")) + 1).as("slot"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH cum AS (
          SELECT doc_id, n_chars,
            COALESCE(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw0,
            sum(n_chars) OVER () AS total
          FROM documents)
        SELECT doc_id, n_chars,
          CAST(floor(cw0 * 50 / total) + 1 AS BIGINT) AS slot
        FROM cum
        WHERE floor(cw0 * 50 / total) < floor((cw0 + n_chars) * 50 / total)
        ORDER BY doc_id""")),

    // Train/test distribution drift: smoothed per-language probabilities
    // of each split plus both KL-divergence terms — the "did my split
    // change the language mix" check run before any training job.
    // Laplace +1 smoothing keeps KL finite when a language misses one
    // split; every probability is a single division of exact integers, so
    // the only transcendental is ln, whose libm results may differ by a
    // few ulps between engines. Each ln term is rounded to 4 decimals
    // BEFORE the multiply (the q_perplexity_filter hardening), so the
    // product runs on bit-identical doubles in both engines; a flip now
    // needs the true ln to sit within ~ulp (1e-16 rel) of a 5e-5 grid
    // midpoint across only 2·|langs| terms — vs the r6 form that rounded
    // the raw product at 1e-6. Mechanism + residual-risk bound recorded
    // in TUNING.md §determinism.
    QDef("q_split_drift",
      (s, d) => {
        val counts = documents(s, d)
          .select(col("lang"),
            (col("doc_id") % 10 < 8).cast("int").as("is_tr"))
          .groupBy(col("lang"))
          .agg(sum(col("is_tr")).as("c_tr"),
            sum(lit(1) - col("is_tr")).as("c_te"))
        val w = Window.partitionBy()
        val probs = counts.select(col("lang"), col("c_tr"), col("c_te"),
            ((col("c_tr") + 1) / (sum(col("c_tr")).over(w) + count(lit(1)).over(w)))
              .as("p_tr"),
            ((col("c_te") + 1) / (sum(col("c_te")).over(w) + count(lit(1)).over(w)))
              .as("p_te"))
        probs.select(col("lang"), col("c_tr"), col("c_te"),
            round(col("p_tr"), 6).as("p_tr"),
            round(col("p_te"), 6).as("p_te"),
            round(col("p_tr") * round(log(col("p_tr") / col("p_te")), 4), 6)
              .as("kl_tr_te"),
            round(col("p_te") * round(log(col("p_te") / col("p_tr")), 4), 6)
              .as("kl_te_tr"))
          .orderBy(col("lang"))
      },
      Some("""WITH counts AS (
          SELECT lang,
            CAST(sum(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END)
              AS BIGINT) AS c_tr,
            CAST(sum(CASE WHEN doc_id % 10 < 8 THEN 0 ELSE 1 END)
              AS BIGINT) AS c_te
          FROM documents GROUP BY 1),
        probs AS (
          SELECT lang, c_tr, c_te,
            (c_tr + 1) / (sum(c_tr) OVER () + count(*) OVER ()) AS p_tr,
            (c_te + 1) / (sum(c_te) OVER () + count(*) OVER ()) AS p_te
          FROM counts)
        SELECT lang, c_tr, c_te,
          round(p_tr, 6) AS p_tr, round(p_te, 6) AS p_te,
          round(p_tr * round(ln(p_tr / p_te), 4), 6) AS kl_tr_te,
          round(p_te * round(ln(p_te / p_tr), 4), 6) AS kl_te_tr
        FROM probs ORDER BY lang""")),

    // Character-diversity quality filter: low-diversity text is repeated
    // boilerplate / encoding junk, one of the standard pre-training
    // quality gates. Char histogram per doc via explode + hash-agg (the
    // wordcount shape: map-side combine bounds the shuffle at
    // |alphabet|·docs, not chars).
    // Determinism (structural — the r6 form hash-failed): the
    // hash-compared columns are now either exact integers or a single
    // IEEE division of exact integers, never a transcendental.
    //  - `simpson` = Gini–Simpson diversity 1 − Σc²/n² = (n²−Σc²)/n²: an
    //    exact rational; one correctly-rounded IEEE division of integer
    //    sums < 2^53 gives the identical double in both engines.
    //  - `pass` gates on the PURE-INTEGER inequality 5·(n²−Σc²) ≥ 4·n²
    //    (Simpson ≥ 0.8; normal text ≈0.93, junk ≈0) AND n ≥ 100 —
    //    bigint arithmetic, no float anywhere.
    //  - The Shannon sum (per-term round(4) + decimal sum) is still
    //    computed by BOTH engines but leaves the output only as
    //    `h_in_band`, the invariant 0−0.5 ≤ H ≤ ln(k)+0.5 (the
    //    q_sketch_cms flag pattern). Rounding error is bounded by
    //    5e-5·k ≤ 5e-3 for k ≤ |alphabet| ≈ 100 chars, so each engine's
    //    H sits ≥ 0.49 from the band edge — a flip is arithmetically
    //    impossible, not merely rare.
    QDef("q_entropy_quality",
      (s, d) => {
        val chars = documents(s, d).select(col("doc_id"),
          explode(filter(split(col("text"), ""), c => c =!= "")).as("ch"))
        val counts = chars.groupBy(col("doc_id"), col("ch"))
          .agg(count(lit(1)).as("c"))
        val wDoc = Window.partitionBy(col("doc_id"))
        val terms = counts
          .withColumn("n", sum(col("c")).over(wDoc))
          .select(col("doc_id"), col("n"), col("c"),
            // per-term round(4) before the decimal sum: same ln-ulp
            // boundary hardening as q_perplexity_filter
            round((col("c") / col("n")) * log(col("c") / col("n")), 4).as("t"))
        val n2 = col("n_chars_eff") * col("n_chars_eff")
        terms.groupBy(col("doc_id"))
          .agg(min(col("n")).as("n_chars_eff"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") * col("c")).as("sumc2"),
            (lit(0.0) - dsum(col("t"))).as("h"))
          .select(col("doc_id"), col("n_chars_eff"), col("n_distinct"),
            round((n2 - col("sumc2")).cast("double") / n2.cast("double"), 6)
              .as("simpson"),
            (col("h") >= -0.5 &&
              col("h") <= log(col("n_distinct").cast("double")) + 0.5)
              .cast("long").as("h_in_band"),
            ((n2 - col("sumc2")) * 5 >= n2 * 4 && col("n_chars_eff") >= 100)
              .cast("long").as("pass"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents),
        counts AS (SELECT doc_id, ch, count(*) AS c
          FROM chars WHERE ch <> '' GROUP BY 1, 2),
        terms AS (
          SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n,
            round((c / sum(c) OVER (PARTITION BY doc_id)) *
              ln(c / sum(c) OVER (PARTITION BY doc_id)), 4) AS t
          FROM counts),
        agg AS (
          SELECT doc_id, CAST(min(n) AS BIGINT) AS n_chars_eff,
            count(*) AS n_distinct,
            sum(c * c) AS sumc2, 0.0 - ${sqlDsum("t")} AS h
          FROM terms GROUP BY doc_id)
        SELECT doc_id, n_chars_eff, n_distinct,
          round(CAST(n_chars_eff * n_chars_eff - sumc2 AS DOUBLE) /
            CAST(n_chars_eff * n_chars_eff AS DOUBLE), 6) AS simpson,
          CAST(h >= -0.5 AND
            h <= ln(CAST(n_distinct AS DOUBLE)) + 0.5 AS BIGINT) AS h_in_band,
          CAST((n_chars_eff * n_chars_eff - sumc2) * 5 >=
            n_chars_eff * n_chars_eff * 4 AND n_chars_eff >= 100 AS BIGINT)
            AS pass
        FROM agg ORDER BY doc_id""")),

    // Robust per-group outlier detection: median + MAD (the
    // scaled-to-sigma 1.4826 form) flags price outliers per order
    // priority — data-quality triage that survives the heavy tails that
    // break mean/stddev z-scores. Exact median is the DEMO form
    // (unbounded per-group state, same bound TUNING.md documents for
    // percentile); at 100 TB swap both medians for approx_percentile and
    // keep the identical downstream arithmetic.
    // Determinism: Spark's `percentile` and DuckDB's `median` interpolate
    // the even-count midpoint with different term order (lower +
    // 0.5*(hi-lo) vs (lo+hi)/2), a 1-ulp difference that flipped the r6
    // outlier count. Both medians are therefore rounded to 4 decimals AT
    // THE SOURCE (the q_feature_binning precedent, Corpus binning
    // boundaries) so the 4.4478·mad comparison and the output columns run
    // on bit-identical doubles in both engines; cent-valued inputs put
    // interpolated midpoints ON the 1e-4 grid, never at its midpoints.
    QDef("q_outlier_mad",
      (s, d) => {
        val o = orders(s, d).select(col("o_orderpriority"), col("o_totalprice"))
        val med = o.groupBy(col("o_orderpriority"))
          .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("med"))
        val withMed = o.join(broadcast(med), Seq("o_orderpriority"))
        val mad = withMed.groupBy(col("o_orderpriority"))
          .agg(round(expr("percentile(abs(o_totalprice - med), 0.5)"), 4).as("mad"))
        withMed.join(broadcast(mad), Seq("o_orderpriority"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(min(col("med")), 6).as("med"),
            round(min(col("mad")), 6).as("mad"),
            sum((abs(col("o_totalprice") - col("med")) >
              lit(4.4478) * col("mad")).cast("long")).as("n_out"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH med AS (
          SELECT o_orderpriority, round(median(o_totalprice), 4) AS med
          FROM orders GROUP BY 1),
        j AS (SELECT o.o_orderpriority, o_totalprice, med
          FROM orders o JOIN med USING (o_orderpriority)),
        mad AS (SELECT o_orderpriority,
            round(median(abs(o_totalprice - med)), 4) AS mad
          FROM j GROUP BY 1)
        SELECT j.o_orderpriority, count(*) AS n,
          round(min(j.med), 6) AS med, round(min(mad.mad), 6) AS mad,
          CAST(sum(CAST(abs(o_totalprice - j.med) >
            CAST(4.4478 AS DOUBLE) * mad.mad AS BIGINT)) AS BIGINT) AS n_out
        FROM j JOIN mad USING (o_orderpriority)
        GROUP BY 1 ORDER BY o_orderpriority""")),

    // Parametric z-score outlier gate — the mean/σ twin of the robust
    // MAD query above, on integer document lengths, where the entire
    // detector collapses to integer arithmetic: |x − mean| > 3σ ⟺
    // (n·x − Σx)² > 9·(n·Σx² − (Σx)²). No interpolation, no
    // transcendental, no float comparison anywhere in the gate; the
    // reported mean/σ are single IEEE expressions over the same exact
    // integers (TUNING.md class A, strongest form). Per-lang moments
    // broadcast back to the rows — two map-side-combinable hash aggs at
    // any scale. The squared deviations stay under 2^63 up to ~10⁸ docs
    // per group × 6e2 chars; past that, promote the compare to
    // DECIMAL(38,0)/HUGEINT (same plan shape).
    QDef("q_outlier_zscore",
      (s, d) => {
        val x = documents(s, d).select(col("lang"), col("n_chars"))
        val m = x.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
            sum(col("n_chars") * col("n_chars")).as("sxx"))
          .withColumn("var_num",
            col("n") * col("sxx") - col("sx") * col("sx"))
        x.join(broadcast(m), Seq("lang"))
          .groupBy(col("lang"))
          .agg(min(col("n")).as("n"),
            round(min(col("sx")) / min(col("n")).cast("double"), 6)
              .as("mean_chars"),
            round(sqrt(min(col("var_num")).cast("double")) /
              min(col("n")).cast("double"), 6).as("std_chars"),
            sum(((col("n") * col("n_chars") - col("sx")) *
              (col("n") * col("n_chars") - col("sx")) >
              lit(9L) * col("var_num")).cast("long")).as("n_out"),
            max((col("n") * col("n_chars") - col("sx")) *
              (col("n") * col("n_chars") - col("sx"))).as("max_dev2"))
          .orderBy(col("lang"))
      },
      Some("""WITH m AS (
          SELECT lang, count(*) AS n,
            CAST(sum(n_chars) AS BIGINT) AS sx,
            CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
            CAST(count(*) * sum(n_chars * n_chars) -
              sum(n_chars) * sum(n_chars) AS BIGINT) AS var_num
          FROM documents GROUP BY lang)
        SELECT d.lang, min(n) AS n,
          round(CAST(min(sx) AS DOUBLE) / CAST(min(n) AS DOUBLE), 6)
            AS mean_chars,
          round(sqrt(CAST(min(var_num) AS DOUBLE)) /
            CAST(min(n) AS DOUBLE), 6) AS std_chars,
          CAST(sum(CAST((n * n_chars - sx) * (n * n_chars - sx) >
            9 * var_num AS BIGINT)) AS BIGINT) AS n_out,
          CAST(max((n * n_chars - sx) * (n * n_chars - sx)) AS BIGINT)
            AS max_dev2
        FROM documents d JOIN m ON d.lang = m.lang
        GROUP BY d.lang ORDER BY d.lang""")),

    // Equi-width numeric histogram (24 × 5000-wide buckets, top bucket
    // clamped): the profiling primitive behind range pruning and skew
    // diagnosis. One hash-agg over integer bucket ids — map-side combine
    // reduces any corpus to 24 rows before the shuffle.
    QDef("q_hist_numeric",
      (s, d) => lineitem(s, d)
        .select(least(floor(col("l_extendedprice") / 5000), lit(23L))
          .as("bucket"), col("l_extendedprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("s"))
        .select(col("bucket"), (col("bucket") * 5000).cast("double").as("lo"),
          col("n"), col("s"))
        .orderBy(col("bucket")),
      Some(s"""SELECT bucket, CAST(bucket * 5000 AS DOUBLE) AS lo,
          count(*) AS n, ${sqlDsum("l_extendedprice")} AS s
        FROM (SELECT least(CAST(floor(l_extendedprice / 5000) AS BIGINT),
            23) AS bucket, l_extendedprice FROM lineitem)
        GROUP BY bucket ORDER BY bucket""")),

    // Blocked fuzzy (edit-distance) self-join — the record-linkage dedup
    // variant shingle-Jaccard misses: near-identical short strings with
    // character-level typos. Blocking key = (lang, 12-char prefix), so
    // candidate pairs are bounded by prefix-collision groups (an equi-join,
    // never all-pairs; the standard blocking trade-off: a typo inside the
    // first 12 chars escapes the block — widen with a second key, e.g. a
    // suffix block, for higher recall). The codegen'd built-in
    // `levenshtein` then scores only the candidates, on a bounded
    // 40-char prefix so per-pair cost is O(40²) regardless of doc length.
    QDef("q_fuzzy_lev_join",
      (s, d) => {
        val doc = documents(s, d).select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 40).as("pfx"),
          substring(col("text"), 1, 12).as("blk"))
        val a = doc.select(col("doc_id").as("id_a"), col("lang"),
          col("pfx").as("pfx_a"), col("blk"))
        val b = doc.select(col("doc_id").as("id_b"), col("lang"),
          col("pfx").as("pfx_b"), col("blk"))
        a.join(b, Seq("blk", "lang"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            levenshtein(col("pfx_a"), col("pfx_b")).as("dist"))
          .filter(col("dist") <= 5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS dist
        FROM documents a JOIN documents b
          ON substr(a.text, 1, 12) = substr(b.text, 1, 12)
          AND a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 5
        ORDER BY id_a, id_b""")),

    // Single-pass column profiler: null count + exact distinct for four
    // orders columns in ONE aggregation (Catalyst's Expand handles the
    // multi-distinct — one scan, 4x expanded shuffle of pre-grouped
    // partials), then unpivoted to the (column, metric) long form a
    // data-quality dashboard reads. At 100 TB swap the exact distincts
    // for approx_count_distinct and the Expand collapses to one pass of
    // mergeable HLL sketches — same query shape, same output schema.
    QDef("q_profile_columns",
      (s, d) => {
        val o = orders(s, d)
        o.agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("nn_custkey"),
          countDistinct(col("o_custkey")).as("nd_custkey"),
          count(col("o_orderstatus")).as("nn_orderstatus"),
          countDistinct(col("o_orderstatus")).as("nd_orderstatus"),
          count(col("o_orderpriority")).as("nn_orderpriority"),
          countDistinct(col("o_orderpriority")).as("nd_orderpriority"),
          count(col("o_totalprice")).as("nn_totalprice"),
          countDistinct(col("o_totalprice")).as("nd_totalprice"))
          .selectExpr("n_rows",
            """stack(4,
              'o_custkey', nn_custkey, nd_custkey,
              'o_orderstatus', nn_orderstatus, nd_orderstatus,
              'o_orderpriority', nn_orderpriority, nd_orderpriority,
              'o_totalprice', nn_totalprice, nd_totalprice)
              AS (col_name, n_non_null, n_distinct)""")
          .select(col("col_name"), col("n_rows"), col("n_non_null"),
            (col("n_rows") - col("n_non_null")).as("n_null"),
            col("n_distinct"))
          .orderBy(col("col_name"))
      },
      Some("""WITH m AS (SELECT count(*) AS n_rows,
          count(o_custkey) AS nn_custkey,
          count(DISTINCT o_custkey) AS nd_custkey,
          count(o_orderstatus) AS nn_orderstatus,
          count(DISTINCT o_orderstatus) AS nd_orderstatus,
          count(o_orderpriority) AS nn_orderpriority,
          count(DISTINCT o_orderpriority) AS nd_orderpriority,
          count(o_totalprice) AS nn_totalprice,
          count(DISTINCT o_totalprice) AS nd_totalprice FROM orders)
        SELECT col_name, n_rows, n_non_null, n_rows - n_non_null AS n_null,
          n_distinct
        FROM (
          SELECT 'o_custkey' AS col_name, n_rows, nn_custkey AS n_non_null,
            nd_custkey AS n_distinct FROM m
          UNION ALL SELECT 'o_orderstatus', n_rows, nn_orderstatus,
            nd_orderstatus FROM m
          UNION ALL SELECT 'o_orderpriority', n_rows, nn_orderpriority,
            nd_orderpriority FROM m
          UNION ALL SELECT 'o_totalprice', n_rows, nn_totalprice,
            nd_totalprice FROM m)
        ORDER BY col_name""")),

    // EXPECTATION SUITE — the declarative data-quality contract
    // (Deequ/Great-Expectations shape) beside q_profile_columns' raw
    // profile: six named checks over orders + documents, each reporting
    // its metric in exact ppm (integer division over the row count) and
    // a pass flag against its declared threshold. The whole battery is
    // TWO single-pass hash-agg scans (one per table — every check over a
    // table shares the same agg, conditional counts only) stacked into
    // the check table; at 100 TB this is the cheapest possible shape —
    // one pass per source, no shuffle beyond the 1-row agg. All integer
    // (class A).
    QDef("q_expect_checks",
      (s, d) => {
        val o = orders(s, d).agg(
          count(lit(1)).as("n"),
          count(col("o_custkey")).as("c_complete"),
          countDistinct(col("o_orderkey")).as("c_unique"),
          sum((col("o_totalprice") > 0 && col("o_totalprice") < 1e7)
            .cast("long")).as("c_range"),
          sum(col("o_orderstatus").isin("O", "F", "P").cast("long"))
            .as("c_inset"))
        val doc = documents(s, d).agg(
          count(lit(1)).as("n"),
          sum((col("n_chars") >= 1).cast("long")).as("c_pos"),
          sum(col("source").rlike("^src[0-9]+$").cast("long")).as("c_re"))
        val checks = o.selectExpr(
          """stack(4,
            'orders.o_custkey.complete',  c_complete, n,
            'orders.o_orderkey.unique',   c_unique,   n,
            'orders.o_totalprice.range',  c_range,    n,
            'orders.o_orderstatus.in_set', c_inset,   n)
            AS (check_name, ok, n)""")
          .unionAll(doc.selectExpr(
            """stack(2,
              'documents.n_chars.positive', c_pos, n,
              'documents.source.pattern',   c_re,  n)
              AS (check_name, ok, n)"""))
        checks.select(col("check_name"), col("n"), col("ok"),
            expr("(ok * 1000000) div n").as("metric_ppm"),
            (col("ok") === col("n")).cast("long").as("passed"))
          .orderBy(col("check_name"))
      },
      Some("""WITH o AS (SELECT count(*) AS n,
            count(o_custkey) AS c_complete,
            count(DISTINCT o_orderkey) AS c_unique,
            CAST(sum(CAST(o_totalprice > 0 AND o_totalprice < 10000000.0
              AS BIGINT)) AS BIGINT) AS c_range,
            CAST(sum(CAST(o_orderstatus IN ('O','F','P') AS BIGINT))
              AS BIGINT) AS c_inset
          FROM orders),
        doc AS (SELECT count(*) AS n,
            CAST(sum(CAST(n_chars >= 1 AS BIGINT)) AS BIGINT) AS c_pos,
            CAST(sum(CAST(regexp_matches(source, '^src[0-9]+$') AS BIGINT))
              AS BIGINT) AS c_re
          FROM documents),
        checks AS (
          SELECT 'orders.o_custkey.complete' AS check_name,
            c_complete AS ok, n FROM o
          UNION ALL SELECT 'orders.o_orderkey.unique', c_unique, n FROM o
          UNION ALL SELECT 'orders.o_totalprice.range', c_range, n FROM o
          UNION ALL SELECT 'orders.o_orderstatus.in_set', c_inset, n FROM o
          UNION ALL SELECT 'documents.n_chars.positive', c_pos, n FROM doc
          UNION ALL SELECT 'documents.source.pattern', c_re, n FROM doc)
        SELECT check_name, n, ok,
          CAST((ok * 1000000) // n AS BIGINT) AS metric_ppm,
          CAST(ok = n AS BIGINT) AS passed
        FROM checks ORDER BY check_name""")),

    // CCNet-style perplexity filtering: score every document by its
    // average negative log-likelihood under the CORPUS's own add-one-
    // smoothed bigram LM — the classic "looks like the corpus" quality
    // gate (CCNet filters on an external LM's perplexity; self-scoring is
    // the bootstrap variant). Three wordcount-shaped aggregations (bigram
    // counts, unigram counts, vocab size) + one equi-join of the doc
    // bigrams back to the counts: everything map-side-combinable, no
    // per-group state. Determinism: each ln term is rounded to 4 decimals
    // BEFORE the decimal-exact summation — the engines' ln
    // implementations differ in final ulps, and a raw term sitting
    // ulp-adjacent to a 1e-6 decimal-cast boundary flips the sum (seen
    // once in 5000 docs at sf0.1); the coarser per-term grid makes a
    // cross-engine flip ~100x rarer while the average keeps 6 digits.
    QDef("q_perplexity_filter",
      (s, d) => nllFrame(s, d)
        .select(col("doc_id"), col("n_bigrams"), col("nll"),
          (col("nllr") <= 6.0).cast("long").as("keep"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $nllCte
        SELECT doc_id, n_bigrams, nll,
          CAST(nllr <= 6.0 AS BIGINT) AS keep
        FROM nf ORDER BY doc_id""")),

    // CCNet PERPLEXITY BUCKETS (r13; Wenzek et al. 2020) — the
    // head/middle/tail mixture tool the CCNet pipeline publishes
    // beside the hard filter: within each language, scored docs are
    // split into perplexity TERCILES (head = best-scoring third), the
    // form mixture plans consume ("train on head+middle, drop tail").
    // The score frame is the SHARED q_perplexity_filter pipeline
    // (nllFrame — the gate and its mixture view cannot drift); the
    // bucket rule is exact integer arithmetic over the per-lang
    // (nll, doc_id) rank: bucket = ((rank−1)·3) div n_scored — ties
    // broken by doc_id, so both engines place every doc identically.
    // Output per (lang, bucket): doc/bigram mass + the min/max nll
    // boundaries (head's max IS the CCNet cutoff a production run
    // would export). Scale: scoring is the established corpus-linear
    // explode→hash-agg; bucketing adds ONE per-lang window over
    // doc-level rows (never token-level).
    QDef("q_perplexity_buckets",
      (s, d) => {
        val scored = nllFrame(s, d)
          .join(documents(s, d).select(col("doc_id"), col("lang")),
            "doc_id")
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("nll"), col("doc_id"))
        scored
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("n_scored", count(lit(1)).over(
            Window.partitionBy(col("lang"))))
          .withColumn("bucket", expr("(rk - 1) * 3 div n_scored"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).as("n_bigrams"),
            min(col("nll")).as("nll_min"), max(col("nll")).as("nll_max"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some(s"""WITH $nllCte,
        scored AS (SELECT nf.doc_id, nf.n_bigrams, nf.nll, d.lang
          FROM nf JOIN documents d ON nf.doc_id = d.doc_id),
        rk AS (SELECT lang, doc_id, n_bigrams, nll,
            CAST(row_number() OVER (PARTITION BY lang
              ORDER BY nll, doc_id) AS BIGINT) AS rk,
            CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_scored
          FROM scored)
        SELECT lang, (rk - 1) * 3 // n_scored AS bucket,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
          min(nll) AS nll_min, max(nll) AS nll_max
        FROM rk GROUP BY 1, 2 ORDER BY lang, bucket""")),


    // Quantile feature binning (the ML discretizer): quartile boundaries
    // estimated from a DETERMINISTIC 5% hash sample (the standard
    // sample-quantile scheme — exact percentile over the full fact table
    // would buffer every value per group, the very bound TUNING.md
    // documents; the sample keeps the state at 5% for identical bin
    // edges both engines replay), then per-row bucket assignment over
    // the FULL table → per-(group, bin) profile. The boundary frame is
    // ONE broadcast row (never a shuffle of the fact side); binning is a
    // codegen'd CASE chain. Boundaries round to 4 decimals: the
    // engines' interpolation formulas differ in term order ((1−f)·a+f·b
    // vs a+f·(b−a)), which can split a duplicated data value across the
    // bin edge by one ulp — on the 1e-4 grid both engines see the
    // identical boundary, and any row equal to it bins consistently.
    QDef("q_feature_binning",
      (s, d) => {
        val li = lineitem(s, d)
        val qs = li.filter(pmod(col("l_orderkey"), lit(100)) < 5).agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("q1"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("q2"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("q3"))
        li.crossJoin(broadcast(qs))
          .select(col("l_returnflag"),  col("l_extendedprice"),
            when(col("l_extendedprice") < col("q1"), 0)
              .when(col("l_extendedprice") < col("q2"), 1)
              .when(col("l_extendedprice") < col("q3"), 2)
              .otherwise(3).cast("long").as("bin"))
          .groupBy(col("l_returnflag"), col("bin"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sp"))
          .orderBy(col("l_returnflag"), col("bin"))
      },
      Some(s"""WITH q AS (SELECT
          round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
          round(quantile_cont(l_extendedprice, 0.5), 4) AS q2,
          round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
          FROM lineitem WHERE l_orderkey % 100 < 5)
        SELECT l_returnflag,
          CAST(CASE WHEN l_extendedprice < q1 THEN 0
            WHEN l_extendedprice < q2 THEN 1
            WHEN l_extendedprice < q3 THEN 2 ELSE 3 END AS BIGINT) AS bin,
          count(*) AS n, ${sqlDsum("l_extendedprice")} AS sp
        FROM lineitem CROSS JOIN q
        GROUP BY 1, 2 ORDER BY l_returnflag, bin""")),

    // Count-min-sketch point frequencies: the mergeable few-KB structure
    // that answers "how often does key k occur?" when the key space is
    // too large for an exact map (per-partition sketches treeAggregate'd,
    // probe via a codegen'd Catalyst expression on the broadcast sketch —
    // the frequency companion to q_join_bloom_pruned's membership bloom).
    // Oracle-checked through the CMS guarantees: estimate is NEVER below
    // the true count (collisions only add), and stays within ε·N above it
    // (δ = 0.001 per probe; seeded build → deterministic). DuckDB pins
    // both flags to 1 next to the exact counts.
    QDef("q_sketch_cms",
      (s, d) => {
        import graft.functions.CmsFunctions._
        val o = orders(s, d)
        val eps = 0.0005
        val sketch = buildLongCms(o, "o_custkey", eps, confidence = 0.999)
        val epsN = math.ceil(
          eps * graft.tables.Tables.rowCount(s, d, "orders")).toLong
        o.filter(col("o_custkey") < 100)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("true_n"))
          .withColumn("est", cms_estimate(col("o_custkey"), sketch))
          .select(col("o_custkey"), col("true_n"),
            (col("est") >= col("true_n")).cast("long").as("lower_ok"),
            (col("est") <= col("true_n") + lit(epsN)).cast("long").as("upper_ok"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, count(*) AS true_n,
          CAST(1 AS BIGINT) AS lower_ok, CAST(1 AS BIGINT) AS upper_ok
        FROM orders WHERE o_custkey < 100
        GROUP BY 1 ORDER BY o_custkey""")),

    // Mergeable distinct-count sketches (Apache DataSketches HLL, built
    // into Spark 4): per-segment hll_sketch_agg + one hll_union_agg —
    // the re-aggregatable cardinality pattern (per-day/per-shard
    // sketches stored once, any rollup unioned later without rescanning
    // the fact table). Oracle-checked through the estimator guarantee:
    // the estimate must sit within ±5% of the exact distinct (≥3× the
    // default-lgK RSE of 1.6%); HLL is insertion-order-independent, so
    // the flag is deterministic. Integer cross-multiplied band; DuckDB
    // pins the flags next to its own exact distincts.
    QDef("q_sketch_hll_merge",
      (s, d) => {
        val e = events(s, d)
        val perType = e.groupBy(col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("exact_n"))
        val segs = perType.select(col("event_type"),
          col("exact_n"), hll_sketch_estimate(col("sk")).as("est"))
        val union = perType.agg(hll_union_agg(col("sk")).as("sku"))
          .select(hll_sketch_estimate(col("sku")).as("est"))
          .crossJoin(broadcast(
            e.agg(countDistinct(col("user_id")).as("exact_n"))))
          .select(lit("ALL").as("event_type"), col("exact_n"), col("est"))
        segs.unionByName(union)
          .select(col("event_type"), col("exact_n"),
            (col("est") * 100 >= col("exact_n") * 95 &&
             col("est") * 100 <= col("exact_n") * 105)
              .cast("long").as("within_5pct"))
          .orderBy(col("event_type"))
      },
      Some("""WITH segs AS (SELECT event_type,
            count(DISTINCT user_id) AS exact_n FROM events GROUP BY 1
          UNION ALL
          SELECT 'ALL', count(DISTINCT user_id) FROM events)
        SELECT event_type, exact_n, CAST(1 AS BIGINT) AS within_5pct
        FROM segs ORDER BY event_type""")),

    // Chi-squared independence audit of the lang × source contingency
    // table — "is the language mix uniform across crawl sources?", the
    // stratification sanity check before mixture planning. The full
    // grid (row-marginals × column-marginals, LEFT-joined observed
    // counts so empty cells contribute) with each cell's chi² term as
    // an exact integer: (o·n − rs·cs)²·1e6 div (n·rs·cs), the rational
    // collapse of (o−e)²/e in ppm units — DECIMAL(38,0)/HUGEINT keep
    // the squared product exact. Three tiny aggregates + broadcast
    // joins; one fact scan at 100 TB.
    QDef("q_chi2_independence",
      (s, d) => {
        val docs = documents(s, d)
        val cells = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rows = docs.groupBy(col("lang")).agg(count(lit(1)).as("rs"))
        val cols_ = docs.groupBy(col("source")).agg(count(lit(1)).as("cs"))
        val tot = docs.agg(count(lit(1)).as("n"))
        rows.crossJoin(broadcast(cols_))
          .join(cells, Seq("lang", "source"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("source"), col("o"), col("rs"), col("cs"),
            expr("CAST(o*n - rs*cs AS DECIMAL(38,0))" +
              " * (o*n - rs*cs) * 1000000" +
              " div (CAST(n AS DECIMAL(38,0)) * rs * cs)").as("contrib_ppm"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH cells AS (SELECT lang, source, count(*) AS o
            FROM documents GROUP BY 1, 2),
          r AS (SELECT lang, count(*) AS rs FROM documents GROUP BY 1),
          c AS (SELECT source, count(*) AS cs FROM documents GROUP BY 1),
          tot AS (SELECT count(*) AS n FROM documents)
        SELECT lang, source, coalesce(o, 0) AS o, rs, cs,
          CAST(CAST(coalesce(o, 0)*n - rs*cs AS HUGEINT)
            * (coalesce(o, 0)*n - rs*cs) * 1000000
            // (CAST(n AS HUGEINT) * rs * cs) AS BIGINT) AS contrib_ppm
        FROM r CROSS JOIN c
        LEFT JOIN cells USING (lang, source)
        CROSS JOIN tot
        ORDER BY lang, source""")),

    // HLL set-algebra audit: estimate the click∩purchase user overlap
    // by inclusion-exclusion over three mergeable sketches (est_a +
    // est_b − est_union) and pin it against the exact distinct
    // intersection — the "can I answer overlap questions from stored
    // per-segment sketches without rescanning" pattern. The band is
    // ±10% of the exact UNION size (difference-of-estimates error
    // compounds three 1.6%-RSE terms; measured deviation ≤2%,
    // re-measured by QueriesSpec each round — ≥5× margin). Spark's
    // hll_sketch_estimate returns BIGINT, so the cross-multiplied band
    // compare is pure integer arithmetic; HLL is insertion-order-
    // independent, so the flag is deterministic. DuckDB pins exact
    // values + flag=1.
    QDef("q_sketch_hll_intersect",
      (s, d) => {
        val e = events(s, d)
        val a = e.filter(col("event_type") === "click")
          .select(col("user_id"))
        val b = e.filter(col("event_type") === "purchase")
          .select(col("user_id"))
        val sk = a.agg(hll_sketch_agg(col("user_id")).as("ska"))
          .crossJoin(b.agg(hll_sketch_agg(col("user_id")).as("skb")))
          .crossJoin(a.union(b)
            .agg(hll_sketch_agg(col("user_id")).as("sku")))
          .select(
            hll_sketch_estimate(col("ska")).as("est_a"),
            hll_sketch_estimate(col("skb")).as("est_b"),
            hll_sketch_estimate(col("sku")).as("est_u"))
        val exact = a.intersect(b).agg(count(lit(1)).as("exact_inter"))
          .crossJoin(a.union(b).distinct().agg(count(lit(1)).as("exact_union")))
        sk.crossJoin(broadcast(exact))
          .select(col("exact_inter"), col("exact_union"),
            ((col("est_a") + col("est_b") - col("est_u") - col("exact_inter"))
              * lit(10) <= col("exact_union") * lit(1)
              && (col("exact_inter") - (col("est_a") + col("est_b")
                - col("est_u"))) * lit(10) <= col("exact_union") * lit(1))
              .cast("long").as("within_band"))
      },
      Some("""SELECT
          (SELECT count(DISTINCT a.user_id)
            FROM events a JOIN events b ON a.user_id = b.user_id
            WHERE a.event_type = 'click' AND b.event_type = 'purchase')
            AS exact_inter,
          (SELECT count(DISTINCT user_id) FROM events
            WHERE event_type IN ('click', 'purchase')) AS exact_union,
          CAST(1 AS BIGINT) AS within_band""")),

    // CUMULATIVE-DISTINCT TIME SERIES from merged HLL sketches — the
    // "how many unique users have we EVER seen, by day" dashboard
    // query, answered without ever rescanning history: one sketch per
    // day, cumulative estimates by UNIONING the ≤366 daily sketches
    // (the mergeable-over-time thesis: state is |days|·sketch-size
    // regardless of corpus). The exact side runs the first-seen-week
    // trick (min-agg per user + cumulative count) as the audit. Per the
    // q_sketch_hll_merge class-D precedent the estimate leaves the
    // output only as the ±5%-of-exact cross-multiplied integer band
    // flag (lgK-12 RSE ≈ 1.6%, ≥3× margin, re-measured in-spec); the
    // compared values are exact integers. The triangular sketch join is
    // |days|²/2 rows of sketch merges — bounded by the calendar, never
    // the corpus.
    QDef("q_hll_cum_users",
      (s, d) => {
        val e = hllEventDays(s, d)
        hllCumFrame(e, e.groupBy(col("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk")))
      },
      Some(hllCumSql)),

    // STREAMING HLL TWIN — the 9th stateful twin, and the production
    // "live distinct-users dashboard" shape: EventStreams
    // .hllDaySketches keys by event-day and holds ONE serialized
    // DataSketches HLL per day in ValueState (lgK 12 / HLL_8 — the
    // exact hll_sketch_agg defaults, so the bytes are interchangeable
    // with the batch aggregate's), folding each batch's user_ids in by
    // heapify → update → re-serialize. HLL state is a register
    // MAX-merge (exact coupon sets below the promotion threshold), so
    // the final sketch depends only on the SET of users seen — arrival
    // order and batch boundaries cannot move the estimate: multi-batch
    // ≡ single-batch, proven in StreamingSpec beside the cross-API
    // equality against hll_sketch_agg's own estimates. The cumulative
    // series derives DOWNSTREAM via hllCumFrame shared VERBATIM with
    // q_hll_cum_users (cumulative union is a read-time concern — per-
    // day state stays calendar-bounded), and the twin shares the batch
    // oracle: the hashed columns are the exact first-seen audit plus
    // the ±5% cross-multiplied band flag (the class-D sketch contract).
    QDef("q_hll_stream_twin",
      (s, d) => {
        import s.implicits._
        prepBatchStateStore(s)
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.EventRow]
        hllCumFrame(hllEventDays(s, d),
          graft.streaming.EventStreams.hllDaySketches(ev).toDF()
            .select(col("day"), col("sk")))
      },
      Some(hllCumSql)),

    // STREAMING QUANTILE TWIN — the 10th stateful twin (NEXT r12
    // candidate 8), and the mergeable-quantile answer: t-digest merges
    // are insertion-order-dependent and GK is batch-boundary-dependent,
    // so the twin's state is the trivially mergeable EXACT form — an
    // additive count histogram on the declared e2 cents grid, clamped
    // to [0, 65535] (edge keys absorb outliers; state hard-bounded at
    // 65536 entries per day at ANY corpus size — the calendar × grid
    // bound, the q_hll_stream_twin thesis with exactness instead of
    // class-D estimates). EventStreams.quantileDayHist keys by
    // event-day, MapState[cents → count] folds each batch additively
    // (order/batch-insensitive by construction — multi-batch ≡
    // single-batch proven in StreamingSpec), and each batch re-emits
    // the day's n + p50/p90/p99 derived from the state-bounded
    // histogram, update-mode latest-wins. Quantile rule (declared,
    // class A): p-th percentile = smallest cents value whose
    // cumulative count reaches ⌈p·n/100⌉ — identical integer
    // arithmetic in the oracle's inverse-ECDF window form.
    QDef("q_quantile_stream_twin",
      (s, d) => {
        import s.implicits._
        prepBatchStateStore(s)
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.EventRow]
        graft.streaming.EventStreams.quantileDayHist(ev).toDF()
          .select(col("day"), col("n"), col("p50_c"), col("p90_c"),
            col("p99_c"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (SELECT
            date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
            least(65535, greatest(0,
              CAST(round(value * 100) AS BIGINT))) AS c
          FROM events),
        h AS (SELECT day, c, CAST(count(*) AS BIGINT) AS cnt
          FROM e GROUP BY 1, 2),
        cum AS (SELECT day, c,
            CAST(sum(cnt) OVER (PARTITION BY day ORDER BY c)
              AS BIGINT) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
          FROM h)
        SELECT day, n,
          CAST(min(CASE WHEN cum >= (50 * n + 99) // 100 THEN c END)
            AS BIGINT) AS p50_c,
          CAST(min(CASE WHEN cum >= (90 * n + 99) // 100 THEN c END)
            AS BIGINT) AS p90_c,
          CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN c END)
            AS BIGINT) AS p99_c
        FROM cum GROUP BY day, n ORDER BY day""")),

    // STREAMING HEAVY-HITTERS TWIN — the 11th stateful twin: per
    // event-day, ONE serialized Misra–Gries summary (k = 32) in
    // ValueState; each batch folds into a batch-local summary then
    // summary-MERGES into state (the PODS'12 mergeable path — the
    // 100 TB segment-rollup shape). MG contents are processing-order-
    // specific in general, so the GATE runs the item domain BELOW k
    // (event_type, |types| ≤ 5 « 32): no decrement can ever fire and
    // the summary is provably the EXACT count map — order- and
    // batch-insensitive (multi-batch ≡ single-batch in StreamingSpec;
    // the quantile-twin exactness thesis applied to the frequent-items
    // sketch), oracled by the exact per-day ranked type counts.
    // Above-k domains keep the deterministic MG bounds, asserted
    // in-spec on a k = 2 synthetic stream. State ∝ |days| × k — never
    // corpus-bounded.
    QDef("q_heavyhitters_stream_twin",
      (s, d) => {
        import s.implicits._
        prepBatchStateStore(s)
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.EventRow]
        graft.streaming.EventStreams.mgDayTop(ev).toDF()
          .select(col("day"), col("item"), col("cnt"), col("rank"))
          .orderBy(col("day"), col("rank"))
      },
      Some("""WITH c AS (SELECT
            date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
            event_type AS item, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT day, item, cnt,
          CAST(row_number() OVER (PARTITION BY day
            ORDER BY cnt DESC, item) AS BIGINT) AS rank
        FROM c ORDER BY day, rank""")),

    // WINDOWED TOP-K WITH STATE EVICTION — the 12th stateful twin
    // (r13 VERDICT directive 5): the Misra–Gries summary composed
    // with a per-window LIFETIME. Keys are 7-day tumbling windows;
    // state is one MG(k = 32) summary per OPEN window; in event-time
    // mode each window arms a timer at its own end and, when the
    // watermark passes it, emits a final __closed__ tombstone and
    // CLEARS its state — so state is bounded by the watermark
    // horizon's open-window count, never the stream length (the
    // eviction ≡ batch proof, including the state-store row count
    // actually dropping, is StreamingSpec's multi-batch run). The
    // GATE runs batch-mode (one batch, TimeMode.None, nothing to
    // evict) with the item domain below k, so the summary is provably
    // the exact per-window count map — oracled by the exact ranked
    // type counts per window, the q_heavyhitters_stream_twin thesis
    // lifted from days to bounded-lifetime windows.
    QDef("q_topk_window_stream_twin",
      (s, d) => {
        import s.implicits._
        prepBatchStateStore(s)
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.EventRow]
        graft.streaming.EventStreams.winTop(ev).toDF()
          .select(col("win"), col("win_start_day"), col("item"),
            col("cnt"), col("rank"))
          .orderBy(col("win"), col("rank"))
      },
      Some("""WITH c AS (SELECT
            date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
              AS win,
            event_type AS item, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT win, CAST(win * 7 AS BIGINT) AS win_start_day, item, cnt,
          CAST(row_number() OVER (PARTITION BY win
            ORDER BY cnt DESC, item) AS BIGINT) AS rank
        FROM c ORDER BY win, rank""")),

    // SESSION-WINDOW TOP-K WITH GAP EVICTION — the 13th stateful twin
    // (r14 wave 3): twin #12's window lifetime was FIXED (a tumbling
    // 7-day grid); a session's is DATA-DEPENDENT — it closes when the
    // user goes quiet for the gap (1 day here, matching the corpus's
    // ~67-events-per-user cadence: 1214 multi-event sessions at
    // sf0.01). State per user = (session_start, last_event, MG(k=32));
    // within a batch, (event-time, event_id)-ordered rows split on
    // gaps inline (closed sessions emit as 'gap'); in event-time mode
    // ONE timer per user moves to last_event + gap every batch
    // (delete-then-register — a stale early timer would close a
    // still-live session) and watermark passage emits 'timer' +
    // CLEARS — state bounded by users active in the horizon. The GATE
    // runs batch-mode where the identical walk emits the open tail as
    // 'final', so batch output IS the full sessionization — oracled by
    // the exact lag/cumsum session SQL with the same (count desc,
    // item) top order; |types| = 5 < k ⇒ the MG map is provably exact.
    // Eviction ≡ batch, exactly-once 'timer' rows, and the state-store
    // row-count drop are StreamingSpec's multi-batch proofs.
    QDef("q_session_topk_stream_twin",
      (s, d) => {
        import s.implicits._
        prepBatchStateStore(s)
        val ev = events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.EventStreams.EventRow]
        graft.streaming.EventStreams.sessionTop(ev).toDF()
          .select(col("user_id"), col("session_start_us"), col("n_events"),
            col("n_types"), col("top_item"), col("top_cnt"),
            col("closed_by"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id,
            epoch_us(ts) AS us, CAST(event_id AS BIGINT) AS eid,
            event_type
          FROM events),
        o AS (SELECT user_id, us, eid, event_type,
            CASE WHEN lag(us) OVER (PARTITION BY user_id
                ORDER BY us, eid) IS NULL
              OR us - lag(us) OVER (PARTITION BY user_id
                ORDER BY us, eid) > 86400000000
              THEN 1 ELSE 0 END AS brk
          FROM e),
        sid AS (SELECT user_id, us, eid, event_type,
            CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, eid)
              AS BIGINT) AS sess
          FROM o),
        ss AS (SELECT user_id, sess,
            CAST(min(us) AS BIGINT) AS session_start_us,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
          FROM sid GROUP BY 1, 2),
        tc AS (SELECT user_id, sess, event_type AS top_item,
            CAST(count(*) AS BIGINT) AS top_cnt,
            row_number() OVER (PARTITION BY user_id, sess
              ORDER BY count(*) DESC, event_type) AS rn
          FROM sid GROUP BY user_id, sess, event_type),
        ls AS (SELECT user_id, CAST(max(sess) AS BIGINT) AS max_sess
          FROM ss GROUP BY 1)
        SELECT ss.user_id, ss.session_start_us, ss.n_events, ss.n_types,
          tc.top_item, tc.top_cnt,
          CASE WHEN ss.sess = ls.max_sess THEN 'final' ELSE 'gap' END
            AS closed_by
        FROM ss JOIN tc ON ss.user_id = tc.user_id AND ss.sess = tc.sess
          AND tc.rn = 1
        JOIN ls ON ss.user_id = ls.user_id
        ORDER BY ss.user_id, ss.session_start_us""")),

    // Two-sample KOLMOGOROV–SMIRNOV drift matrix — the distribution-shift
    // test beside the KL/chi² family: for every source pair, D = max_v
    // |ECDF_a(v) − ECDF_b(v)| over the doc-length distribution, kept
    // exact-rational by cross-multiplying (|cum_a·n_b − cum_b·n_a|, ks in
    // basis points by truncating division — no float ever exists: class
    // A). Scale: the (source, n_chars) count agg is map-side combinable;
    // each count row then fans out to at most |sources|−1 pairs —
    // bounded by the source count, NOT the corpus — and the ECDF windows
    // partition by pair over ≤ |distinct lengths| rows. Matrix-complete:
    // every pair appears (D = 0 only for identical ECDFs).
    QDef("q_ks_drift",
      (s, d) => {
        val docs = documents(s, d)
        val cnts = docs.groupBy(col("source"), col("n_chars"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // feeds both sides of the pair fan-out
        val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val pairs = tot.select(col("source").as("source_a"), col("n").as("n_a"))
          .crossJoin(broadcast(tot.select(
            col("source").as("source_b"), col("n").as("n_b"))))
          .filter(col("source_a") < col("source_b"))
        val tagged = cnts
          .join(broadcast(pairs), col("source") === col("source_a"))
          .select(col("source_a"), col("source_b"),
            col("n_chars").as("v"), col("cnt").as("ca"), lit(0L).as("cb"))
          .unionAll(cnts
            .join(broadcast(pairs), col("source") === col("source_b"))
            .select(col("source_a"), col("source_b"),
              col("n_chars").as("v"), lit(0L).as("ca"), col("cnt").as("cb")))
          .groupBy(col("source_a"), col("source_b"), col("v"))
          .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
        val w = Window.partitionBy(col("source_a"), col("source_b"))
          .orderBy(col("v"))
        tagged
          .withColumn("cum_a", sum(col("ca")).over(w))
          .withColumn("cum_b", sum(col("cb")).over(w))
          .join(broadcast(pairs), Seq("source_a", "source_b"))
          .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
          .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
            .as("d_num"))
          .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
            col("d_num"),
            expr("d_num * 10000 div (n_a * n_b)").as("ks_bp"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH tot AS (
          SELECT source, count(*) AS n FROM documents GROUP BY source),
        cnts AS (SELECT source, n_chars AS v, count(*) AS cnt
          FROM documents GROUP BY source, n_chars),
        pairs AS (SELECT a.source AS source_a, b.source AS source_b,
            a.n AS n_a, b.n AS n_b
          FROM tot a JOIN tot b ON a.source < b.source),
        tagged AS (SELECT source_a, source_b, v,
            CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb
          FROM (
            SELECT p.source_a, p.source_b, c.v, c.cnt AS ca, 0 AS cb
            FROM cnts c JOIN pairs p ON c.source = p.source_a
            UNION ALL
            SELECT p.source_a, p.source_b, c.v, 0 AS ca, c.cnt AS cb
            FROM cnts c JOIN pairs p ON c.source = p.source_b)
          GROUP BY 1, 2, 3),
        cum AS (SELECT source_a, source_b,
            CAST(sum(ca) OVER (PARTITION BY source_a, source_b
              ORDER BY v) AS BIGINT) AS cum_a,
            CAST(sum(cb) OVER (PARTITION BY source_a, source_b
              ORDER BY v) AS BIGINT) AS cum_b
          FROM tagged)
        SELECT c.source_a, c.source_b, p.n_a, p.n_b,
          CAST(max(abs(cum_a * p.n_b - cum_b * p.n_a)) AS BIGINT) AS d_num,
          CAST(max(abs(cum_a * p.n_b - cum_b * p.n_a)) * 10000
            // (p.n_a * p.n_b) AS BIGINT) AS ks_bp
        FROM cum c JOIN pairs p USING (source_a, source_b)
        GROUP BY 1, 2, 3, 4
        ORDER BY source_a, source_b""")),

    // CRAMÉR'S V EFFECT SIZE (r14) — the magnitude companion to
    // q_chi2_independence's per-cell grid: a 100 TB corpus makes every
    // χ² "significant", so the audit a pipeline actually gates on is
    // the EFFECT SIZE V = sqrt(χ²/(N·(min(r,c)−1))) ∈ [0, 1]. χ² is
    // re-derived from the IDENTICAL cleared-integer per-cell
    // expression q_chi2_independence declares (same text, so the two
    // operators cannot drift), summed exactly as BIGINTs; the single
    // sqrt is one transcendental chain over two already-exact
    // integers, identical text in both engines, rounded once to the
    // e6 grid (class C). Scale: one (lang, source) hash-agg + two
    // marginals + a 1-row certificate.
    QDef("q_cramers_v",
      (s, d) => {
        val docs = documents(s, d)
        val cells = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rows = docs.groupBy(col("lang")).agg(count(lit(1)).as("rs"))
        val cols_ = docs.groupBy(col("source")).agg(count(lit(1)).as("cs"))
        val tot = docs.agg(count(lit(1)).as("n"))
        rows.crossJoin(broadcast(cols_))
          .join(cells, Seq("lang", "source"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("n"),
            expr("CAST(o*n - rs*cs AS DECIMAL(38,0))" +
              " * (o*n - rs*cs) * 1000000" +
              " div (CAST(n AS DECIMAL(38,0)) * rs * cs)")
              .as("contrib_ppm"),
            col("lang"), col("source"))
          .groupBy(col("n"))
          .agg(sum(col("contrib_ppm")).cast("long").as("chi2_ppm"),
            countDistinct(col("lang")).as("n_rows"),
            countDistinct(col("source")).as("n_cols"))
          .select(col("n"), col("n_rows"), col("n_cols"),
            ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
            col("chi2_ppm"),
            expr("CAST(round(sqrt((chi2_ppm / 1000000.0)" +
              " / (n * (least(n_rows, n_cols) - 1))) * 1000000, 0)" +
              " AS BIGINT)").as("v_ppm"))
      },
      Some("""WITH cells AS (SELECT lang, source, count(*) AS o
            FROM documents GROUP BY 1, 2),
          r AS (SELECT lang, count(*) AS rs FROM documents GROUP BY 1),
          c AS (SELECT source, count(*) AS cs FROM documents GROUP BY 1),
          tot AS (SELECT count(*) AS n FROM documents),
          g AS (SELECT CAST(n AS BIGINT) AS n,
              CAST(CAST(coalesce(o, 0)*n - rs*cs AS HUGEINT)
                * (coalesce(o, 0)*n - rs*cs) * 1000000
                // (CAST(n AS HUGEINT) * rs * cs) AS BIGINT) AS contrib,
              lang, source
            FROM r CROSS JOIN c
            LEFT JOIN cells USING (lang, source)
            CROSS JOIN tot),
          a AS (SELECT n, CAST(sum(contrib) AS BIGINT) AS chi2_ppm,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_rows,
              CAST(count(DISTINCT source) AS BIGINT) AS n_cols
            FROM g GROUP BY n)
        SELECT n, n_rows, n_cols,
          (n_rows - 1) * (n_cols - 1) AS dof, chi2_ppm,
          CAST(round(sqrt((chi2_ppm / 1000000.0)
            / (n * (least(n_rows, n_cols) - 1))) * 1000000, 0)
            AS BIGINT) AS v_ppm
        FROM a""")),

    // MUTUAL INFORMATION CERTIFICATE (r14) — the information-theoretic
    // association measure beside χ²/Cramér's V over the same (lang,
    // source) grid: I(L;S) = Σ p(l,s)·ln(p(l,s)·N/(r_l·c_s)), each
    // term one transcendental chain over exact counts with the inner
    // ln 4-dp-quantized (the established ulp discipline), pre-rounded
    // to e6 and summed as BIGINTs; the marginal entropies H(L), H(S)
    // by the same discipline; normalized MI = I/min(H_L, H_S) by one
    // cross-multiplied integer division. Scale: one hash-agg into the
    // bounded grid; a 1-row certificate.
    QDef("q_mutual_information",
      (s, d) => {
        val docs = documents(s, d)
        val cells = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rows = docs.groupBy(col("lang")).agg(count(lit(1)).as("rs"))
          .localCheckpoint(true) // grid join + H(L)
        val cols_ = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("cs"))
          .localCheckpoint(true) // grid join + H(S)
        val tot = docs.agg(count(lit(1)).as("n"))
        val mi = cells.join(broadcast(rows), "lang")
          .join(broadcast(cols_), "source")
          .crossJoin(broadcast(tot))
          .select(expr("CASE WHEN o > 0 THEN CAST(round((o / (n * 1.0))" +
            " * round(ln((1.0 * o * n) / (1.0 * rs * cs)), 4)" +
            " * 1000000, 0) AS BIGINT) ELSE 0 END").as("te"))
          .agg(sum(col("te")).as("mi_e6"))
        val hl = rows.crossJoin(broadcast(tot))
          .select(expr("CAST(round((rs / (n * 1.0))" +
            " * round(ln(rs / (n * 1.0)), 4) * 1000000, 0) AS BIGINT)")
            .as("te"))
          .agg((-sum(col("te"))).as("h_lang_e6"))
        val hs = cols_.crossJoin(broadcast(tot))
          .select(expr("CAST(round((cs / (n * 1.0))" +
            " * round(ln(cs / (n * 1.0)), 4) * 1000000, 0) AS BIGINT)")
            .as("te"))
          .agg((-sum(col("te"))).as("h_source_e6"))
        tot.crossJoin(broadcast(mi)).crossJoin(broadcast(hl))
          .crossJoin(broadcast(hs))
          .select(col("n"), col("mi_e6"), col("h_lang_e6"),
            col("h_source_e6"),
            expr("mi_e6 * 1000000 div greatest(least(h_lang_e6," +
              " h_source_e6), 1)").as("nmi_ppm"))
      },
      Some("""WITH cells AS (SELECT lang, source,
            CAST(count(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2),
        r AS (SELECT lang, CAST(count(*) AS BIGINT) AS rs
          FROM documents GROUP BY 1),
        c AS (SELECT source, CAST(count(*) AS BIGINT) AS cs
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        mi AS (SELECT CAST(sum(CASE WHEN o > 0 THEN
              CAST(round((o / (n * 1.0))
                * round(ln((1.0 * o * n) / (1.0 * rs * cs)), 4)
                * 1000000, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
              AS mi_e6
          FROM cells JOIN r USING (lang) JOIN c USING (source)
          CROSS JOIN tot),
        hl AS (SELECT CAST(0 - sum(CAST(round((rs / (n * 1.0))
              * round(ln(rs / (n * 1.0)), 4) * 1000000, 0) AS BIGINT))
              AS BIGINT) AS h_lang_e6
          FROM r CROSS JOIN tot),
        hs AS (SELECT CAST(0 - sum(CAST(round((cs / (n * 1.0))
              * round(ln(cs / (n * 1.0)), 4) * 1000000, 0) AS BIGINT))
              AS BIGINT) AS h_source_e6
          FROM c CROSS JOIN tot)
        SELECT n, mi_e6, h_lang_e6, h_source_e6,
          mi_e6 * 1000000 // greatest(least(h_lang_e6, h_source_e6), 1)
            AS nmi_ppm
        FROM tot CROSS JOIN mi CROSS JOIN hl CROSS JOIN hs""")),

    // JENSEN–SHANNON DIVERGENCE MATRIX (r14) — the bounded symmetric
    // drift measure beside KS (ECDF shape) and PSI (binned ratios):
    // JS(p‖q) = ½KL(p‖m) + ½KL(q‖m), m = ½(p+q), over each source
    // pair's LANGUAGE distribution. Every p/q is an exact count ratio;
    // each KL term is ONE transcendental chain over exact integers —
    // (ca/ta)·round(ln(2·ca·tb / (ca·tb + cb·ta)), 4) — the ln
    // quantized to 4 dp BEFORE the product (the q_psi_drift ulp
    // discipline), the term pre-rounded to the e6 grid per (pair,
    // lang) and summed as BIGINTs (no float sums, no ordering hazard);
    // zero-count terms are 0 by the KL convention. Scale: one (source,
    // lang) hash-agg, then everything lives on the |sources|²·|langs|
    // bounded grid.
    QDef("q_js_divergence",
      (s, d) => {
        val docs = documents(s, d)
        val cnts = docs.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // both sides of the pair grid
        val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("t"))
        val langs = docs.select(col("lang")).distinct()
        val pairs = tot.select(col("source").as("source_a"),
            col("t").as("ta"))
          .crossJoin(broadcast(tot.select(col("source").as("source_b"),
            col("t").as("tb"))))
          .filter(col("source_a") < col("source_b"))
        val grid = pairs.crossJoin(broadcast(langs))
          .join(cnts.select(col("source").as("source_a"),
            col("lang"), col("c").as("ca")), Seq("source_a", "lang"),
            "left")
          .join(cnts.select(col("source").as("source_b"),
            col("lang"), col("c").as("cb")), Seq("source_b", "lang"),
            "left")
          .select(col("source_a"), col("source_b"), col("ta"), col("tb"),
            coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        grid
          .select(col("source_a"), col("source_b"), col("ta"), col("tb"),
            expr("CASE WHEN ca > 0 THEN CAST(round((ca / (ta * 1.0))" +
              " * round(ln((2.0 * ca * tb)" +
              " / (1.0 * ca * tb + 1.0 * cb * ta)), 4)" +
              " * 1000000, 0) AS BIGINT) ELSE 0 END").as("tp"),
            expr("CASE WHEN cb > 0 THEN CAST(round((cb / (tb * 1.0))" +
              " * round(ln((2.0 * cb * ta)" +
              " / (1.0 * ca * tb + 1.0 * cb * ta)), 4)" +
              " * 1000000, 0) AS BIGINT) ELSE 0 END").as("tq"))
          .groupBy(col("source_a"), col("source_b"), col("ta"), col("tb"))
          .agg(sum(col("tp")).as("klp"), sum(col("tq")).as("klq"))
          .select(col("source_a"), col("source_b"),
            col("ta").as("n_a"), col("tb").as("n_b"),
            expr("(klp + klq) div 2").as("js_e6"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH cnts AS (SELECT source, lang, count(*) AS c
            FROM documents GROUP BY 1, 2),
          tot AS (SELECT source, count(*) AS t FROM documents GROUP BY 1),
          langs AS (SELECT DISTINCT lang FROM documents),
          pairs AS (SELECT a.source AS source_a, b.source AS source_b,
              a.t AS ta, b.t AS tb
            FROM tot a JOIN tot b ON a.source < b.source),
          grid AS (SELECT p.source_a, p.source_b, p.ta, p.tb,
              coalesce(x.c, 0) AS ca, coalesce(y.c, 0) AS cb
            FROM pairs p CROSS JOIN langs l
            LEFT JOIN cnts x ON x.source = p.source_a AND x.lang = l.lang
            LEFT JOIN cnts y ON y.source = p.source_b AND y.lang = l.lang),
          terms AS (SELECT source_a, source_b, ta, tb,
              CASE WHEN ca > 0 THEN CAST(round((ca / (ta * 1.0))
                * round(ln((2.0 * ca * tb)
                  / (1.0 * ca * tb + 1.0 * cb * ta)), 4)
                * 1000000, 0) AS BIGINT) ELSE 0 END AS tp,
              CASE WHEN cb > 0 THEN CAST(round((cb / (tb * 1.0))
                * round(ln((2.0 * cb * ta)
                  / (1.0 * ca * tb + 1.0 * cb * ta)), 4)
                * 1000000, 0) AS BIGINT) ELSE 0 END AS tq
            FROM grid)
        SELECT source_a, source_b,
          CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
          CAST((sum(tp) + sum(tq)) // 2 AS BIGINT) AS js_e6
        FROM terms GROUP BY 1, 2, ta, tb
        ORDER BY source_a, source_b""")),

    // HILL TAIL-INDEX ESTIMATOR (r14) — is the doc-length distribution
    // heavy-tailed, and how heavy? The power-law exponent audit a
    // pretraining pipeline runs before choosing length cutoffs (a
    // Pareto tail means truncation budgets are dominated by a few
    // giants). Hill (1975) over the top k = 100 order statistics:
    // α̂ = k / Σ ln(x_i / x_ref) with x_ref the (k+1)-th largest.
    // Selection is TakeOrdered top-(k+1) under the total order
    // (n_chars desc, doc_id) — per-partition top-k then merge, never a
    // global sort (the scale-safe selection Spark compiles limit+sort
    // to); each ln term is pre-rounded to the e6 grid and summed as
    // BIGINTs; α̂ lands by one cross-multiplied integer division.
    QDef("q_hill_tail",
      (s, d) => {
        val k = 100L
        val top = documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .limit(k.toInt + 1)
          .localCheckpoint(true) // 101 rows: ref row + the k terms
        val ref = top.orderBy(col("n_chars"), col("doc_id").desc)
          .limit(1).select(col("n_chars").as("x_ref"))
        top.crossJoin(broadcast(ref))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .limit(k.toInt)
          .select(col("n_chars"), col("x_ref"))
          .select(col("x_ref"),
            expr("CAST(round(ln(CAST(n_chars AS DOUBLE) / x_ref)" +
              " * 1000000, 0) AS BIGINT)").as("lt"))
          .groupBy(col("x_ref"))
          .agg(count(lit(1)).as("k"), sum(col("lt")).as("sum_ln_e6"))
          .select(col("k"), col("x_ref"), col("sum_ln_e6"),
            expr("k * 1000000000000 div greatest(sum_ln_e6, 1)")
              .as("alpha_ppm"))
      },
      Some("""WITH top AS (SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT 101),
          ref AS (SELECT n_chars AS x_ref FROM top
            ORDER BY n_chars, doc_id DESC LIMIT 1),
          terms AS (SELECT x_ref,
              CAST(round(ln(CAST(n_chars AS DOUBLE) / x_ref)
                * 1000000, 0) AS BIGINT) AS lt
            FROM (SELECT doc_id, n_chars FROM top
              ORDER BY n_chars DESC, doc_id LIMIT 100)
            CROSS JOIN ref)
        SELECT CAST(count(*) AS BIGINT) AS k, x_ref,
          CAST(sum(lt) AS BIGINT) AS sum_ln_e6,
          CAST(count(*) * 1000000000000
            // greatest(CAST(sum(lt) AS BIGINT), 1) AS BIGINT)
            AS alpha_ppm
        FROM terms GROUP BY x_ref""")),

    // PSI DRIFT (population stability index) — the scorecard-monitoring
    // drift metric beside q_ks_drift (KS compares CDF sup-distance
    // between source slices; PSI compares BINNED mass between the train
    // and held-out splits, the form model-monitoring dashboards track):
    // Σ_bins (p_tr − p_te)·ln(p_tr/p_te) over 10 equal-width integer
    // bins of the l_extendedprice cents on the Knuth 80/20 split
    // (l_orderkey % 10 < 8 — the established split key). Determinism:
    // values land ONCE on the cents grid (round(x·100) — identical IEEE
    // multiply + half-up round both engines); bin = least(9, (c − mn)·10
    // div (mx − mn + 1)) is exact integer algebra off a 1-row broadcast
    // min/max agg; each ln lands ONCE on the 1e-4 grid from an exact
    // integer rational (add-one-smoothed counts — the q_dsir_weights
    // mechanism) and the (p_tr − p_te) factor is the truncating-div ppm
    // difference, so term_e10 = dp_e6·ln_e4 is exact BIGINT. The 10-bin
    // grid is EXPLICIT (the q_psi_timeseries contract): an empty bin
    // still contributes its smoothed (1/d_tr vs 1/d_te) term instead of
    // silently dropping — the +10 add-one denominator assumes all 10
    // bins exist. Scale: one pass for min/max + one binned count agg —
    // map-side combinable, 10-row result at any corpus size.
    QDef("q_psi_drift",
      (s, d) => {
        val li = lineitem(s, d).select(
          round(col("l_extendedprice") * 100, 0).cast("long").as("c"),
          (col("l_orderkey") % 10 < 8).cast("long").as("is_tr"))
        val mm = li.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
        val binned0 = li.crossJoin(broadcast(mm))
          .select(expr("least(9, (c - mn) * 10 div (mx - mn + 1))")
            .as("bin"), col("is_tr"))
          .groupBy(col("bin"))
          .agg(sum(col("is_tr")).as("c_tr"),
            sum(lit(1L) - col("is_tr")).as("c_te"))
        val binned = s.range(0, 10).select(col("id").as("bin"))
          .join(binned0, Seq("bin"), "left")
          .select(col("bin"),
            coalesce(col("c_tr"), lit(0L)).as("c_tr"),
            coalesce(col("c_te"), lit(0L)).as("c_te"))
        val w = Window.partitionBy()
        binned
          .select(col("bin"), col("c_tr"), col("c_te"),
            (sum(col("c_tr")).over(w) + 10L).as("d_tr"),
            (sum(col("c_te")).over(w) + 10L).as("d_te"))
          .select(col("bin"), col("c_tr"), col("c_te"),
            (expr("(c_tr + 1) * 1000000 div d_tr") -
              expr("(c_te + 1) * 1000000 div d_te")).as("dp_e6"),
            round(log(((col("c_tr") + lit(1.0)) * col("d_te")) /
              ((col("c_te") + lit(1.0)) * col("d_tr"))) * 10000, 0)
              .cast("long").as("lnr_e4"))
          .select(col("bin"), col("c_tr"), col("c_te"), col("dp_e6"),
            col("lnr_e4"),
            (col("dp_e6") * col("lnr_e4")).as("term_e10"))
          .orderBy(col("bin"))
      },
      Some("""WITH li AS (SELECT
            CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
            CAST(l_orderkey % 10 < 8 AS BIGINT) AS is_tr FROM lineitem),
        mm AS (SELECT min(c) AS mn, max(c) AS mx FROM li),
        binned0 AS (SELECT least(9, (c - mn) * 10 // (mx - mn + 1)) AS bin,
            CAST(sum(is_tr) AS BIGINT) AS c_tr,
            CAST(sum(1 - is_tr) AS BIGINT) AS c_te
          FROM li CROSS JOIN mm GROUP BY 1),
        grid AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT)
          AS bin),
        binned AS (SELECT g.bin,
            CAST(COALESCE(b.c_tr, 0) AS BIGINT) AS c_tr,
            CAST(COALESCE(b.c_te, 0) AS BIGINT) AS c_te
          FROM grid g LEFT JOIN binned0 b USING (bin)),
        tot AS (SELECT CAST(sum(c_tr) + 10 AS BIGINT) AS d_tr,
            CAST(sum(c_te) + 10 AS BIGINT) AS d_te FROM binned),
        terms AS (SELECT bin, c_tr, c_te,
            (c_tr + 1) * 1000000 // d_tr
              - (c_te + 1) * 1000000 // d_te AS dp_e6,
            CAST(round(ln(((c_tr + 1.0) * d_te) / ((c_te + 1.0) * d_tr))
              * 10000) AS BIGINT) AS lnr_e4
          FROM binned CROSS JOIN tot)
        SELECT bin, c_tr, c_te, CAST(dp_e6 AS BIGINT) AS dp_e6, lnr_e4,
          CAST(dp_e6 * lnr_e4 AS BIGINT) AS term_e10
        FROM terms ORDER BY bin""")),

    // PSI OVER TIME — q_psi_drift's one-shot audit turned into the
    // production drift DASHBOARD: every event-day's value distribution
    // scored against a FIXED reference window (days 0–6, the deploy
    // baseline), one PSI per day — the time series a model-monitoring
    // page plots, with the standard 0.2 alert threshold as a declared
    // integer flag (psi_e10 > 2·10⁹ on the e10 grid). Same determinism
    // contract as q_psi_drift: cents once on the e2 grid, 10 equal-width
    // bins from the REFERENCE window's min/max (later days clamp into
    // [0,9] — out-of-range drift lands in the edge bins, where PSI sees
    // it), one e4-grid ln per (day, bin) from exact add-one-smoothed
    // integer rationals, truncating ppm differences, BIGINT terms. The
    // (day × 10-bin) grid is built explicitly (explode(sequence)) so
    // empty cells score with count 0 instead of silently dropping.
    // Scale: two passes over events (reference min/max + the (day, bin)
    // count agg); everything downstream is |days|×10 rows — calendar-
    // bounded, the q_hll_cum_users thesis.
    QDef("q_psi_timeseries",
      (s, d) => {
        val e = events(s, d).select(
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("day"),
          round(col("value") * 100, 0).cast("long").as("c"))
        val mm = e.filter(col("day") <= 6)
          .agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
        val binned = e.crossJoin(broadcast(mm))
          .select(col("day"),
            expr("least(9, greatest(0, (c - mn) * 10 div (mx - mn + 1)))")
              .as("bin"))
          .groupBy(col("day"), col("bin")).agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // grid join + ref slice + day totals
        val ref = binned.filter(col("day") <= 6)
          .groupBy(col("bin")).agg(sum(col("n")).as("r"))
        val refTot = binned.filter(col("day") <= 6)
          .agg((sum(col("n")) + 10L).as("d_r"))
        val dayTot = binned.groupBy(col("day"))
          .agg((sum(col("n")) + 10L).as("d_d"))
        val grid = binned.select(col("day")).distinct()
          .select(col("day"), explode(expr("sequence(0, 9)")).as("bin0"))
          .select(col("day"), col("bin0").cast("long").as("bin"))
        grid.join(binned, Seq("day", "bin"), "left")
          .join(broadcast(ref), Seq("bin"), "left")
          .join(broadcast(dayTot), "day")
          .crossJoin(broadcast(refTot))
          .select(col("day"),
            (coalesce(col("n"), lit(0L)) + 1L).as("cd"),
            (coalesce(col("r"), lit(0L)) + 1L).as("cr"),
            col("d_d"), col("d_r"))
          .select(col("day"),
            ((expr("cd * 1000000 div d_d") - expr("cr * 1000000 div d_r"))
              * round(log((col("cd").cast("double") * col("d_r")) /
                  (col("cr").cast("double") * col("d_d"))) * 10000, 0)
                .cast("long"))
              .as("term_e10"))
          .groupBy(col("day"))
          .agg(sum(col("term_e10")).as("psi_e10"))
          .select(col("day"), col("psi_e10"),
            (col("psi_e10") > 2000000000L).cast("long").as("alert"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (SELECT
            date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
            CAST(round(value * 100) AS BIGINT) AS c FROM events),
        mm AS (SELECT min(c) AS mn, max(c) AS mx FROM e WHERE day <= 6),
        binned AS (SELECT day,
            least(9, greatest(0, (c - mn) * 10 // (mx - mn + 1))) AS bin,
            CAST(count(*) AS BIGINT) AS n
          FROM e CROSS JOIN mm GROUP BY 1, 2),
        ref AS (SELECT bin, CAST(sum(n) AS BIGINT) AS r FROM binned
          WHERE day <= 6 GROUP BY bin),
        reft AS (SELECT CAST(sum(n) + 10 AS BIGINT) AS d_r FROM binned
          WHERE day <= 6),
        dayt AS (SELECT day, CAST(sum(n) + 10 AS BIGINT) AS d_d
          FROM binned GROUP BY day),
        grid AS (SELECT DISTINCT day, unnest(generate_series(0, 9)) AS bin
          FROM binned),
        terms AS (SELECT g.day,
            (COALESCE(b.n, 0) + 1) * 1000000 // t.d_d
              - (COALESCE(ref.r, 0) + 1) * 1000000 // rt.d_r AS dp_e6,
            CAST(round(ln((CAST(COALESCE(b.n, 0) + 1 AS DOUBLE) * rt.d_r)
              / (CAST(COALESCE(ref.r, 0) + 1 AS DOUBLE) * t.d_d)) * 10000)
              AS BIGINT)
              AS lnr_e4
          FROM grid g
          LEFT JOIN binned b ON g.day = b.day AND g.bin = b.bin
          LEFT JOIN ref ON g.bin = ref.bin
          JOIN dayt t ON g.day = t.day CROSS JOIN reft rt)
        SELECT day, CAST(sum(dp_e6 * lnr_e4) AS BIGINT) AS psi_e10,
          CAST(sum(dp_e6 * lnr_e4) > 2000000000 AS BIGINT) AS alert
        FROM terms GROUP BY day ORDER BY day""")),

    // BENFORD FIRST-DIGIT AUDIT — the fraud/synthetic-data screen a
    // production ingest runs over monetary columns: the leading digit of
    // naturally occurring amounts follows P(d) = log₁₀(1 + 1/d); a flat
    // or spiked distribution flags generated or truncated data (this
    // synthetic corpus's uniform prices fail it loudly — that is the
    // point of an audit). The 9 expected ppm masses are BUILDER-TIME
    // constants embedded in both plans (the NdcgW pattern — no
    // transcendental runs per-engine); the leading digit comes from the
    // exact BIGINT-cents decimal string (identical integer-to-string in
    // both engines, no per-row log10). One map-side count agg, 9-row
    // result, |actual − benford| deviation in ppm plus the χ²-style
    // scaled statistic Σ dev²/expected per digit.
    QDef("q_benford_digits",
      (s, d) => {
        val digits = orders(s, d).select(
          substring(round(col("o_totalprice") * 100, 0).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
        val w = Window.partitionBy()
        digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .select(col("digit"), col("n"),
            expr("n * 1000000 div sum(n) over ()").as("actual_ppm"),
            element_at(typedLit(BenfordPpm), col("digit").cast("int"))
              .as("benford_ppm"))
          .select(col("digit"), col("n"), col("actual_ppm"),
            col("benford_ppm"),
            (col("actual_ppm") - col("benford_ppm")).as("dev_ppm"),
            expr("""(actual_ppm - benford_ppm)
              * (actual_ppm - benford_ppm) div benford_ppm""")
              .as("chi2_term"))
          .orderBy(col("digit"))
      },
      Some(s"""WITH d AS (SELECT CAST(substr(CAST(
            CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
            AS BIGINT) AS digit FROM orders),
        c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        b(digit, benford_ppm) AS (VALUES ${BenfordPpm.zipWithIndex
          .map { case (p, i) => s"(${i + 1}, ${p}::BIGINT)" }
          .mkString(", ")}),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        SELECT c.digit, CAST(n AS BIGINT) AS n,
          n * 1000000 // tot AS actual_ppm, benford_ppm,
          n * 1000000 // tot - benford_ppm AS dev_ppm,
          (n * 1000000 // tot - benford_ppm)
            * (n * 1000000 // tot - benford_ppm)
            // benford_ppm AS chi2_term
        FROM c JOIN b ON c.digit = b.digit CROSS JOIN t
        ORDER BY c.digit""")),

    // SYMSPELL FUZZY JOIN — edit-distance ≤ 1 self-join over the customer
    // name vocabulary via the symmetric-delete neighborhood (Garbe's
    // SymSpell): every string emits itself plus each 1-deletion variant;
    // two strings at edit distance ≤ 1 MUST share a variant (deletion →
    // the shorter string is a variant of both; insertion → symmetric;
    // substitution → deleting the edited position from both yields the
    // same string), so the variant equi-join is candidate-COMPLETE and
    // the levenshtein verify only prunes (shared variants can also come
    // from distance-2 pairs, e.g. transpositions). This replaces the
    // length-blocked brute force of q_fuzzy_name_pairs with a shape
    // whose candidate cost is Σ(len+1) exploded rows + one equi-join on
    // the variant key — linear in the vocabulary, never quadratic; at
    // 10⁹ names the brute force is off the table and this is the
    // production spell-match join. Verify is the codegen'd native
    // `levenshtein`, no UDF. Determinism: exact string algebra + integer
    // distance (class A). Oracle: independent brute force (length band +
    // levenshtein), NOT the delete-neighborhood — so a completeness bug
    // in the candidate generation fails the gate.
    QDef("q_symspell_join",
      (s, d) => {
        val names = customer(s, d).select(col("c_name").as("n")).distinct()
        val variants = names.select(col("n"), explode(array_distinct(concat(
            array(col("n")),
            expr("""transform(sequence(1, length(n)),
                 i -> concat(substring(n, 1, i - 1),
                             substring(n, i + 1, length(n))))"""))))
          .as("v"))
        // r16 opt (guide §2.4): candidate enumeration as ONE groupBy on
        // the variant key + in-bucket ordered-pair explode, replacing the
        // former variants ⋈ variants self-join — the same (name_a <
        // name_b) candidate multiset, but one exchange of the exploded
        // frame instead of two join-side shuffles + an eager checkpoint,
        // and the hot-variant fan (shared deletion buckets) is generated
        // by an array transform inside codegen instead of a join probe.
        // Verify BEFORE the pair-dedup so the distinct only shuffles
        // true ed ≤ 1 pairs (977k candidates → 262k at sf0.1 — bounded
        // by the OUTPUT size).
        // r17 skew guard (ADVICE r16, guide §5): bucket size is
        // data-dependent (names sharing a deletion variant), NOT bounded
        // by the ed ≤ 1 threshold — a hot variant of b names must never
        // materialize its O(b²) pair array inside ONE row's projection
        // buffer. Two chained generators stream the same pair multiset
        // with O(b) peak per row: the outer explode emits each bucket
        // member x as its own row, the inner explode generates only
        // x's ordered partners filter(ns, y -> x < y). Residual bound:
        // the collect_list agg buffer itself is O(b) strings per hot
        // variant (inherent to bucket grouping; documented in TUNING.md)
        // and the b² verify work of a hot bucket stays in one task —
        // the same locality a hot join key would have.
        variants.groupBy(col("v")).agg(collect_list(col("n")).as("ns"))
          .select(explode(col("ns")).as("name_a"), col("ns"))
          .select(col("name_a"),
            explode(expr("filter(ns, y -> name_a < y)")).as("name_b"))
          .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
          .distinct()
          .select(col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
          .orderBy(col("name_a"), col("name_b"))
      },
      Some("""WITH v AS (SELECT DISTINCT c_name AS n FROM customer)
        SELECT a.n AS name_a, b.n AS name_b,
          CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
        FROM v a JOIN v b ON a.n < b.n
          AND abs(length(a.n) - length(b.n)) <= 1
          AND levenshtein(a.n, b.n) <= 1
        ORDER BY name_a, name_b""")),

    // WINSORIZED robust statistics — the outlier-tolerant mean beside
    // z-score/MAD: clip n_chars into [p10, p90] per lang, where the
    // cutoffs are the EXACT type-1 quantiles (value at rank ⌈0.1n⌉ /
    // ⌈0.9n⌉ of the sorted column — k ≥ n/10 ⇔ 10k ≥ n, so the rank
    // test is pure integer cross-multiplication). NO per-row sort: the
    // engine aggregates the (lang, value) count histogram, windows the
    // cumulative count over that bounded frame (distinct values ≪ rows),
    // reads each cutoff as the min value whose cumulative count reaches
    // the rank, and closes the winsorized sum from the same histogram —
    // the q_gini_vocab histogram-identity pattern. Means are truncated
    // integer division (values positive, so Spark `div` ≡ DuckDB `//`);
    // everything BIGINT (class A).
    QDef("q_winsorize_stats",
      (s, d) => {
        val docs = documents(s, d)
        val hist = docs.groupBy(col("lang"), col("n_chars"))
          .agg(count(lit(1)).as("m"))
          .localCheckpoint(true) // feeds the cutoff scan AND the clipped sum
        val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val cuts = hist.withColumn("cum", sum(col("m")).over(w))
          .join(broadcast(tot), Seq("lang"))
          .groupBy(col("lang"), col("n"))
          .agg(
            min(when(col("cum") * 10 >= col("n"), col("n_chars"))).as("lo"),
            min(when(col("cum") * 10 >= col("n") * 9, col("n_chars"))).as("hi"))
        hist.join(broadcast(cuts), Seq("lang"))
          .groupBy(col("lang"), col("n"), col("lo"), col("hi"))
          .agg(
            sum(least(greatest(col("n_chars"), col("lo")), col("hi"))
              * col("m")).as("win_sum"),
            sum(col("n_chars") * col("m")).as("raw_sum"))
          .select(col("lang"), col("n"), col("lo"), col("hi"),
            col("win_sum"),
            expr("win_sum div n").as("win_mean"),
            expr("raw_sum div n").as("raw_mean"))
          .orderBy(col("lang"))
      },
      Some("""WITH hist AS (SELECT lang, n_chars,
            CAST(count(*) AS BIGINT) AS m
          FROM documents GROUP BY 1, 2),
        tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY lang),
        cum AS (SELECT lang, n_chars, m,
            CAST(sum(m) OVER (PARTITION BY lang ORDER BY n_chars
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM hist),
        cuts AS (SELECT c.lang, t.n,
            min(CASE WHEN cum * 10 >= t.n THEN n_chars END) AS lo,
            min(CASE WHEN cum * 10 >= t.n * 9 THEN n_chars END) AS hi
          FROM cum c JOIN tot t USING (lang) GROUP BY 1, 2)
        SELECT h.lang, cuts.n, cuts.lo, cuts.hi,
          CAST(sum(least(greatest(h.n_chars, lo), hi) * m) AS BIGINT)
            AS win_sum,
          CAST(CAST(sum(least(greatest(h.n_chars, lo), hi) * m) AS BIGINT)
            // cuts.n AS BIGINT) AS win_mean,
          CAST(CAST(sum(h.n_chars * m) AS BIGINT) // cuts.n AS BIGINT)
            AS raw_mean
        FROM hist h JOIN cuts USING (lang)
        GROUP BY 1, 2, 3, 4 ORDER BY lang""")),

    // HELD-OUT perplexity — the generalization twin of
    // q_perplexity_filter: train the add-one bigram LM on the 80%
    // Knuth-hash split (the q_split_assign bucket, same as the BPE
    // trainer) and score ONLY the held-out 20%, where unseen unigrams
    // and bigrams actually occur (the self-scored variant never meets
    // an OOV event; here c₁/c₂ arrive by LEFT join with COALESCE 0 and
    // the per-doc unseen-bigram count is reported beside the score).
    // This is the CCNet deployment shape — LM fitted on one corpus,
    // filtering another. Same determinism class as the precedent: each
    // ln term pre-rounded to 4 decimals, decimal-exact average. Scale:
    // three map-side-combinable count aggs on the train side + one
    // broadcast-vocab join on the scored side; nothing holds per-group
    // state.
    QDef("q_heldout_perplexity",
      (s, d) => {
        val bucket =
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        val toksT = documents(s, d)
          .select(col("doc_id"), (bucket < 80).as("is_train"),
            filter(split(col("text"), " "), t => t =!= "").as("t"))
          .localCheckpoint(true) // feeds train counts AND held-out scoring
        val bi = toksT.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("is_train"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'bg', concat(a, ' ', b)))"""))
            .as("p"))
          .select(col("doc_id"), col("is_train"),
            col("p.w1").as("w1"), col("p.bg").as("bg"))
          .localCheckpoint(true) // train counts + held-out probe share it
        val trainUni = toksT.filter(col("is_train"))
          .select(explode(col("t")).as("w"))
        val c1 = trainUni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val c2 = bi.filter(col("is_train"))
          .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        val v = trainUni.agg(countDistinct(col("w")).as("v"))
        bi.filter(!col("is_train"))
          .join(c2, Seq("bg"), "left")
          .join(c1, col("w1") === col("w"), "left")
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            col("c2").isNull.cast("long").as("unseen"),
            round(lit(0.0) - log((coalesce(col("c2"), lit(0L)) + 1.0) /
              (coalesce(col("c1"), lit(0L)) + col("v"))), 4).as("t"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("unseen")).as("n_unseen"),
            davg(col("t")).as("nllr"))
          .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
            round(col("nllr"), 6).as("nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toksT AS (SELECT doc_id,
            (doc_id * 2654435761) % 4294967296 % 100 < 80 AS is_train,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        bi AS (SELECT doc_id, is_train, toks[i] AS w1,
            toks[i] || ' ' || toks[i + 1] AS bg
          FROM (SELECT doc_id, is_train, toks,
                unnest(range(1, len(toks))) AS i
                FROM toksT WHERE len(toks) >= 2)),
        uni AS (SELECT unnest(toks) AS w FROM toksT WHERE is_train),
        c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
          FROM uni GROUP BY w),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
          FROM bi WHERE is_train GROUP BY bg),
        v AS (SELECT count(DISTINCT w) AS v FROM uni),
        terms AS (SELECT doc_id,
            CAST(c2.c2 IS NULL AS BIGINT) AS unseen,
            round(0.0 - ln((COALESCE(c2.c2, 0) + 1.0)
              / (COALESCE(c1.c1, 0) + v.v)), 4) AS t
          FROM bi LEFT JOIN c2 USING (bg)
          LEFT JOIN c1 ON bi.w1 = c1.w CROSS JOIN v
          WHERE NOT bi.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(unseen) AS BIGINT) AS n_unseen,
          round(${sqlDavg("t")}, 6) AS nll
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // JELINEK–MERCER INTERPOLATED held-out perplexity — the smoothing
    // upgrade of q_heldout_perplexity's add-one bigram: p = λ·p_ML(w₂|w₁)
    // + (1−λ)·p_uni(w₂) with λ = ½, where the ML bigram term is c₂/c₁
    // (zero when the context is unseen — interpolation, unlike add-one,
    // keeps the model proper there via the unigram back-off) and the
    // unigram is add-one smoothed (c(w₂)+1)/(T+V) so OOV predicted
    // tokens keep p > 0. Same train/held-out Knuth split; the divisions
    // and the λ-mix are IDENTICALLY parenthesized IEEE chains over exact
    // integer counts. Determinism mechanism UPGRADED over the add-one
    // precedent: each −ln term is quantized straight to an INTEGER
    // (round(t·10⁴) — both engines round the identical double exactly,
    // no decimal-grid multiply), the per-doc score is the exact BIGINT
    // sum of those integers, and the reported mean is ONE correctly-
    // rounded division with NO trailing round(…, 6) — the precedent's
    // round-of-mean flipped at sf0.1 because a mean of round-4 terms
    // over n=80 lands exactly on a round-6 decimal midpoint 1-in-8
    // times, where Spark's BigDecimal HALF_UP and DuckDB's
    // multiply-then-std::round disagree (measured: doc 2798,
    // 3.413247 vs 3.413248). Class C only through ln's ulp (term-scan
    // verified off-boundary at all three SFs). Scale: three map-side
    // count aggs on the train side, two broadcast joins on the scored
    // side; per-doc state never exists.
    QDef("q_heldout_perplexity_jm",
      (s, d) => {
        val bucket =
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        val toksT = documents(s, d)
          .select(col("doc_id"), (bucket < 80).as("is_train"),
            filter(split(col("text"), " "), t => t =!= "").as("t"))
          .localCheckpoint(true) // train counts AND held-out scoring
        val bi = toksT.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("is_train"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'w2', b,
                 'bg', concat(a, ' ', b)))""")).as("p"))
          .select(col("doc_id"), col("is_train"), col("p.w1").as("w1"),
            col("p.w2").as("w2"), col("p.bg").as("bg"))
          .localCheckpoint(true) // train counts + held-out probe share it
        val trainUni = toksT.filter(col("is_train"))
          .select(explode(col("t")).as("w"))
        val c1 = trainUni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val c2 = bi.filter(col("is_train"))
          .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        val vt = trainUni.agg(countDistinct(col("w")).as("v"),
          count(lit(1)).as("tt"))
        bi.filter(!col("is_train"))
          .join(c2, Seq("bg"), "left")
          .join(c1.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
          .join(c1.select(col("w").as("w2"), col("c1").as("cu")),
            Seq("w2"), "left")
          .crossJoin(broadcast(vt))
          .select(col("doc_id"),
            (coalesce(col("c2"), lit(0L)) === 0).cast("long").as("zero_ml"),
            round((lit(0.0) - log(
              when(coalesce(col("c1"), lit(0L)) > 0,
                coalesce(col("c2"), lit(0L)).cast("double") / col("c1"))
                .otherwise(lit(0.0)) * 0.5 +
              (coalesce(col("cu"), lit(0L)) + 1.0) / (col("tt") + col("v"))
                * 0.5)) * 10000).cast("long").as("t_e4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("zero_ml")).as("n_zero_ml"),
            sum(col("t_e4")).as("nll_e4"))
          .select(col("doc_id"), col("n_bigrams"), col("n_zero_ml"),
            col("nll_e4"),
            (col("nll_e4").cast("double") / (col("n_bigrams") * 10000))
              .as("nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toksT AS (SELECT doc_id,
            (doc_id * 2654435761) % 4294967296 % 100 < 80 AS is_train,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        bi AS (SELECT doc_id, is_train, toks[i] AS w1, toks[i + 1] AS w2,
            toks[i] || ' ' || toks[i + 1] AS bg
          FROM (SELECT doc_id, is_train, toks,
                unnest(range(1, len(toks))) AS i
                FROM toksT WHERE len(toks) >= 2)),
        uni AS (SELECT unnest(toks) AS w FROM toksT WHERE is_train),
        c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
          FROM uni GROUP BY w),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
          FROM bi WHERE is_train GROUP BY bg),
        vt AS (SELECT count(DISTINCT w) AS v, count(*) AS tt FROM uni),
        terms AS (SELECT doc_id,
            CAST(COALESCE(c2.c2, 0) = 0 AS BIGINT) AS zero_ml,
            CAST(round((0.0 - ln(
              (CASE WHEN COALESCE(ca.c1, 0) > 0
                THEN CAST(COALESCE(c2.c2, 0) AS DOUBLE) / ca.c1
                ELSE 0.0 END) * 0.5 +
              (COALESCE(cb.c1, 0) + 1.0) / (vt.tt + vt.v) * 0.5)) * 10000)
              AS BIGINT) AS t_e4
          FROM bi LEFT JOIN c2 USING (bg)
          LEFT JOIN c1 ca ON bi.w1 = ca.w
          LEFT JOIN c1 cb ON bi.w2 = cb.w
          CROSS JOIN vt
          WHERE NOT bi.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(zero_ml) AS BIGINT) AS n_zero_ml,
          CAST(sum(t_e4) AS BIGINT) AS nll_e4,
          CAST(CAST(sum(t_e4) AS BIGINT) AS DOUBLE)
            / (count(*) * 10000) AS nll
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // KNESER–NEY held-out scoring — the state-of-the-art n-gram smoother
    // beside add-one (q_heldout_perplexity) and Jelinek–Mercer
    // (…_jm): absolute discount d = ¾ on the ML bigram, with the
    // discount mass redistributed by CONTINUATION counts (how many
    // distinct contexts a word follows — "Francisco" is frequent but
    // only ever follows "San", so its unigram back-off weight should be
    // tiny; raw-frequency back-off gets that wrong, continuation counts
    // get it right; Kneser & Ney 1995). p_KN(w|v) = max(c(vw)−d, 0)/c(v·)
    // + d·N₁₊(v·)/c(v·) · N₁₊(·w)/N₁₊(··); unseen contexts back off to
    // the continuation unigram, and a 1/(2·N₁₊(··)) floor keeps p > 0
    // for OOV continuations. d = ¾ clears through ×4 so every numerator
    // is integer; the divisions and the mix are identically parenthesized
    // IEEE chains; the per-term → integer quantization and the unrounded
    // mean reuse the JM mechanism verbatim. Scale: four train-side count
    // aggs (two of them distinct-counts) + broadcast probe joins.
    QDef("q_kneser_ney",
      (s, d) => {
        val bucket =
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        val toksT = documents(s, d)
          .select(col("doc_id"), (bucket < 80).as("is_train"),
            filter(split(col("text"), " "), t => t =!= "").as("t"))
        val bi = toksT.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("is_train"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'w2', b,
                 'bg', concat(a, ' ', b)))""")).as("p"))
          .select(col("doc_id"), col("is_train"), col("p.w1").as("w1"),
            col("p.w2").as("w2"), col("p.bg").as("bg"))
          .localCheckpoint(true) // all four train counts + the probe
        val tr = bi.filter(col("is_train"))
        val c2 = tr.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        val ctx = tr.groupBy(col("w1"))
          .agg(count(lit(1)).as("cv"), countDistinct(col("w2")).as("n1f"))
        val cont = tr.groupBy(col("w2"))
          .agg(countDistinct(col("w1")).as("n1r"))
        val n1allF = tr.agg(countDistinct(col("bg")).as("n1all"))
        val floorP = lit(1.0) / (col("n1all") * 2)
        val pKn = when(coalesce(col("cv"), lit(0L)) > 0,
          greatest(
            (greatest(coalesce(col("c2"), lit(0L)) * 4 - 3, lit(0L))
              .cast("double") / (col("cv") * 4)) +
            ((col("n1f") * 3).cast("double") / (col("cv") * 4)) *
              (coalesce(col("n1r"), lit(0L)).cast("double") / col("n1all")),
            floorP))
          .otherwise(greatest(
            coalesce(col("n1r"), lit(0L)).cast("double") / col("n1all"),
            floorP))
        bi.filter(!col("is_train"))
          .join(c2, Seq("bg"), "left")
          .join(ctx, Seq("w1"), "left")
          .join(cont, Seq("w2"), "left")
          .crossJoin(broadcast(n1allF))
          .select(col("doc_id"),
            (coalesce(col("cv"), lit(0L)) === 0).cast("long").as("backoff"),
            round((lit(0.0) - log(pKn)) * 10000).cast("long").as("t_e4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("backoff")).as("n_backoff"),
            sum(col("t_e4")).as("nll_e4"))
          .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
            col("nll_e4"),
            (col("nll_e4").cast("double") / (col("n_bigrams") * 10000))
              .as("nll"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toksT AS (SELECT doc_id,
            (doc_id * 2654435761) % 4294967296 % 100 < 80 AS is_train,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        bi AS (SELECT doc_id, is_train, toks[i] AS w1, toks[i + 1] AS w2,
            toks[i] || ' ' || toks[i + 1] AS bg
          FROM (SELECT doc_id, is_train, toks,
                unnest(range(1, len(toks))) AS i
                FROM toksT WHERE len(toks) >= 2)),
        tr AS (SELECT * FROM bi WHERE is_train),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
          FROM tr GROUP BY bg),
        ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS cv,
            CAST(count(DISTINCT w2) AS BIGINT) AS n1f
          FROM tr GROUP BY w1),
        cont AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS n1r
          FROM tr GROUP BY w2),
        n1a AS (SELECT CAST(count(DISTINCT bg) AS BIGINT) AS n1all FROM tr),
        terms AS (SELECT doc_id,
            CAST(COALESCE(cv, 0) = 0 AS BIGINT) AS backoff,
            CAST(round((0.0 - ln(
              CASE WHEN COALESCE(cv, 0) > 0 THEN
                greatest(
                  (CAST(greatest(COALESCE(c2, 0) * 4 - 3, 0) AS DOUBLE)
                    / (cv * 4)) +
                  (CAST(n1f * 3 AS DOUBLE) / (cv * 4)) *
                    (CAST(COALESCE(n1r, 0) AS DOUBLE) / n1all),
                  1.0 / (n1all * 2))
              ELSE greatest(CAST(COALESCE(n1r, 0) AS DOUBLE) / n1all,
                  1.0 / (n1all * 2)) END)) * 10000) AS BIGINT) AS t_e4
          FROM bi LEFT JOIN c2 USING (bg)
          LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2)
          CROSS JOIN n1a
          WHERE NOT bi.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(backoff) AS BIGINT) AS n_backoff,
          CAST(sum(t_e4) AS BIGINT) AS nll_e4,
          CAST(CAST(sum(t_e4) AS BIGINT) AS DOUBLE)
            / (count(*) * 10000) AS nll
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // MODIFIED KNESER–NEY (Chen & Goodman 1998) — the n-gram smoother
    // that actually ships in production LMs: THREE count-dependent
    // discounts D₁/D₂/D₃₊ estimated from the corpus's own
    // count-of-counts (Y = n₁/(n₁+2n₂); Dᵢ = i − (i+1)·Y·nᵢ₊₁/nᵢ)
    // instead of KN's single d = ¾, with the back-off weight γ(v) =
    // [D₁N₁(v) + D₂N₂(v) + D₃₊N₃₊(v)]/c(v·) carrying exactly the mass
    // the discounts removed. Continuation unigram + positive floor as
    // in q_kneser_ney; every D and every term is an IDENTICALLY
    // parenthesized IEEE chain over exact integer counts, and the
    // per-term integer quantization + unrounded mean reuse the JM
    // mechanism. Scale: one extra count-of-counts agg (4 rows) over
    // the KN shape.
    QDef("q_kn_modified",
      (s, d) => {
        val bucket =
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        val toksT = documents(s, d)
          .select(col("doc_id"), (bucket < 80).as("is_train"),
            filter(split(col("text"), " "), t => t =!= "").as("t"))
        val bi = toksT.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("is_train"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'w2', b,
                 'bg', concat(a, ' ', b)))""")).as("p"))
          .select(col("doc_id"), col("is_train"), col("p.w1").as("w1"),
            col("p.w2").as("w2"), col("p.bg").as("bg"))
          .localCheckpoint(true) // all train counts + the probe
        val tr = bi.filter(col("is_train"))
        val c2 = tr.groupBy(col("bg"))
          .agg(count(lit(1)).as("c2"), first(col("w1")).as("cw1"))
          .localCheckpoint(true) // probe join + ctx aggs + count-of-counts
        val cc = c2.agg(
          sum((col("c2") === 1).cast("long")).as("n1"),
          sum((col("c2") === 2).cast("long")).as("n2"),
          sum((col("c2") === 3).cast("long")).as("n3"),
          sum((col("c2") === 4).cast("long")).as("n4"),
          count(lit(1)).as("n1all_b"))
        // greatest(nᵢ, 1) guards: an EMPTY count-of-counts bucket makes
        // the Chen–Goodman estimator undefined (and trips ANSI
        // divide-by-zero — n₃ = 0 at sf0.1); when nᵢ = 0 the discount
        // Dᵢ is never applied to any count anyway (no bigram has that
        // count) except D₃₊'s n₃, where the guard is the standard
        // fallback. Identical greatest() in both engines.
        val yD = col("n1").cast("double") /
          greatest(col("n1") + col("n2") * 2, lit(1L))
        val disc = cc.select(col("n1"), col("n2"), col("n3"), col("n4"),
          (lit(1.0) - yD * 2 * (col("n2").cast("double") /
            greatest(col("n1"), lit(1L)))).as("d1"),
          (lit(2.0) - yD * 3 * (col("n3").cast("double") /
            greatest(col("n2"), lit(1L)))).as("d2"),
          (lit(3.0) - yD * 4 * (col("n4").cast("double") /
            greatest(col("n3"), lit(1L)))).as("d3"))
        val ctx = c2.groupBy(col("cw1").as("w1"))
          .agg(sum(col("c2")).as("cv"),
            sum((col("c2") === 1).cast("long")).as("n1v"),
            sum((col("c2") === 2).cast("long")).as("n2v"),
            sum((col("c2") >= 3).cast("long")).as("n3pv"))
        val cont = tr.groupBy(col("w2"))
          .agg(countDistinct(col("w1")).as("n1r"))
        val n1allF = tr.agg(countDistinct(col("bg")).as("n1all"))
        val dOf = when(coalesce(col("c2"), lit(0L)) === 1, col("d1"))
          .when(coalesce(col("c2"), lit(0L)) === 2, col("d2"))
          .when(coalesce(col("c2"), lit(0L)) >= 3, col("d3"))
          .otherwise(lit(0.0))
        val floorP = lit(1.0) / (col("n1all") * 2)
        val pMkn = when(coalesce(col("cv"), lit(0L)) > 0,
          greatest(
            greatest(coalesce(col("c2"), lit(0L)).cast("double") - dOf,
              lit(0.0)) / col("cv") +
            ((col("d1") * col("n1v") + col("d2") * col("n2v") +
              col("d3") * col("n3pv")) / col("cv")) *
              (coalesce(col("n1r"), lit(0L)).cast("double") / col("n1all")),
            floorP))
          .otherwise(greatest(
            coalesce(col("n1r"), lit(0L)).cast("double") / col("n1all"),
            floorP))
        bi.filter(!col("is_train"))
          .join(c2.select(col("bg"), col("c2")), Seq("bg"), "left")
          .join(ctx, Seq("w1"), "left")
          .join(cont, Seq("w2"), "left")
          .crossJoin(broadcast(n1allF))
          .crossJoin(broadcast(disc))
          .select(col("doc_id"),
            (coalesce(col("cv"), lit(0L)) === 0).cast("long").as("backoff"),
            round((lit(0.0) - log(pMkn)) * 10000).cast("long").as("t_e4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("backoff")).as("n_backoff"),
            sum(col("t_e4")).as("nll_e4"))
          .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
            col("nll_e4"),
            (col("nll_e4").cast("double") / (col("n_bigrams") * 10000))
              .as("nll"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toksT AS (SELECT doc_id,
            (doc_id * 2654435761) % 4294967296 % 100 < 80 AS is_train,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        bi AS (SELECT doc_id, is_train, toks[i] AS w1, toks[i + 1] AS w2,
            toks[i] || ' ' || toks[i + 1] AS bg
          FROM (SELECT doc_id, is_train, toks,
                unnest(range(1, len(toks))) AS i
                FROM toksT WHERE len(toks) >= 2)),
        tr AS (SELECT * FROM bi WHERE is_train),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2,
            min(w1) AS cw1
          FROM tr GROUP BY bg),
        cc AS (SELECT
            CAST(sum(CAST(c2 = 1 AS BIGINT)) AS BIGINT) AS n1,
            CAST(sum(CAST(c2 = 2 AS BIGINT)) AS BIGINT) AS n2,
            CAST(sum(CAST(c2 = 3 AS BIGINT)) AS BIGINT) AS n3,
            CAST(sum(CAST(c2 = 4 AS BIGINT)) AS BIGINT) AS n4
          FROM c2),
        disc AS (SELECT n1, n2, n3, n4,
            1.0 - (CAST(n1 AS DOUBLE) / greatest(n1 + n2 * 2, 1)) * 2
              * (CAST(n2 AS DOUBLE) / greatest(n1, 1)) AS d1,
            2.0 - (CAST(n1 AS DOUBLE) / greatest(n1 + n2 * 2, 1)) * 3
              * (CAST(n3 AS DOUBLE) / greatest(n2, 1)) AS d2,
            3.0 - (CAST(n1 AS DOUBLE) / greatest(n1 + n2 * 2, 1)) * 4
              * (CAST(n4 AS DOUBLE) / greatest(n3, 1)) AS d3
          FROM cc),
        ctx AS (SELECT cw1 AS w1, CAST(sum(c2) AS BIGINT) AS cv,
            CAST(sum(CAST(c2 = 1 AS BIGINT)) AS BIGINT) AS n1v,
            CAST(sum(CAST(c2 = 2 AS BIGINT)) AS BIGINT) AS n2v,
            CAST(sum(CAST(c2 >= 3 AS BIGINT)) AS BIGINT) AS n3pv
          FROM c2 GROUP BY cw1),
        cont AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS n1r
          FROM tr GROUP BY w2),
        n1a AS (SELECT CAST(count(DISTINCT bg) AS BIGINT) AS n1all FROM tr),
        terms AS (SELECT doc_id,
            CAST(COALESCE(cv, 0) = 0 AS BIGINT) AS backoff,
            CAST(round((0.0 - ln(
              CASE WHEN COALESCE(cv, 0) > 0 THEN
                greatest(
                  greatest(CAST(COALESCE(c2.c2, 0) AS DOUBLE) -
                    (CASE WHEN COALESCE(c2.c2, 0) = 1 THEN d1
                      WHEN COALESCE(c2.c2, 0) = 2 THEN d2
                      WHEN COALESCE(c2.c2, 0) >= 3 THEN d3
                      ELSE 0.0 END), 0.0) / cv +
                  ((d1 * n1v + d2 * n2v + d3 * n3pv) / cv) *
                    (CAST(COALESCE(n1r, 0) AS DOUBLE) / n1all),
                  1.0 / (n1all * 2))
              ELSE greatest(CAST(COALESCE(n1r, 0) AS DOUBLE) / n1all,
                  1.0 / (n1all * 2)) END)) * 10000) AS BIGINT) AS t_e4
          FROM bi LEFT JOIN c2 USING (bg)
          LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2)
          CROSS JOIN n1a
          CROSS JOIN disc
          WHERE NOT bi.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(backoff) AS BIGINT) AS n_backoff,
          CAST(sum(t_e4) AS BIGINT) AS nll_e4,
          CAST(CAST(sum(t_e4) AS BIGINT) AS DOUBLE)
            / (count(*) * 10000) AS nll
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // STUPID BACKOFF held-out scoring — the web-scale smoother that
    // completes the family beside add-one (q_heldout_perplexity),
    // Jelinek–Mercer (…_jm), Kneser–Ney (q_kneser_ney) and modified KN
    // (q_kn_modified): no discounting, no normalization — S(w₂|w₁) =
    // c(w₁w₂)/c(w₁·) when the bigram was seen, else α·S(w₂) with the
    // fixed α = 0.4 of Brants et al. 2007 ("Large Language Models in
    // Machine Translation"), whose point is exactly that at corpus
    // scale this unnormalized score ("stupid" by its authors' naming)
    // matches KN-class quality at a fraction of the aggregation cost —
    // ONE bigram count table and ONE unigram table, no count-of-counts
    // or continuation passes, which is why it is the smoother 100 TB
    // pipelines actually ship. The backoff unigram is add-one smoothed
    // (c(w₂)+1)/(T+V) so OOV continuations keep S > 0. Same Knuth
    // split; −ln terms quantized to the e4 integer grid, exact BIGINT
    // per-doc sums, ONE unrounded final division (the JM determinism
    // mechanism verbatim; class C only through ln's ulp). Scale: two
    // map-side train count aggs + broadcast probe joins; the bigram
    // denominator reuses the unigram table (c(w₁·) = c(w₁) up to the
    // per-doc last token, declared: context counts here are TOKEN
    // counts, the convention the add-one precedent set).
    QDef("q_stupid_backoff",
      (s, d) => {
        val bucket =
          pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100
        val toksT = documents(s, d)
          .select(col("doc_id"), (bucket < 80).as("is_train"),
            filter(split(col("text"), " "), t => t =!= "").as("t"))
          .localCheckpoint(true) // train counts AND held-out scoring
        val bi = toksT.filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("is_train"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'w2', b,
                 'bg', concat(a, ' ', b)))""")).as("p"))
          .select(col("doc_id"), col("is_train"), col("p.w1").as("w1"),
            col("p.w2").as("w2"), col("p.bg").as("bg"))
          .localCheckpoint(true) // train counts + held-out probe share it
        val trainUni = toksT.filter(col("is_train"))
          .select(explode(col("t")).as("w"))
        val c1 = trainUni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        val c2 = bi.filter(col("is_train"))
          .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        val vt = trainUni.agg(countDistinct(col("w")).as("v"),
          count(lit(1)).as("tt"))
        bi.filter(!col("is_train"))
          .join(c2, Seq("bg"), "left")
          .join(c1.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
          .join(c1.select(col("w").as("w2"), col("c1").as("cu")),
            Seq("w2"), "left")
          .crossJoin(broadcast(vt))
          .select(col("doc_id"),
            (coalesce(col("c2"), lit(0L)) === 0).cast("long").as("backoff"),
            round((lit(0.0) - log(
              when(coalesce(col("c2"), lit(0L)) > 0,
                col("c2").cast("double") / col("c1"))
                .otherwise((coalesce(col("cu"), lit(0L)) + 1.0)
                  / (col("tt") + col("v")) * 0.4))) * 10000)
              .cast("long").as("t_e4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("backoff")).as("n_backoff"),
            sum(col("t_e4")).as("nll_e4"))
          .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
            col("nll_e4"),
            (col("nll_e4").cast("double") / (col("n_bigrams") * 10000))
              .as("nll"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toksT AS (SELECT doc_id,
            (doc_id * 2654435761) % 4294967296 % 100 < 80 AS is_train,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        bi AS (SELECT doc_id, is_train, toks[i] AS w1, toks[i + 1] AS w2,
            toks[i] || ' ' || toks[i + 1] AS bg
          FROM (SELECT doc_id, is_train, toks,
                unnest(range(1, len(toks))) AS i
                FROM toksT WHERE len(toks) >= 2)),
        uni AS (SELECT unnest(toks) AS w FROM toksT WHERE is_train),
        c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
          FROM uni GROUP BY w),
        c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2
          FROM bi WHERE is_train GROUP BY bg),
        vt AS (SELECT count(DISTINCT w) AS v, count(*) AS tt FROM uni),
        terms AS (SELECT doc_id,
            CAST(COALESCE(c2.c2, 0) = 0 AS BIGINT) AS backoff,
            CAST(round((0.0 - ln(
              CASE WHEN COALESCE(c2.c2, 0) > 0
                THEN CAST(c2.c2 AS DOUBLE) / ca.c1
                ELSE (COALESCE(cb.c1, 0) + 1.0) / (vt.tt + vt.v) * 0.4
              END)) * 10000) AS BIGINT) AS t_e4
          FROM bi LEFT JOIN c2 USING (bg)
          LEFT JOIN c1 ca ON bi.w1 = ca.w
          LEFT JOIN c1 cb ON bi.w2 = cb.w
          CROSS JOIN vt
          WHERE NOT bi.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(backoff) AS BIGINT) AS n_backoff,
          CAST(sum(t_e4) AS BIGINT) AS nll_e4,
          CAST(CAST(sum(t_e4) AS BIGINT) AS DOUBLE)
            / (count(*) * 10000) AS nll
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // DELETE-ONE-GROUP JACKKNIFE — the non-parametric standard error of
    // the corpus mean under cluster (source) structure: θ₍ᵢ₎ = the mean
    // with source i deleted, computed from INTEGER sums alone
    // ((S − Sᵢ)/(N − nᵢ), one IEEE divide over exact integers, rounded
    // 6); the jackknife variance (g−1)/g · Σ(θ₍ᵢ₎ − θ̄)² then sums its
    // 20 squared deviations through the round-4 + decimal-exact-sum
    // mechanism (the q_perplexity_filter class) so no float ever sums in
    // engine order. A naive SE of the doc-level mean assumes i.i.d.
    // docs; sources are the sampling unit a crawl actually has. Scale:
    // one integer hash-agg per source + a 20-row frame — the totals
    // re-aggregate from the same frame.
    QDef("q_jackknife_mean",
      (s, d) => {
        val per = documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_i"), sum(col("n_chars")).as("s_i"))
          .localCheckpoint(true) // feeds totals AND the delete-one frame
        val tot = per.agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("s"),
          count(lit(1)).as("g"))
        val thetas = per.crossJoin(broadcast(tot))
          .select(col("source"), col("n"), col("g"), col("s"),
            round((col("s") - col("s_i")).cast("double") /
              (col("n") - col("n_i")), 6).as("theta_i"))
          .localCheckpoint(true) // mean join + deviation sum
        val jbar = thetas.agg(davg(col("theta_i")).as("jbar"))
        thetas.crossJoin(broadcast(jbar))
          .select(col("g"), col("n"),
            round(col("s").cast("double") / col("n"), 6).as("theta_all"),
            round(col("jbar"), 6).as("theta_jack"),
            round((col("theta_i") - col("jbar"))
              * (col("theta_i") - col("jbar")), 4).as("dev2"))
          .groupBy(col("g"), col("n"), col("theta_all"), col("theta_jack"))
          .agg(round(dsum(col("dev2")) * (col("g") - 1) / col("g"), 4)
            .as("jack_var"))
      },
      Some(s"""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_i,
            CAST(sum(n_chars) AS BIGINT) AS s_i
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
            CAST(sum(s_i) AS BIGINT) AS s,
            CAST(count(*) AS BIGINT) AS g
          FROM per),
        thetas AS (SELECT source, n, g, s,
            round(CAST(s - s_i AS DOUBLE) / (n - n_i), 6) AS theta_i
          FROM per CROSS JOIN tot),
        jb AS (SELECT ${sqlDavg("theta_i")} AS jbar FROM thetas)
        SELECT g, n,
          round(CAST(s AS DOUBLE) / n, 6) AS theta_all,
          round(jbar, 6) AS theta_jack,
          round(${sqlDsum("round((theta_i - jbar) * (theta_i - jbar), 4)")}
            * (g - 1) / g, 4) AS jack_var
        FROM thetas CROSS JOIN jb
        GROUP BY g, n, s, jbar""")),

    // K-CORE PEELING — the graph-density operator beside CC/triangles/
    // PageRank/Adamic–Adar: iteratively delete nodes of degree < 3
    // from the co-purchase graph (the q_basket_lift substrate: part
    // pairs with support ≥ 2) for 4 fixed rounds — the dense backbone
    // that survives is where co-purchase recommendations are reliable.
    // Fixed-round relational iteration (the q_kmeans_lloyd precedent):
    // each round is one degree hash-agg + two semi-join edge
    // restrictions, per-round localCheckpoint; the oracle replays the
    // identical 4-round peel as chained CTEs. Output = the surviving
    // edge set's degree table (declared fixed-round semantics — a
    // node's final degree may dip below k when removals cascade inside
    // the last round; the FIXPOINT claim is spec-asserted at sf0.001
    // where 4 rounds suffice). All integers (class A).
    QDef("q_graph_kcore",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        var edges = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .groupBy(col("x.l_partkey").as("ia"), col("y.l_partkey").as("ib"))
          .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
          .select(col("ia"), col("ib"))
          .localCheckpoint(true)
        // the edges checkpoint stays: each round references the prior
        // round 3× (degree union ×2 + restriction), so an unrolled
        // lineage would grow 3^k
        for (_ <- 1 to 4) edges = kcoreRound(edges).localCheckpoint(true)
        edges.select(col("ia").as("u"))
          .unionAll(edges.select(col("ib").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .orderBy(col("u"))
      },
      Some {
        // every CTE MATERIALIZED: each eₖ references eₖ₋₁ four times
        // (degree union ×2 + both IN probes route through keepₖ), so
        // DuckDB's default inlining re-expands the pair self-join
        // 4^k times — the un-hinted form filled the temp disk at sf0.1
        def peel(k: Int): String = s"""
        keep$k AS MATERIALIZED (SELECT u FROM (
            SELECT u, count(*) AS deg FROM (
              SELECT ia AS u FROM e${k - 1}
              UNION ALL SELECT ib FROM e${k - 1})
            GROUP BY u) WHERE deg >= 3),
        e$k AS MATERIALIZED (SELECT ia, ib FROM e${k - 1}
          WHERE ia IN (SELECT u FROM keep$k)
            AND ib IN (SELECT u FROM keep$k))"""
        s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
            FROM lineitem),
        e0 AS MATERIALIZED (SELECT a.l_partkey AS ia, b.l_partkey AS ib
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2),
        ${(1 to 4).map(peel).mkString(",")}
        SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT ia AS u FROM e4 UNION ALL SELECT ib FROM e4)
        GROUP BY u ORDER BY u"""
      }),

    // MAJORITY LABEL PROPAGATION — the community-detection pass beside
    // CC/PageRank/k-core on the same dup graph: seed every doc with its
    // source label, then 2 synchronous rounds of "adopt the most common
    // neighbor label" (ties → lexicographically smallest; isolated docs
    // keep their seed). Near-dup clusters converge to one source tag —
    // the provenance-consolidation step a crawl pipeline runs after
    // dedup. Fixed-round relational iteration (the q_kmeans_lloyd /
    // q_graph_kcore precedent): each round is one edge-labels equi-join
    // + a (node, label) hash-agg + a per-node window argmax, oracle
    // replayed as chained CTEs with the identical tie order. All
    // string/integer (class A).
    QDef("q_label_prop",
      (s, d) => labelProp2(s, d)._2.orderBy(col("doc_id")),
      Some(s"""WITH ${Llm.dupEdgesCte("0.2")},
        $labelPropCtes
        SELECT doc_id, lbl FROM l2 ORDER BY doc_id""")),

    // SAMPLED LABEL-PROPAGATION AUDIT TWIN (r13, VERDICT directive 5) —
    // the dup-graph family's bounded-cost instrument at scales where
    // the EXACT pairwise edge build exceeds single-node scratch
    // (TUNING's measured q_label_prop 100× storage exclusion): the
    // identical two-round majority propagation over the deterministic
    // 1/4 doc stratum (first md5 nibble of doc_id ≤ 3 ⇒ 1/16 of the
    // pair work — the q_dupspan_pairs_sampled cadence). Node set, edge
    // build (Jaccard ≥ 0.2), tie order, and round structure are the
    // SHARED labelProp2/CTE machinery with only the document WHERE
    // injected, so the audit cannot drift from the operator it bounds.
    QDef("q_label_prop_sampled",
      (s, d) => labelProp2(s, d, sampled = true)._2
        .orderBy(col("doc_id")),
      Some {
        val w = s" WHERE ${Llm.docSampleNibbleSql("doc_id")} <= 3"
        s"""WITH ${Llm.dupEdgesCteW("0.2", w)},
        ${labelPropCtesW(w)}
        SELECT doc_id, lbl FROM l2 ORDER BY doc_id"""
      }),

    // GRAPH MODULARITY CERTIFICATE — the "did community detection help"
    // gate over the label-propagation partition (the q_kmeans_silhouette
    // precedent for the vector side: a quality score is part of the
    // operator family, not a comment). Newman–Girvan modularity
    // Q = Σ_c [e_c/m − (d_c/2m)²] evaluated EXACTLY: per community the
    // contribution's cleared form 4m·e_c − d_c² is DECIMAL(38,0)/HUGEINT
    // integer arithmetic (BIGINT d_c² overflows past ~3·10⁹ total
    // degree — the pcaCovFull lesson), scaled to the e12 grid by ONE
    // truncating division (both engines truncate toward zero, verified
    // on negatives — sparse communities go negative). The propagation
    // rounds are labelProp2 shared VERBATIM with q_label_prop, the
    // edges the memoized shared dup graph — partition and certificate
    // cannot drift. Scale: one degree agg + one edge-labels equi-join +
    // a per-community rollup on top of the propagation's own joins — no
    // new shuffle shape; the 1-row m frame rides a broadcast.
    QDef("q_graph_modularity",
      (s, d) => {
        val (e0c, labels) = labelProp2(s, d)
        val e0 = e0c.localCheckpoint(true) // degrees + intra + m
        val deg = e0.select(col("id_a").as("doc_id"))
          .unionAll(e0.select(col("id_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
        val dC = labels.join(deg, Seq("doc_id"), "left")
          .groupBy(col("lbl")).agg(count(lit(1)).as("n_nodes"),
            sum(coalesce(col("deg"), lit(0L))).as("deg_sum"))
        val eC = e0
          .join(labels.select(col("doc_id").as("id_a"),
            col("lbl").as("lbl_a")), "id_a")
          .join(labels.select(col("doc_id").as("id_b"),
            col("lbl").as("lbl_b")), "id_b")
          .filter(col("lbl_a") === col("lbl_b"))
          .groupBy(col("lbl_a").as("lbl"))
          .agg(count(lit(1)).as("e_in"))
        val mF = e0.agg(count(lit(1)).as("m"))
        dC.join(eC, Seq("lbl"), "left")
          .crossJoin(broadcast(mF))
          .select(col("lbl").as("community"), col("n_nodes"),
            coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
            expr("""CAST((4 * CAST(m AS DECIMAL(38,0))
                * coalesce(e_in, 0)
                - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum)
              * 1000000000000
              div (4 * CAST(m AS DECIMAL(38,0)) * m)
              AS BIGINT)""").as("q_contrib_e12"))
          .orderBy(col("community"))
      },
      Some(s"""WITH ${Llm.dupEdgesCte("0.2")},
        $labelPropCtes,
        deg AS (SELECT doc_id, count(*) AS deg FROM (
            SELECT id_a AS doc_id FROM edges0
            UNION ALL SELECT id_b FROM edges0)
          GROUP BY doc_id),
        mm AS (SELECT count(*) AS m FROM edges0),
        dc AS (SELECT l.lbl, count(*) AS n_nodes,
            sum(coalesce(deg.deg, 0)) AS deg_sum
          FROM l2 l LEFT JOIN deg ON l.doc_id = deg.doc_id
          GROUP BY l.lbl),
        ec AS (SELECT la.lbl, count(*) AS e_in
          FROM edges0 e
          JOIN l2 la ON e.id_a = la.doc_id
          JOIN l2 lb ON e.id_b = lb.doc_id
          WHERE la.lbl = lb.lbl GROUP BY la.lbl)
        SELECT dc.lbl AS community, CAST(n_nodes AS BIGINT) AS n_nodes,
          CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
          CAST(deg_sum AS BIGINT) AS deg_sum,
          CAST((4 * CAST(m AS HUGEINT) * coalesce(e_in, 0)
              - CAST(deg_sum AS HUGEINT) * deg_sum) * 1000000000000
            // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_contrib_e12
        FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl CROSS JOIN mm
        ORDER BY community""")),

    // EIGENVECTOR CENTRALITY by integer power iteration — the spectral
    // importance measure beside PageRank (PageRank normalizes by degree;
    // this is the raw dominant-eigenvector direction of the adjacency):
    // 3 matvec rounds over the top-50-token CO-OCCURRENCE matrix
    // (A(i,j) = docs containing both tokens, diagonal zero). Every round
    // is EXACT BIGINT arithmetic: after EACH matvec the vector is
    // deterministically rescaled (div by max div 10⁶ + 1 — the same
    // integer both engines compute), so iterates stay ≤ ~10⁶ and the
    // next matvec's entries stay ≤ 50·max(aij)·10⁶ ≤ 5·10⁷·ndocs —
    // under 2⁶³ to ~1.8·10¹¹ documents. (Rescaling only after x₂, the
    // r10 form, let x₂ = A·(A·1) grow ~2500·ndocs² and silently wrap
    // past ~6·10⁷ docs while DuckDB widened to HUGEINT — the r10
    // ADVICE divergence hazard, closed here.) The reported score is x₃
    // ppm-normalized by its max — integer division, no float anywhere
    // (class A). Scale: the matrix is a bounded 50×50 frame built by
    // one df-capped token equi-join; the matvecs never touch the
    // corpus again.
    QDef("q_eigen_centrality",
      (s, d) => {
        val tok = documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(filter(split(col("text"), " "),
              t => t =!= ""))).as("tok"))
          .localCheckpoint(true) // vocab ranking + the pair join
        val wTop = Window.orderBy(col("n").desc, col("tok"))
        val top = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 50).select(col("tok"))
        val occ = tok.join(broadcast(top), "tok")
        val aMat = occ.as("a").join(occ.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("a.tok") =!= col("b.tok"))
          .groupBy(col("a.tok").as("ti"), col("b.tok").as("tj"))
          .agg(count(lit(1)).as("aij"))
          .localCheckpoint(true) // three matvec rounds read it
        def matvec(x: org.apache.spark.sql.DataFrame) =
          aMat.join(x.select(col("tok").as("tj"), col("x")), "tj")
            .groupBy(col("ti")).agg(sum(col("aij") * col("x")).as("x"))
            .select(col("ti").as("tok"), col("x"))
        def rescale(x: org.apache.spark.sql.DataFrame) = {
          val sc = x.agg((max(col("x")).cast("long")).as("m"))
            .select(expr("m div 1000000 + 1").as("sc"))
          x.crossJoin(broadcast(sc))
            .select(col("tok"), expr("x div sc").as("x"))
        }
        val x1 = rescale(matvec(top.select(col("tok"), lit(1L).as("x"))))
          .localCheckpoint(true)
        val x2 = matvec(x1).localCheckpoint(true)
        val x2s = rescale(x2)
        val x3 = matvec(x2s).localCheckpoint(true)
        val m3 = x3.agg(max(col("x")).as("m3"))
        x3.crossJoin(broadcast(m3))
          .select(col("tok"), col("x").as("x3"),
            expr("(x * 1000000) div m3").as("score_ppm"))
          .orderBy(col("score_ppm").desc, col("tok"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_distinct(
            list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
          FROM documents),
        top AS (SELECT tok FROM (
            SELECT tok, count(*) AS n,
              row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
            FROM tok GROUP BY tok) WHERE rn <= 50),
        occ AS (SELECT doc_id, tok FROM tok
          WHERE tok IN (SELECT tok FROM top)),
        am AS (SELECT a.tok AS ti, b.tok AS tj,
            CAST(count(*) AS BIGINT) AS aij
          FROM occ a JOIN occ b
            ON a.doc_id = b.doc_id AND a.tok <> b.tok
          GROUP BY 1, 2),
        x1r AS (SELECT ti AS tok, CAST(sum(aij) AS BIGINT) AS x
          FROM am GROUP BY ti),
        sc1 AS (SELECT CAST(max(x) AS BIGINT) // 1000000 + 1 AS sc
          FROM x1r),
        x1 AS (SELECT tok, CAST(x // sc AS BIGINT) AS x
          FROM x1r CROSS JOIN sc1),
        x2 AS (SELECT am.ti AS tok, CAST(sum(aij * x1.x) AS BIGINT) AS x
          FROM am JOIN x1 ON am.tj = x1.tok GROUP BY am.ti),
        sc AS (SELECT CAST(max(x) AS BIGINT) // 1000000 + 1 AS sc FROM x2),
        x2s AS (SELECT tok, CAST(x // sc AS BIGINT) AS x
          FROM x2 CROSS JOIN sc),
        x3 AS (SELECT am.ti AS tok, CAST(sum(aij * x2s.x) AS BIGINT) AS x
          FROM am JOIN x2s ON am.tj = x2s.tok GROUP BY am.ti),
        m3 AS (SELECT CAST(max(x) AS BIGINT) AS m3 FROM x3)
        SELECT tok, x AS x3,
          CAST((x * 1000000) // m3 AS BIGINT) AS score_ppm
        FROM x3 CROSS JOIN m3
        ORDER BY score_ppm DESC, tok""")),

    // HITS HUBS & AUTHORITIES — Kleinberg's bipartite spectral pair
    // beside PageRank/eigen-centrality: over the distinct (customer,
    // part) purchase graph, a part's AUTHORITY is the summed hub weight
    // of its buyers and a customer's HUB score the summed authority of
    // their basket — broad buyers boost the parts they touch, widely-
    // bought parts boost their buyers. Two half-iterations (a¹ = Aᵀ1,
    // h¹ = A·a¹, rescale, a² = Aᵀh¹') in EXACT BIGINT arithmetic with
    // the q_eigen_centrality deterministic div-rescale as the overflow
    // guard; both score tables ppm-normalize by their max (integer
    // division) and report the top 20 per side. Shape: one distinct
    // hash-agg builds the edge frame; every matvec is an equi-join +
    // hash-agg on it (class A).
    QDef("q_hits_scores",
      (s, d) => {
        val edges = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint(true) // three matvec passes read it
        val a1 = edges.groupBy(col("p")).agg(count(lit(1)).as("a"))
        val h1 = edges.join(a1, "p").groupBy(col("c"))
          .agg(sum(col("a")).as("h"))
        val sc = h1.agg(max(col("h")).as("m"))
          .select(expr("m div 1000000 + 1").as("sc"))
        val h1s = h1.crossJoin(broadcast(sc))
          .select(col("c"), expr("h div sc").as("h"))
          .localCheckpoint(true) // hub output + the a² matvec
        val a2 = edges.join(h1s, "c").groupBy(col("p"))
          .agg(sum(col("h")).as("a"))
          .localCheckpoint(true) // max + the authority output
        val ma = a2.agg(max(col("a")).as("ma"))
        val mh = h1s.agg(max(col("h")).as("mh"))
        val auth = a2.crossJoin(broadcast(ma))
          .select(lit("authority").as("kind"), col("p").as("id"),
            expr("(a * 1000000) div ma").as("score_ppm"))
        val hub = h1s.crossJoin(broadcast(mh))
          .select(lit("hub").as("kind"), col("c").as("id"),
            expr("(h * 1000000) div mh").as("score_ppm"))
        auth.withColumn("rn", row_number().over(
            Window.partitionBy(col("kind"))
              .orderBy(col("score_ppm").desc, col("id"))))
          .unionAll(hub.withColumn("rn", row_number().over(
            Window.partitionBy(col("kind"))
              .orderBy(col("score_ppm").desc, col("id")))))
          .filter(col("rn") <= 20)
          .select(col("kind"), col("rn"), col("id"), col("score_ppm"))
          .orderBy(col("kind"), col("rn"))
      },
      Some("""WITH edges AS (SELECT DISTINCT o_custkey AS c,
            l_partkey AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a
          FROM edges GROUP BY p),
        h1 AS (SELECT c, CAST(sum(a) AS BIGINT) AS h
          FROM edges JOIN a1 USING (p) GROUP BY c),
        sc AS (SELECT CAST(max(h) AS BIGINT) // 1000000 + 1 AS sc FROM h1),
        h1s AS (SELECT c, CAST(h // sc AS BIGINT) AS h
          FROM h1 CROSS JOIN sc),
        a2 AS (SELECT p, CAST(sum(h) AS BIGINT) AS a
          FROM edges JOIN h1s USING (c) GROUP BY p),
        ma AS (SELECT CAST(max(a) AS BIGINT) AS ma FROM a2),
        mh AS (SELECT CAST(max(h) AS BIGINT) AS mh FROM h1s),
        both_ AS (
          SELECT 'authority' AS kind, p AS id,
            CAST((a * 1000000) // ma AS BIGINT) AS score_ppm
          FROM a2 CROSS JOIN ma
          UNION ALL
          SELECT 'hub', c, CAST((h * 1000000) // mh AS BIGINT)
          FROM h1s CROSS JOIN mh),
        rk AS (SELECT kind, id, score_ppm,
            CAST(row_number() OVER (PARTITION BY kind
              ORDER BY score_ppm DESC, id) AS INT) AS rn
          FROM both_)
        SELECT kind, rn, id, score_ppm FROM rk
        WHERE rn <= 20 ORDER BY kind, rn""")),

    // CALIBRATION TABLE + BRIER DECOMPOSITION — the probability-quality
    // readout beside q_auc_roc's pure ranking: the "model" scores each
    // doc with its tie-averaged n_chars percentile in exact ppm (the
    // Spearman rank map re-used as a monotone calibrated-ish scorer),
    // the positive class is English, and the decile reliability table
    // reports per-bin mean predicted vs observed ppm plus the exact
    // integer squared-error mass Σ(p_ppm − y·10⁶)² (global Brier·10¹²·n
    // = the sum over bins — no float anywhere; class A). Histogram-
    // prefix ranks as in q_auc_roc: one hash-agg + one bounded-domain
    // window, broadcast-joined back; never a corpus sort.
    QDef("q_calibration_brier",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"),
            col("n_chars").as("v"),
            (col("lang") === "en").cast("long").as("y"))
          .localCheckpoint(true) // rank histogram + the scored scan
        val wCum = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val hist = base.groupBy(col("v")).agg(count(lit(1)).as("m"))
          .withColumn("below", coalesce(sum(col("m")).over(wCum), lit(0L)))
        val tot = base.agg(count(lit(1)).as("n"))
        val scored = base.join(broadcast(hist), "v")
          .crossJoin(broadcast(tot))
          .select(col("y"),
            expr("((below * 2 + m) * 1000000) div (n * 2)").as("p_ppm"))
        scored
          .withColumn("bin", least(expr("p_ppm div 100000"), lit(9L)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_b"),
            expr("sum(p_ppm) div count(1)").as("mean_p_ppm"),
            expr("(sum(y) * 1000000) div count(1)").as("frac_pos_ppm"),
            sum((col("p_ppm") - col("y") * 1000000L) *
              (col("p_ppm") - col("y") * 1000000L)).as("sq_e12"))
          .select(col("bin"), col("n_b"), col("mean_p_ppm"),
            col("frac_pos_ppm"),
            (col("mean_p_ppm") - col("frac_pos_ppm")).as("gap_ppm"),
            col("sq_e12"))
          .orderBy(col("bin"))
      },
      Some("""WITH base AS (SELECT doc_id, n_chars AS v,
            CAST(lang = 'en' AS BIGINT) AS y FROM documents),
        hist AS (SELECT v, m,
            CAST(COALESCE(sum(m) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS m
                FROM base GROUP BY v)),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        scored AS (SELECT y,
            CAST(((below * 2 + m) * 1000000) // (n * 2) AS BIGINT) AS p_ppm
          FROM base JOIN hist USING (v) CROSS JOIN tot),
        binned AS (SELECT least(p_ppm // 100000, 9) AS bin, y, p_ppm
          FROM scored)
        SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_b,
          CAST(CAST(sum(p_ppm) AS BIGINT) // count(*) AS BIGINT)
            AS mean_p_ppm,
          CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS frac_pos_ppm,
          CAST(CAST(sum(p_ppm) AS BIGINT) // count(*)
            - (sum(y) * 1000000) // count(*) AS BIGINT) AS gap_ppm,
          CAST(sum((p_ppm - y * 1000000) * (p_ppm - y * 1000000))
            AS BIGINT) AS sq_e12
        FROM binned GROUP BY bin ORDER BY bin""")),

    // ISOTONIC (PAVA) CALIBRATION — the monotone recalibration step on
    // q_calibration_brier's decile table: the pool-adjacent-violators
    // solution computed by its MINIMAX characterization fitᵢ =
    // max_{j≤i} min_{k≥j} mean(frac_pos over bins j..k) (weighted by
    // bin counts) — proven ≡ PAVA (validated against an independent
    // imperative implementation over 200 random cases in-spec). The
    // interval means come from prefix sums over the ≤10-row bin frame,
    // so the triangle enumeration is a constant-size join at any corpus
    // scale; every mean is one exact IEEE division of identical BIGINTs
    // and min/max only SELECT among those identical doubles (class A +
    // exact-div).
    QDef("q_isotonic_calibration",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"),
            col("n_chars").as("v"),
            (col("lang") === "en").cast("long").as("y"))
          .localCheckpoint(true)
        val wCum = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val hist = base.groupBy(col("v")).agg(count(lit(1)).as("m"))
          .withColumn("below", coalesce(sum(col("m")).over(wCum), lit(0L)))
        val tot = base.agg(count(lit(1)).as("n"))
        val bins = base.join(broadcast(hist), "v")
          .crossJoin(broadcast(tot))
          .select(col("y"),
            least(expr(
              "(((below * 2 + m) * 1000000) div (n * 2)) div 100000"),
              lit(9L)).as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"))
          .localCheckpoint(true) // prefix frame + final join
        val wP = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = bins
          .withColumn("cw", sum(col("n_b")).over(wP))
          .withColumn("cp", sum(col("pos_b")).over(wP))
          .select(col("bin"), col("cw"), col("cp"))
          .localCheckpoint(true) // both sides of the interval cross
        // interval (j..k) means from prefix differences; j joins to the
        // prefix row j-1 (left join + coalesce 0 for j = first bin)
        val jSide = pre.select(col("bin").as("j"))
          .join(pre.select((col("bin") + 1).as("j"),
            col("cw").as("cwj"), col("cp").as("cpj")), Seq("j"), "left")
          .select(col("j"), coalesce(col("cwj"), lit(0L)).as("cwj"),
            coalesce(col("cpj"), lit(0L)).as("cpj"))
        val means = jSide.join(pre.select(col("bin").as("k"),
            col("cw").as("cwk"), col("cp").as("cpk")),
            col("k") >= col("j"))
          .select(col("j"), col("k"),
            (((col("cpk") - col("cpj")) * 1000000).cast("double") /
              (col("cwk") - col("cwj"))).as("mjk"))
        val minOverK = means.groupBy(col("j")).agg(min(col("mjk")).as("mn"))
        val fit = bins.select(col("bin"))
          .join(minOverK, col("j") <= col("bin"))
          .groupBy(col("bin")).agg(max(col("mn")).as("fit_ppm"))
        bins.join(fit, "bin")
          .select(col("bin"), col("n_b"),
            expr("(pos_b * 1000000) div n_b").as("frac_pos_ppm"),
            col("fit_ppm"))
          .orderBy(col("bin"))
      },
      Some("""WITH base AS (SELECT doc_id, n_chars AS v,
            CAST(lang = 'en' AS BIGINT) AS y FROM documents),
        hist AS (SELECT v, m,
            CAST(COALESCE(sum(m) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
          FROM (SELECT v, CAST(count(*) AS BIGINT) AS m
                FROM base GROUP BY v)),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        bins AS (SELECT least((((below * 2 + m) * 1000000) // (n * 2))
              // 100000, 9) AS bin,
            CAST(count(*) AS BIGINT) AS n_b,
            CAST(sum(y) AS BIGINT) AS pos_b
          FROM base JOIN hist USING (v) CROSS JOIN tot
          GROUP BY 1),
        pre AS (SELECT bin,
            CAST(sum(n_b) OVER (ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
            CAST(sum(pos_b) OVER (ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
          FROM bins),
        js AS (SELECT p.bin AS j, COALESCE(q.cw, 0) AS cwj,
            COALESCE(q.cp, 0) AS cpj
          FROM pre p LEFT JOIN pre q ON q.bin = p.bin - 1),
        means AS (SELECT j, k.bin AS k,
            CAST((k.cp - cpj) * 1000000 AS DOUBLE) / (k.cw - cwj) AS mjk
          FROM js JOIN pre k ON k.bin >= j),
        mn AS (SELECT j, min(mjk) AS mn FROM means GROUP BY j),
        fit AS (SELECT b.bin, max(mn.mn) AS fit_ppm
          FROM bins b JOIN mn ON mn.j <= b.bin GROUP BY b.bin)
        SELECT b.bin, b.n_b,
          CAST((b.pos_b * 1000000) // b.n_b AS BIGINT) AS frac_pos_ppm,
          f.fit_ppm
        FROM bins b JOIN fit f ON b.bin = f.bin
        ORDER BY b.bin""")),


    // ROC AUC — the threshold-free binary-classifier readout beside the
    // chi²/KS battery and the q_lang_confusion matrix: score = n_chars,
    // positive class = English documents (a deliberately weak scorer;
    // the operator VALUE is the exact tie-aware rank algebra). With
    // average ranks over ties, AUC = [Σ_s pos(s)·negBelow(s) +
    // pos(s)·neg(s)/2] / (n_pos·n_neg); clearing ×2 keeps the numerator
    // integral (auc_num2). Computed entirely off the (score → pos, neg)
    // COUNT HISTOGRAM — one map-side-combinable hash-agg, then one
    // window over the bounded distinct-score frame (the
    // q_winsorize_stats histogram identity: never a per-row sort, the
    // plan scales with the score DOMAIN, not the corpus). Final AUC is
    // one IEEE divide over exact integers (class A + exact-div).
    QDef("q_auc_roc",
      (s, d) => {
        val hist = documents(s, d)
          .select(col("n_chars").as("score"),
            (col("lang") === "en").cast("long").as("pos"))
          .groupBy(col("score"))
          .agg(sum(col("pos")).as("p"),
            (count(lit(1)) - sum(col("pos"))).as("q"))
        val w = Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        hist
          .withColumn("qb", coalesce(sum(col("q")).over(w), lit(0L)))
          .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
            sum(col("p") * (col("qb") * 2 + col("q"))).as("auc_num2"))
          .select(col("n_pos"), col("n_neg"), col("auc_num2"),
            round(col("auc_num2").cast("double") /
              (col("n_pos") * col("n_neg") * 2), 6).as("auc"))
      },
      Some("""WITH hist AS (SELECT n_chars AS score,
            CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS p,
            CAST(count(*) - sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS q
          FROM documents GROUP BY 1),
        r AS (SELECT p, q,
            CAST(COALESCE(sum(q) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS qb
          FROM hist)
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
          CAST(sum(q) AS BIGINT) AS n_neg,
          CAST(sum(p * (qb * 2 + q)) AS BIGINT) AS auc_num2,
          round(CAST(CAST(sum(p * (qb * 2 + q)) AS BIGINT) AS DOUBLE)
            / (CAST(sum(p) AS BIGINT) * CAST(sum(q) AS BIGINT) * 2), 6)
            AS auc
        FROM r""")),

    // PRECISION-RECALL AUC / AVERAGE PRECISION (r14 wave 6) — the
    // imbalanced-class companion of q_auc_roc (ROC-AUC stays high when
    // negatives dominate; AP collapses — the metric retrieval and
    // rare-class filters actually report): the same length-as-score
    // ranking, AP = Σ_groups pₜ·(cumPₜ/(cumPₜ+cumNₜ))/n_pos with whole
    // tie-groups as single steps (the deterministic tie rule — no
    // within-group order exists), every term ONE integer division over
    // exact cumulative counts, DECIMAL(38)/HUGEINT-widened (p·cumP·10⁶
    // wraps Long past ~10⁹ docs). The random-ranker baseline
    // (prevalence) ships beside it — AP is only readable against it.
    // Scale: one map-side score histogram; the cumulative window runs
    // over the bounded distinct-score frame (the q_auc_roc shape).
    QDef("q_auc_pr",
      (s, d) => {
        val hist = documents(s, d)
          .select(col("n_chars").as("score"),
            (col("lang") === "en").cast("long").as("pos"))
          .groupBy(col("score"))
          .agg(sum(col("pos")).as("p"),
            (count(lit(1)) - sum(col("pos"))).as("q"))
        val w = Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        hist
          .withColumn("cp", sum(col("p")).over(w))
          .withColumn("cn", sum(col("q")).over(w))
          .withColumn("term",
            expr("""CAST(CAST(p AS DECIMAL(38,0)) * cp * 1000000
              div (cp + cn) AS BIGINT)"""))
          .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
            sum(col("term")).as("tsum"))
          .select(col("n_pos"), col("n_neg"),
            expr("tsum div n_pos").as("ap_ppm"),
            expr("(n_pos * 1000000) div (n_pos + n_neg)").as("prev_ppm"))
      },
      Some("""WITH hist AS (SELECT n_chars AS score,
            CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS p,
            CAST(count(*) - sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT)
              AS q
          FROM documents GROUP BY 1),
        r AS (SELECT p, q,
            CAST(sum(p) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cp,
            CAST(sum(q) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cn
          FROM hist),
        t AS (SELECT p, q,
            CAST(CAST(p AS HUGEINT) * cp * 1000000 // (cp + cn)
              AS BIGINT) AS term
          FROM r)
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
          CAST(sum(q) AS BIGINT) AS n_neg,
          CAST(sum(term) // sum(p) AS BIGINT) AS ap_ppm,
          CAST(sum(p) * 1000000 // (sum(p) + sum(q)) AS BIGINT)
            AS prev_ppm
        FROM t""")),

    // RANK-BIASED OVERLAP (r14 wave 6) — do two RANKERS agree, without
    // relevance labels (Webber et al. 2010; the metric for comparing a
    // cheap ranker against an expensive one before swapping it in):
    // RBO(p = 0.9, depth 50) between the by-chars and the by-tokens
    // document rankings. The 50 geometric weights (1−p)p^(d−1) are
    // BUILDER-TIME e12 literals embedded in both engine texts (the
    // Benford/Poisson constant-table pattern — no per-engine pow), the
    // per-depth overlap counts items whose max(rank_a, rank_b) ≤ d
    // (exact integers), and each depth contributes ONE integer
    // division (w·overlap)/(d·10⁶). Both top-50s come from TakeOrdered
    // selection with row_number only on the 50-row result — never a
    // corpus-wide rank. Scale: two top-k selections + a 50×50 bounded
    // grid.
    QDef("q_rbo_rankings",
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
          .select(col("doc_id"), col("n_chars").as("sa"),
            size(filter(split(col("text"), " "), t => t =!= ""))
              .cast("long").as("sb"))
          .localCheckpoint(true) // both top-50 selections
        def top(score: String, rank: String) =
          docs.orderBy(col(score).desc, col("doc_id")).limit(50)
            .select(col("doc_id"), row_number().over(
              Window.orderBy(col(score).desc, col("doc_id")))
              .cast("long").as(rank))
        val m = top("sa", "ra").join(top("sb", "rb"), Seq("doc_id"))
          .select(greatest(col("ra"), col("rb")).as("m"))
        val wts = RboW.table.toDF("dd", "w_e12")
        wts.join(broadcast(m), col("m") <= col("dd"), "left")
          .groupBy(col("dd"), col("w_e12"))
          .agg(sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("ov"))
          .agg(count(lit(1)).as("k"), max(col("ov")).as("n_common"),
            sum(expr("(w_e12 * ov) div (dd * 1000000)")).as("rbo_ppm"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, n_chars AS sa,
            CAST(len(list_filter(string_split(text, ' '),
              t -> t <> '')) AS BIGINT) AS sb
          FROM documents),
        ta AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sa DESC,
            doc_id) AS BIGINT) AS ra FROM docs
          ORDER BY sa DESC, doc_id LIMIT 50),
        tb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sb DESC,
            doc_id) AS BIGINT) AS rb FROM docs
          ORDER BY sb DESC, doc_id LIMIT 50),
        m AS (SELECT greatest(ra, rb) AS m
          FROM ta JOIN tb USING (doc_id)),
        w AS (SELECT CAST(dd AS BIGINT) AS dd,
            CAST(w_e12 AS BIGINT) AS w_e12
          FROM (VALUES ${RboW.sqlValues}) t(dd, w_e12)),
        ov AS (SELECT dd, w_e12, CAST(count(m.m) AS BIGINT) AS ov
          FROM w LEFT JOIN m ON m.m <= w.dd GROUP BY 1, 2)
        SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(max(ov) AS BIGINT) AS n_common,
          CAST(sum((w_e12 * ov) // (dd * 1000000)) AS BIGINT) AS rbo_ppm
        FROM ov""")),

    // SPEARMAN RANK CORRELATION between document length (n_chars) and
    // token count — the monotone-association twin of the Pearson-style
    // q_agg_regression: rank-transform both sides with tie-averaged
    // ranks, then Pearson on the ranks. Ranks come from the same
    // bounded value-histogram prefix (2·cntBelow + cntEq + 1 = twice
    // the average rank, so everything stays integral), broadcast-joined
    // back onto the rows; Σ of doubled avg ranks is exactly n(n+1), so
    // the centering constant (n+1) is an INTEGER and the three moment
    // sums (Σdxdy, Σdx², Σdy²) are exact BIGINTs (|d| ≤ 2n ⇒ the sums
    // stay under 2⁶³ through n ≈ 10⁶; beyond that the sums move to
    // DECIMAL — noted in TUNING). ρ = sxy/(√sxx·√syy): BIGINT→double
    // conversion, sqrt, mult, div are each correctly-rounded IEEE ops
    // over identical inputs, rounded once to 1e-6 (class C).
    QDef("q_spearman_corr",
      (s, d) => {
        val base = documents(s, d).select(col("doc_id"),
            col("n_chars").as("x"),
            size(filter(split(col("text"), " "), t => t =!= ""))
              .cast("long").as("y"))
          .localCheckpoint(true) // both rank histograms + the joined scan
        def rankMap(c: String): org.apache.spark.sql.DataFrame = {
          val w = Window.orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, -1)
          base.groupBy(col(c)).agg(count(lit(1)).as("m"))
            .withColumn("below", coalesce(sum(col("m")).over(w), lit(0L)))
            .select(col(c), (col("below") * 2 + col("m") + 1).as(s"r2$c"))
        }
        val tot = base.agg(count(lit(1)).as("n"))
        base
          .join(broadcast(rankMap("x")), "x")
          .join(broadcast(rankMap("y")), "y")
          .crossJoin(broadcast(tot))
          .select(col("n"), (col("r2x") - col("n") - 1).as("dx"),
            (col("r2y") - col("n") - 1).as("dy"))
          .groupBy(col("n"))
          .agg(sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"))
          .select(col("n"), col("sxy"), col("sxx"), col("syy"),
            round(col("sxy").cast("double") /
              (sqrt(col("sxx").cast("double")) *
                sqrt(col("syy").cast("double"))), 6).as("rho"))
      },
      Some("""WITH base AS (SELECT doc_id, n_chars AS x,
            CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS y
          FROM documents),
        rx AS (SELECT x, CAST(2 * COALESCE(sum(m) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + m + 1 AS BIGINT) AS r2x
          FROM (SELECT x, CAST(count(*) AS BIGINT) AS m
                FROM base GROUP BY x)),
        ry AS (SELECT y, CAST(2 * COALESCE(sum(m) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + m + 1 AS BIGINT) AS r2y
          FROM (SELECT y, CAST(count(*) AS BIGINT) AS m
                FROM base GROUP BY y)),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        j AS (SELECT n, r2x - n - 1 AS dx, r2y - n - 1 AS dy
          FROM base JOIN rx USING (x) JOIN ry USING (y) CROSS JOIN tot)
        SELECT n, CAST(sum(dx * dy) AS BIGINT) AS sxy,
          CAST(sum(dx * dx) AS BIGINT) AS sxx,
          CAST(sum(dy * dy) AS BIGINT) AS syy,
          round(CAST(CAST(sum(dx * dy) AS BIGINT) AS DOUBLE) /
            (sqrt(CAST(CAST(sum(dx * dx) AS BIGINT) AS DOUBLE)) *
             sqrt(CAST(CAST(sum(dy * dy) AS BIGINT) AS DOUBLE))), 6) AS rho
        FROM j GROUP BY n""")),

    // SIMPSON DIVERSITY (r14) — the concentration view of per-source
    // language mix beside the entropy view (q_mutual_information's
    // marginals are corpus-global; this is the per-source scorecard a
    // mixture curator reads): λ = Σnᵢ(nᵢ−1)/(N(N−1)) is the exact
    // probability two draws without replacement share a language —
    // ENTIRELY integer (class A): one ppm division per source over
    // exact counts; the inverse (effective language count, e2) and
    // Berger–Parker dominance (max share, ppm) ride the same 1-row-
    // per-source frame. Scale: one (source, lang) map-side agg; the
    // grid is |sources| × |langs| bounded at any corpus size.
    QDef("q_simpson_diversity",
      (s, d) => {
        documents(s, d).groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n"),
            sum(col("c") * (col("c") - 1)).as("ds"),
            max(col("c")).as("cmax"),
            count(lit(1)).as("n_langs"))
          .select(col("source"), col("n"), col("n_langs"),
            expr("(ds * 1000000) div greatest(n * (n - 1), 1)")
              .as("simpson_ppm"),
            expr("(n * (n - 1) * 100) div greatest(ds, 1)")
              .as("inv_simpson_e2"),
            expr("(cmax * 1000000) div n").as("berger_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH cl AS (SELECT source, lang,
            CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(c * (c - 1)) AS BIGINT) AS ds,
            CAST(max(c) AS BIGINT) AS cmax,
            CAST(count(*) AS BIGINT) AS n_langs
          FROM cl GROUP BY 1)
        SELECT source, n, n_langs,
          (ds * 1000000) // greatest(n * (n - 1), 1) AS simpson_ppm,
          (n * (n - 1) * 100) // greatest(ds, 1) AS inv_simpson_e2,
          (cmax * 1000000) // n AS berger_ppm
        FROM st ORDER BY source""")),

    // CHAO1 RICHNESS (r14) — how much vocabulary has the corpus NOT
    // seen yet? The capture–recapture estimator (Chao 1984) over the
    // per-lang word histogram: singletons f₁ and doubletons f₂ bound
    // the unseen mass, Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)) (the bias-
    // corrected form — defined even at f₂ = 0), plus the Good–Turing
    // sample coverage 1 − f₁/N that q_good_turing's missing-mass row
    // reads corpus-globally. ENTIRELY integer (class A): one cleared
    // e2 division per language. The corpus-scale stage is the single
    // (lang, word) hash-agg — map-side combinable; everything after
    // lives on the |langs| frame.
    QDef("q_chao1",
      (s, d) => {
        documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("r"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("s_obs"), sum(col("r")).as("n_tok"),
            sum((col("r") === 1L).cast("long")).as("f1"),
            sum((col("r") === 2L).cast("long")).as("f2"))
          .select(col("lang"), col("s_obs"), col("n_tok"), col("f1"),
            col("f2"),
            expr("s_obs * 100 + (f1 * (f1 - 1) * 100) div (2 * (f2 + 1))")
              .as("chao1_e2"),
            expr("1000000 - (f1 * 1000000) div greatest(n_tok, 1)")
              .as("coverage_ppm"))
          .orderBy(col("lang"))
      },
      Some("""WITH h AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS r
          FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> '' GROUP BY 1, 2),
        st AS (SELECT lang, CAST(count(*) AS BIGINT) AS s_obs,
            CAST(sum(r) AS BIGINT) AS n_tok,
            CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
            CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          FROM h GROUP BY 1)
        SELECT lang, s_obs, n_tok, f1, f2,
          s_obs * 100 + (f1 * (f1 - 1) * 100) // (2 * (f2 + 1))
            AS chao1_e2,
          1000000 - (f1 * 1000000) // greatest(n_tok, 1) AS coverage_ppm
        FROM st ORDER BY lang""")),

    // HELLINGER DISTANCE MATRIX (r14) — the bounded-metric drift view
    // beside q_js_divergence (JS is an entropy divergence; Hellinger is
    // a true metric with √ geometry, the one mixture-weight optimizers
    // prefer): per source pair, the Bhattacharyya coefficient
    // BC = Σ√(pᵢqᵢ) over language distributions and H² = 1 − BC. Each
    // √(pᵢqᵢ) = √(cₐ·c_b/(Nₐ·N_b)) is ONE sqrt over exact integer
    // products PRE-ROUNDED to the e6 grid per cell, then summed as
    // BIGINTs (the 4dp-quantized ln discipline applied to sqrt), so
    // both engines sum identical integers. Missing (source, lang)
    // cells contribute exactly 0 — the inner join drops them, which IS
    // the √(p·0) term. Scale: one (source, lang) map-side agg; the
    // pair × lang grid is bounded.
    QDef("q_hellinger_matrix",
      (s, d) => {
        val cl = documents(s, d).groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
        val tot = cl.groupBy(col("source")).agg(sum(col("c")).as("n"))
        val base = cl.join(tot, "source").localCheckpoint(true)
        val a = base.select(col("source").as("src_a"), col("lang"),
          col("c").as("ca"), col("n").as("na"))
        val b = base.select(col("source").as("src_b"), col("lang"),
          col("c").as("cb"), col("n").as("nb"))
        a.join(b, Seq("lang")).filter(col("src_a") < col("src_b"))
          .withColumn("term_e6",
            expr("""CAST(round(sqrt(CAST(ca * cb AS DOUBLE)
              / CAST(na * nb AS DOUBLE)) * 1000000, 0) AS BIGINT)"""))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_common"), sum(col("term_e6")).as("bc_e6"))
          .select(col("src_a"), col("src_b"), col("n_common"),
            col("bc_e6"), expr("greatest(1000000 - bc_e6, 0)").as("h2_e6"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH cl AS (SELECT source, lang,
            CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
          FROM cl GROUP BY 1),
        base AS (SELECT cl.source, cl.lang, cl.c, tot.n
          FROM cl JOIN tot USING (source)),
        p AS (SELECT a.source AS src_a, b.source AS src_b,
            CAST(round(sqrt(CAST(a.c * b.c AS DOUBLE)
              / CAST(a.n * b.n AS DOUBLE)) * 1000000, 0) AS BIGINT)
              AS term_e6
          FROM base a JOIN base b ON a.lang = b.lang
            AND a.source < b.source)
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_common,
          CAST(sum(term_e6) AS BIGINT) AS bc_e6,
          CAST(greatest(1000000 - sum(term_e6), 0) AS BIGINT) AS h2_e6
        FROM p GROUP BY 1, 2 ORDER BY src_a, src_b"""))
  )

  /** One q_graph_kcore peel round: keep the (ia, ib) edges whose ends
    * both have degree ≥ 3. `keep` is NOT checkpointed (r16 opt): its two
    * semi-join probes build from the same canonical degree-agg exchange,
    * which Spark reuses at runtime; an eager checkpoint was one extra
    * action per round for work that already ran once. */
  private[graft] def kcoreRound(edges: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val keep = edges.select(col("ia").as("u"))
      .unionAll(edges.select(col("ib").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 3).select(col("u"))
    edges.join(keep.select(col("u").as("ia")), Seq("ia"), "left_semi")
      .join(keep.select(col("u").as("ib")), Seq("ib"), "left_semi")
  }

  /** (user_id, event-day) projection shared by the HLL cumulative
    * family — day = datediff from the 2024-01-01 epoch, the same
    * integer the streaming twin's floorDiv key computes under the UTC
    * session. */
  private def hllEventDays(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    events(s, d).select(col("user_id"),
      datediff(to_date(col("ts")),
        lit("2024-01-01").cast("date")).cast("long").as("day"))

  /** Downstream of the HLL cumulative time series, shared VERBATIM by
    * q_hll_cum_users (per-day hll_sketch_agg) and q_hll_stream_twin
    * (the StatefulProcessor's emitted day sketches): triangular
    * cumulative union + estimate over the ≤366 day sketches, exact
    * first-seen audit, ±5% cross-multiplied band flag. */
  private def hllCumFrame(e: org.apache.spark.sql.DataFrame,
      wk0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wk = wk0.localCheckpoint(true) // feeds both sides of the triangular join
    val est = wk.as("a").join(wk.as("b"),
        col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("b.sk"))).as("est_cum"))
    val newPerDay = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk.select(col("day"))
      .join(newPerDay, col("day") === col("fd"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("exact_cum", sum(col("n_new")).over(w))
      .join(est, Seq("day"))
      .select(col("day"), col("n_new"), col("exact_cum"),
        (abs(col("est_cum") - col("exact_cum")) * 20 <= col("exact_cum"))
          .cast("long").as("within_band"))
      .orderBy(col("day"))
  }

  /** Shared oracle of the HLL cumulative pair: the exact first-seen
    * audit columns plus the band flag (the estimate side is class-D —
    * the flag is the declared contract, re-measured in-spec). */
  private lazy val hllCumSql: String =
    """WITH e AS (SELECT user_id,
            date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
          FROM events),
        wk AS (SELECT DISTINCT day FROM e),
        fst AS (SELECT user_id, min(day) AS fd FROM e GROUP BY user_id),
        npw AS (SELECT fd, CAST(count(*) AS BIGINT) AS n_new
          FROM fst GROUP BY fd)
        SELECT wk.day, COALESCE(npw.n_new, 0) AS n_new,
          CAST(sum(COALESCE(npw.n_new, 0)) OVER (ORDER BY wk.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS exact_cum,
          CAST(1 AS BIGINT) AS within_band
        FROM wk LEFT JOIN npw ON wk.day = npw.fd
        ORDER BY day"""

  /** Benford first-digit expected masses round(log₁₀(1 + 1/d)·10⁶),
    * d = 1..9 — evaluated ONCE at builder time and embedded as integer
    * literals in both engine plans (the NdcgW pattern), so no
    * transcendental ever runs per-engine. */
  private[queries] lazy val BenfordPpm: Seq[Long] =
    (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** Two synchronous majority-label-propagation rounds over the shared
    * dup graph (Jaccard ≥ 0.2, memoized) — shared VERBATIM by
    * q_label_prop and the q_graph_modularity certificate so the
    * partition and its quality score cannot drift. Ties → smallest
    * label; isolated docs keep their seed `source`. Returns (the
    * undirected edge frame (id_a, id_b), the converged (doc_id, lbl)
    * frame). */
  private def labelProp2(s: org.apache.spark.sql.SparkSession,
      d: String, sampled: Boolean = false):
      (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    // sampled: the deterministic 1/4 doc stratum (first md5 nibble ≤ 3
    // ⇒ 1/16 of pairs) — the established audit cadence; the stratum's
    // edge frame memoizes under its own corpus key
    val base = documents(s, d)
    val dset = if (sampled)
      base.filter(Llm.docSampleNibble(col("doc_id")) <= 3) else base
    val docs = dset.select(col("doc_id"), col("source").as("lbl"))
    val e0 = graft.llm.TextDedup
      .jaccardEdgesShared(dset, "doc_id", "text",
        threshold = 0.2, corpusKey = if (sampled) s"$d#nib3" else d)
      .select(col("id_a"), col("id_b"))
    val edges = e0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(e0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true) // read by both propagation rounds
    var labels = docs.localCheckpoint(true)
    for (_ <- 1 to 2) {
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("n").desc, col("nl"))
      val newl = edges
        .join(labels.select(col("doc_id").as("src"),
          col("lbl").as("nl")), "src")
        .groupBy(col("dst"), col("nl")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("doc_id"), col("nl"))
      labels = labels.join(newl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nl"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
    }
    (e0, labels)
  }

  /** DuckDB mirror of [[labelProp2]] (append after [[Llm.dupEdgesCte]]):
    * CTEs edges (both orientations), l0 (seed labels), l1/l2 (the two
    * majority rounds with the identical (count desc, label) tie order).
    * Shared by the q_label_prop and q_graph_modularity oracles. */
  private def labelPropCtesW(where: String): String = {
    def round_(k: Int): String = s"""
        nl$k AS (SELECT dst AS doc_id, nl FROM (
            SELECT e.dst, l.lbl AS nl, count(*) AS n,
              row_number() OVER (PARTITION BY e.dst
                ORDER BY count(*) DESC, l.lbl) AS rn
            FROM edges e JOIN l${k - 1} l ON e.src = l.doc_id
            GROUP BY e.dst, l.lbl) WHERE rn = 1),
        l$k AS (SELECT d.doc_id, COALESCE(nl.nl, d.lbl) AS lbl
          FROM l${k - 1} d LEFT JOIN nl$k nl ON d.doc_id = nl.doc_id)"""
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM edges0
          UNION ALL SELECT id_b, id_a FROM edges0),
        l0 AS (SELECT doc_id, source AS lbl FROM documents$where),
        ${(1 to 2).map(round_).mkString(",")}"""
  }
  private lazy val labelPropCtes: String = labelPropCtesW("")
}

/** RBO geometric weight table (q_rbo_rankings): (1−p)·p^(d−1) on the
  * e12 grid for p = 0.9, d = 1..50 — evaluated ONCE at builder time
  * and embedded as BIGINT literals in BOTH engine plans (the
  * Benford/Poisson constant-table pattern), so neither engine ever
  * calls pow. */
private[graft] object RboW {
  private val p = 0.9
  val table: Seq[(Long, Long)] = (1 to 50).map(dd =>
    (dd.toLong, math.round((1 - p) * math.pow(p, dd - 1) * 1e12)))
  val sqlValues: String =
    table.map { case (dd, w) => s"($dd, $w)" }.mkString(", ")
}
