package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.KeyCompaction
import graft.tables.Tables._
import Q._

/** Training-data curation operators, wave 2: the pipeline stages between
  * "raw corpus" and "training shards" that round 1-6 didn't yet declare —
  * sequence packing, heuristic rule filtering (Gopher/C4 style), PII
  * scrubbing, mixture re-weighting, DSIR-style importance weights, and
  * winnowing fingerprints (the MOSS scheme). Reference scope per
  * SURVEY.md §2.C: the reference engine (audienceproject/kinesis-writer)
  * has no analytics surface, so these derive from the published pipeline
  * literature (Gopher/MassiveText rules, CCNet, DSIR, Schleimer et al.'s
  * winnowing) re-expressed as Catalyst-friendly declarative plans.
  *
  * Determinism: every compared value is integer arithmetic, exact
  * DECIMAL sums, or pre-rounded ln terms (TUNING.md §Cross-engine
  * determinism mechanisms) — nothing relies on float ordering.
  */
object Curation {

  private def tokens(c: org.apache.spark.sql.Column) =
    filter(split(c, " "), t => t =!= "")
  private val tokensSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  private val bpeRounds = 3

  /** The Gopher-rule verdict frame (doc_id, n_toks, nsp, top_freq,
    * r_wc, r_mwl, r_stop, r_dom, pass) — SHARED by q_gopher_rules and
    * q_filter_ablation (r13) so the gate and the audit over it cannot
    * drift. */
  private def gopherFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = documents(s, d)
    .select(col("doc_id"), tokens(col("text")).as("t"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("nsp"))
    .select(col("doc_id"), col("nsp"),
      size(col("t")).cast("long").as("n_toks"),
      expr("""CAST(array_max(transform(array_distinct(t),
        w -> size(filter(t, x -> x = w)))) AS BIGINT)""").as("top_freq"),
      (array_contains(col("t"), "the") || array_contains(col("t"), "a"))
        .cast("long").as("r_stop"))
    .select(col("doc_id"), col("n_toks"), col("nsp"), col("top_freq"),
      (col("n_toks") >= 30 && col("n_toks") <= 1000).cast("long").as("r_wc"),
      (col("nsp") >= col("n_toks") * 3 && col("nsp") <= col("n_toks") * 10)
        .cast("long").as("r_mwl"),
      col("r_stop"),
      (col("top_freq") * 5 <= col("n_toks")).cast("long").as("r_dom"))
    .withColumn("pass",
      (col("r_wc") === 1 && col("r_mwl") === 1 && col("r_stop") === 1 &&
        col("r_dom") === 1).cast("long"))

  /** Winnowing fingerprint frame (Schleimer et al.) shared by
    * q_winnowing and q_dupspan_mass — ONE definition of the k=8-char
    * rolling-Horner-hash (mod 1e9+7), w=4 window-minimum, per-doc
    * distinct pipeline, so the fingerprint table and the span-mass
    * score cannot drift. The k-gram hash is the FLATTENED Horner sum:
    * Σ c_{i+j}·31^{7-j} fits a long (≤ 255·Σ31^j ≈ 7.2e12), and one
    * pmod at the end is congruent to the oracle's per-step
    * (acc·31+c) mod M — identical values, but element_at instead of an
    * aggregate(slice(...)) that would allocate a fresh 8-element array
    * per position (3.5 s → ~1 s at sf0.1 for the same output). Any
    * shared substring of ≥ k+w−1 = 11 chars yields a shared
    * fingerprint; docs shorter than 11 chars are excluded by both
    * engines (declared semantics).
    */
  private def winnowFps(s: org.apache.spark.sql.SparkSession, d: String):
      org.apache.spark.sql.DataFrame = {
    val horner = (1 to 8).map(j =>
        s"element_at(codes, i + ${j - 1}) * ${math.pow(31, 8 - j).toLong}L")
      .mkString(" + ")
    documents(s, d)
      .filter(length(col("text")) >= 11)
      .select(col("doc_id"), expr(
        """transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))""")
        .as("codes"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, size(codes) - 7),
             i -> pmod($horner, 1000000007L))""")
        .as("hs"))
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(sequence(1, size(hs) - 3),
             j -> least(element_at(hs, j), element_at(hs, j + 1),
                        element_at(hs, j + 2), element_at(hs, j + 3)))""")))
        .as("fp"))
  }

  /** DuckDB mirror of [[winnowFps]] — `sel` is (doc_id, fp). */
  private val winnowCte: String = """codes AS (SELECT doc_id,
            list_transform(string_split(text, ''),
              ch -> CAST(ascii(ch) AS BIGINT)) AS codes
          FROM documents WHERE length(text) >= 11),
        hs AS (SELECT doc_id,
            list_transform(range(1, len(codes) - 7 + 1),
              i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                     codes[i:i+7]),
                   (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
          FROM codes),
        sel AS (SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(hs) - 3 + 1),
              j -> list_min(hs[j:j+3])))) AS fp
          FROM hs)"""

  /** Knuth-hash train bucket shared with q_split_assign (doc_id *
    * 2654435761 mod 2³² mod 100 < 80): the tokenizer trains on the 80%
    * train split and is APPLIED to the held-out 20% by q_bpe_tokenize,
    * composable with the declared split assignment. */
  private def bpeTrainPred =
    pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) % 100 < 80
  private val bpeTrainPredSql =
    "(doc_id * 2654435761) % 4294967296 % 100 < 80"

  /** Held-out NB confusion frame (true_lang, pred_lang, n_docs,
    * share_ppm) SHARED by q_nb_quality and q_dro_weights (r13) so the
    * classifier gate and the DRO reweighting read the identical model.
    */
  private def nbConfusion(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
        val docs = documents(s, d)
        val tr = docs.filter(bpeTrainPred)
        val ho = docs.filter(!bpeTrainPred)
        val trTok = tr.select(col("lang"),
            explode(tokens(col("text"))).as("tok"))
          .localCheckpoint(true) // c_lt, n_l and V all read it
        val clt = trTok.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val nl = trTok.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val v = trTok.select(col("tok")).distinct()
        val nv = v.agg(count(lit(1)).as("nv"))
        val langs = tr.select(col("lang")).distinct()
        val sc = v.crossJoin(broadcast(langs))
          .join(clt, Seq("tok", "lang"), "left")
          .join(broadcast(nl), "lang")
          .crossJoin(broadcast(nv))
          .select(col("tok"), col("lang"),
            expr("CAST(round(ln((COALESCE(c, 0) + 1.0) / (n + nv))" +
              " * 1000000, 0) AS BIGINT)").as("lp"))
        val oov = langs.join(nl, "lang").crossJoin(nv)
          .select(col("lang"),
            expr("CAST(round(ln(1.0 / (n + nv)) * 1000000, 0) AS BIGINT)")
              .as("lp_oov"))
        val prior = tr.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
          .crossJoin(tr.agg(count(lit(1)).as("dd")))
          .select(col("lang"),
            expr("CAST(round(ln(CAST(dl AS DOUBLE) / dd) * 1000000, 0)" +
              " AS BIGINT)").as("lp_pri"))
        val hoTok = ho.select(col("doc_id"), col("lang").as("true_lang"),
            explode(tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("true_lang"), col("tok"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // scoring join + anti-join + doc list
        val inv = hoTok.join(sc, "tok")
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("cnt") * col("lp")).as("s_in"))
        val unseen = hoTok.join(v, Seq("tok"), "left_anti")
          .groupBy(col("doc_id")).agg(sum(col("cnt")).as("u"))
        val scored = hoTok.select(col("doc_id"), col("true_lang")).distinct()
          .crossJoin(broadcast(langs))
          .join(inv, Seq("doc_id", "lang"), "left")
          .join(broadcast(prior), "lang")
          .join(broadcast(oov), "lang")
          .join(unseen, Seq("doc_id"), "left")
          .select(col("doc_id"), col("true_lang"), col("lang"),
            (coalesce(col("s_in"), lit(0L)) + col("lp_pri")
              + coalesce(col("u"), lit(0L)) * col("lp_oov")).as("score"))
        val pred = scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("lang"))))
          .filter(col("rn") === 1)
          // one row per held-out doc, read TWICE below (confusion cells +
          // the nho total): un-checkpointed, the scoring join + argmax
          // window ran once per branch (guide §1.2 step 1)
          .localCheckpoint(true)
        pred.groupBy(col("true_lang"), col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(pred.agg(count(lit(1)).as("nho"))))
          .select(col("true_lang"), col("lang").as("pred_lang"),
            col("n_docs"), expr("n_docs * 1000000 div nho").as("share_ppm"))
          
  }

  /** Oracle half of [[nbConfusion]] — a full SELECT without ORDER BY;
    * embed as a CTE body or append the ordering. */
  private def nbConfusionSql: String = s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
          WHERE $bpeTrainPredSql),
        ho AS (SELECT doc_id, lang, text FROM documents
          WHERE NOT ($bpeTrainPredSql)),
        trtok AS (SELECT lang, unnest(toks) AS tok
          FROM (SELECT lang, $tokensSql AS toks FROM tr)),
        clt AS (SELECT lang, tok, count(*) AS c FROM trtok GROUP BY 1, 2),
        nl AS (SELECT lang, count(*) AS n FROM trtok GROUP BY 1),
        v AS (SELECT DISTINCT tok FROM trtok),
        nv AS (SELECT count(*) AS nv FROM v),
        langs AS (SELECT DISTINCT lang FROM tr),
        sc AS (SELECT v.tok, l.lang,
            CAST(round(ln((COALESCE(c.c, 0) + 1.0) / (nl.n + nv.nv))
              * 1000000, 0) AS BIGINT) AS lp
          FROM v CROSS JOIN langs l
          JOIN nl ON nl.lang = l.lang CROSS JOIN nv
          LEFT JOIN clt c ON c.tok = v.tok AND c.lang = l.lang),
        oov AS (SELECT l.lang,
            CAST(round(ln(1.0 / (nl.n + nv.nv)) * 1000000, 0) AS BIGINT)
              AS lp_oov
          FROM langs l JOIN nl ON nl.lang = l.lang CROSS JOIN nv),
        pri AS (SELECT lang,
            CAST(round(ln(CAST(count(*) AS DOUBLE)
              / (SELECT count(*) FROM tr)) * 1000000, 0) AS BIGINT)
              AS lp_pri
          FROM tr GROUP BY lang),
        hotok AS (SELECT doc_id, true_lang, tok,
            CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT doc_id, lang AS true_lang, unnest(toks) AS tok
            FROM (SELECT doc_id, lang, $tokensSql AS toks FROM ho))
          GROUP BY 1, 2, 3),
        inv AS (SELECT h.doc_id, s.lang,
            CAST(sum(h.cnt * s.lp) AS BIGINT) AS s_in
          FROM hotok h JOIN sc s ON h.tok = s.tok GROUP BY 1, 2),
        unseen AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS u
          FROM hotok h
          WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.tok = h.tok)
          GROUP BY 1),
        scored AS (SELECT hd.doc_id, hd.true_lang, l.lang,
            COALESCE(i.s_in, 0) + p.lp_pri
              + COALESCE(u.u, 0) * o.lp_oov AS score
          FROM (SELECT DISTINCT doc_id, true_lang FROM hotok) hd
          CROSS JOIN langs l
          LEFT JOIN inv i ON i.doc_id = hd.doc_id AND i.lang = l.lang
          JOIN pri p ON p.lang = l.lang
          JOIN oov o ON o.lang = l.lang
          LEFT JOIN unseen u ON u.doc_id = hd.doc_id),
        pred AS (SELECT doc_id, true_lang, lang AS pred_lang FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, lang) AS rn FROM scored)
          WHERE rn = 1)
        SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(*) * 1000000 // (SELECT count(*) FROM pred)
            AS BIGINT) AS share_ppm
        FROM pred GROUP BY 1, 2"""


  /** Distinct-word histogram (w, cnt) of a document subset — the
    * SentencePiece-at-scale input shape (its trainer ingests a word
    * histogram, not the corpus), and since r13 the BPE/WordPiece
    * trainers' too: every merge round runs on word TYPES weighted by
    * count, so the per-round shuffle is vocabulary-sized instead of
    * corpus-sized (VERDICT r12 directive 1 — the instance-level form
    * measured 447.7 s / 142 GB mem-spill at 100×). The corpus is
    * touched exactly once, by this one map-side-combinable agg. */
  private def wordHist(s: org.apache.spark.sql.SparkSession, d: String,
      where: Option[org.apache.spark.sql.Column]):
      org.apache.spark.sql.DataFrame = {
    val base = documents(s, d)
    where.fold(base)(base.filter)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-(lang, word) instance histogram of the HELD-OUT split — the
    * apply-side rollup basis: tokenizing each distinct word once and
    * joining token counts back here reproduces the instance-level
    * per-lang scorecard exactly (Σ cnt·tokens(w) ≡ the per-instance
    * sum), with the only corpus-sized work being this agg itself. */
  private def heldLangWordHist(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    documents(s, d).filter(!bpeTrainPred)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))

  /** Initial BPE symbol state from a word histogram: one row per
    * character of each DISTINCT word of length ≥ 2, its corpus count
    * riding along — (w, cnt, pos, sym). Every instance of a word has
    * the identical symbol sequence at every merge round (merges depend
    * only on the sequence), so training on types with count weights
    * walks the exact instance-level trajectory. */
  private def bpeInitFromHist(hist: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    hist.filter(length(col("w")) >= 2)
      .select(col("w"), col("cnt"),
        posexplode(expr("slice(split(w, ''), 1, length(w))")))
      .toDF("w", "cnt", "pos", "sym")
      .localCheckpoint(true)

  /** One greedy left-to-right merge of winner (x, y) applied to a state
    * frame already augmented with `nxt` — SHARED by the trainer loop and
    * the held-out tokenizer so train-time and apply-time merge semantics
    * cannot drift. Matched positions form maximal runs of consecutive
    * positions (only possible when x=y); within a run the merge takes
    * positions at even offset from the run start — the textbook
    * left-to-right scan — then merged-away rows drop and positions
    * renumber. */
  private def bpeMergeStep(withNext: org.apache.spark.sql.DataFrame,
      win: org.apache.spark.sql.DataFrame,
      /** r17 opt (guide §2.4, fewer actions): callers checkpoint only
        * every SECOND round (+ the final state) — an un-checkpointed
        * round leaves a linear two-window lineage chain the next
        * round's action absorbs (same-key (w) windows: extra sorts, no
        * extra exchange), trading one whole materialization barrier per
        * round pair for a vocabulary-sized window replay. */
      checkpoint: Boolean = true):
      org.apache.spark.sql.DataFrame = {
    // r16 opt (guide §2.4): every step below rides ONE (w, pos) sort —
    // the former mrank/grp/min formulation partitioned by (w, m) and
    // (w, grp), costing two extra exchanges + sorts per merge round
    // (×12 rounds inside q_tokenizer_compare alone). Equivalence: a
    // matched run is a maximal stretch of consecutive m=1 positions, so
    // its start is the m=1 row whose predecessor is not m=1, and the
    // even-offset-from-run-start parity is unchanged (the old grp =
    // pos − mrank is constant exactly on these runs with min(pos) the
    // same run start). Identical rows out; the spec trainer and the
    // DuckDB apply CTEs are untouched and still agree through the gate.
    val wWord = Window.partitionBy(col("w")).orderBy(col("pos"))
    val wRun = wWord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = withNext.crossJoin(broadcast(win.select(col("x"), col("y"))))
      .withColumn("m",
        (col("sym") === col("x") && col("nxt") === col("y")).cast("int"))
      .withColumn("rs", when(col("m") === 1 &&
        coalesce(lag(col("m"), 1).over(wWord), lit(0)) =!= 1, col("pos")))
      .withColumn("rstart", max(col("rs")).over(wRun))
      .withColumn("ms", col("m") === 1 &&
        (col("pos") - col("rstart")) % 2 === 0)
      .withColumn("away",
        coalesce(lag(col("ms"), 1).over(wWord), lit(false)))
      .filter(!col("away"))
      .select(col("w"), col("cnt"), col("pos").as("opos"),
        when(col("ms"), concat(col("x"), col("y")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("w")).orderBy(col("opos"))))
      .select(col("w"), col("cnt"), col("pos"), col("sym"))
    if (checkpoint) merged.localCheckpoint(true) else merged
  }

  /** Shared BPE trainer loop (q_bpe_merges / q_bpe_vocab /
    * q_bpe_tokenize): `rounds` of count-adjacent-pairs → (count desc,
    * pair asc) winner → greedy merge via [[bpeMergeStep]]. Returns
    * (per-round raw winner frames (x, y, n), final symbol state).
    * Winner selection is a total order, so both engines (and the
    * imperative spec trainer) walk the identical trajectory. Scale
    * (r13): the state is the DISTINCT-WORD histogram exploded to
    * symbols — pair and symbol counts are Σ cnt over word types, so
    * every per-round window/shuffle is vocabulary-sized, never
    * corpus-sized (the q_unigram_lm shape; the oracle replays the
    * instance-level definition, proving type-weighted ≡ instance
    * counting through the gate); the winner is a broadcast 1-row
    * frame; per-round localCheckpoint truncates lineage like the
    * k-means and connected-components fixpoints. */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int, hist: org.apache.spark.sql.DataFrame,
      wordpieceScore: Boolean = false):
      (Seq[org.apache.spark.sql.DataFrame],
        org.apache.spark.sql.DataFrame) = {
    val wWord = Window.partitionBy(col("w")).orderBy(col("pos"))
    var state = bpeInitFromHist(hist)
    val winners = (1 to rounds).map { r =>
      val withNext = state
        .withColumn("nxt", lead(col("sym"), 1).over(wWord))
      val pairCnt = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("x"), col("nxt").as("y"))
        .agg(sum(col("cnt")).as("n"))
      // WordPiece winner: likelihood gain count(xy)/(count(x)·count(y))
      // instead of BPE's raw count — the only difference between the
      // two trainer families (Schuster & Nakajima 2012; the merge step
      // and everything downstream is shared verbatim). Cleared to the
      // exact 1e12 integer grid; ties under the declared grid break on
      // (x, y) — a total order both engines and the spec replay walk.
      val win = (if (wordpieceScore) {
        val symCnt = state.groupBy(col("sym")).agg(sum(col("cnt")).as("ns"))
          .localCheckpoint(true) // both unigram probes read it
        pairCnt
          .join(broadcast(symCnt.select(col("sym").as("x"),
            col("ns").as("nx"))), Seq("x"))
          .join(broadcast(symCnt.select(col("sym").as("y"),
            col("ns").as("ny"))), Seq("y"))
          .select(col("x"), col("y"), col("n"),
            expr("CAST(n AS DECIMAL(38,0)) * 1000000000000" +
              " div (CAST(nx AS DECIMAL(38,0)) * ny)").as("score_e12"))
          .orderBy(col("score_e12").desc, col("x"), col("y"))
      } else pairCnt.orderBy(col("n").desc, col("x"), col("y")))
        .limit(1)
        .localCheckpoint(true)
      // every 2nd round + the final state materialize; odd rounds ride
      // as lineage into the next action (see bpeMergeStep doc)
      state = bpeMergeStep(withNext, win,
        checkpoint = r % 2 == 0 || r == rounds)
      win
    }
    (winners, state)
  }

  /** CTEs applying winner w$r to state `$pfx${r-1}` → `$pfx$r` (the
    * greedy runs+parity merge) — shared by the trainer chain (pfx = "s",
    * where w$r was just computed) and the held-out apply chain
    * (pfx = "t", referencing the TRAINED w$r), so train-time and
    * apply-time merge SQL cannot drift. */
  private def bpeApplyCtes(r: Int, pfx: String): String = {
    val ip = if (pfx == "s") "" else pfx
    s"""${ip}a$r AS (SELECT s.doc_id, s.widx, s.pos, s.sym, w.x, w.y,
            CASE WHEN s.sym = w.x AND lead(s.sym) OVER (
                PARTITION BY s.doc_id, s.widx ORDER BY s.pos) = w.y
              THEN 1 ELSE 0 END AS m
          FROM $pfx${r - 1} s CROSS JOIN w$r w),
        ${ip}b$r AS (SELECT *, CASE WHEN m = 1 THEN pos - row_number() OVER (
              PARTITION BY doc_id, widx, m ORDER BY pos) END AS grp
          FROM ${ip}a$r),
        ${ip}c$r AS (SELECT *, CASE WHEN m = 1 AND (pos - min(pos) OVER (
              PARTITION BY doc_id, widx, grp)) % 2 = 0
            THEN 1 ELSE 0 END AS ms
          FROM ${ip}b$r),
        ${ip}d$r AS (SELECT *, COALESCE(lag(ms) OVER (
              PARTITION BY doc_id, widx ORDER BY pos), 0) AS away
          FROM ${ip}c$r),
        $pfx$r AS (SELECT doc_id, widx, row_number() OVER (
              PARTITION BY doc_id, widx ORDER BY pos) AS pos,
            CASE WHEN ms = 1 THEN x || y ELSE sym END AS sym
          FROM ${ip}d$r WHERE away = 0)"""
  }

  /** Initial-state CTEs `<wpfx>0` / `$pfx0` (words of length ≥ 2 →
    * per-character symbol rows), optionally WHERE-restricted. */
  private def bpeInitCtes(pfx: String, where: String): String = {
    val wp = if (pfx == "s") "w" else s"${pfx}w"
    s"""${wp}0 AS (SELECT doc_id, widx, w FROM (
            SELECT doc_id, unnest(toks) AS w, unnest(range(len(toks))) AS widx
            FROM (SELECT doc_id, $tokensSql AS toks FROM documents$where))
          WHERE length(w) >= 2),
        ${pfx}0 AS (SELECT doc_id, widx, i + 1 AS pos, chars[i + 1] AS sym FROM (
            SELECT doc_id, widx, string_split(w, '') AS chars,
              unnest(range(length(w))) AS i FROM ${wp}0))"""
  }

  /** DuckDB CTE chain replaying [[bpeTrain]] — shared by all BPE
    * oracles so they can never drift. `where` restricts the TRAINING
    * corpus ("" = all documents, the q_bpe_merges / q_bpe_vocab
    * surface). */
  private def bpeCtePrelude(where: String = ""): String = {
    def roundCtes(r: Int): String =
      s"""p$r AS (SELECT sym AS x, nxt AS y, count(*) AS n FROM (
            SELECT sym, lead(sym) OVER (
              PARTITION BY doc_id, widx ORDER BY pos) AS nxt
            FROM s${r - 1})
          WHERE nxt IS NOT NULL GROUP BY 1, 2),
        w$r AS (SELECT x, y, n FROM p$r ORDER BY n DESC, x, y LIMIT 1),
        ${bpeApplyCtes(r, "s")}"""
    val chain = (1 to bpeRounds).map(roundCtes).mkString(",\n          ")
    s"""${bpeInitCtes("s", where)},
        $chain"""
  }

  private val bpeWinnersSelect: String = (1 to bpeRounds).map(r =>
    s"SELECT CAST($r AS BIGINT) AS round, x || ' ' || y AS pair, n FROM w$r")
    .mkString("\n          UNION ALL ")

  /** DuckDB CTE chain replaying the WORDPIECE-scored trainer — the
    * bpeCtePrelude shape with the likelihood-gain winner; the merge
    * CTEs are shared verbatim via [[bpeApplyCtes]], so the two trainer
    * families differ in exactly one CTE per round. */
  private def wordpieceCtePrelude(where: String = ""): String = {
    def roundCtes(r: Int): String =
      s"""p$r AS (SELECT sym AS x, nxt AS y, count(*) AS n FROM (
            SELECT sym, lead(sym) OVER (
              PARTITION BY doc_id, widx ORDER BY pos) AS nxt
            FROM s${r - 1})
          WHERE nxt IS NOT NULL GROUP BY 1, 2),
        u$r AS (SELECT sym, CAST(count(*) AS BIGINT) AS ns
          FROM s${r - 1} GROUP BY sym),
        w$r AS (SELECT x, y, n, score_e12 FROM (
            SELECT p.x, p.y, p.n,
              CAST(CAST(p.n AS HUGEINT) * 1000000000000
                // (CAST(ux.ns AS HUGEINT) * uy.ns) AS BIGINT)
                AS score_e12
            FROM p$r p JOIN u$r ux ON p.x = ux.sym
            JOIN u$r uy ON p.y = uy.sym)
          ORDER BY score_e12 DESC, x, y LIMIT 1),
        ${bpeApplyCtes(r, "s")}"""
    s"""${bpeInitCtes("s", where)},
        ${(1 to bpeRounds).map(roundCtes).mkString(",\n          ")}"""
  }

  /** Held-out tokenizer application shared by q_bpe_tokenize and
    * q_wordpiece_tokenize (the two merge-list families — they differ
    * only in the trainer's winner rule): train `bpeRounds` winners on
    * the 80% Knuth-hash split, apply them IN TRAINING ORDER to the 20%
    * held-out split via the SAME [[bpeMergeStep]], and roll up per-lang
    * docs / words / emitted tokens / chars / compression basis points.
    * Scale (r13): train AND apply run on distinct-word histograms —
    * each distinct held-out word is tokenized ONCE and its token count
    * joined back to the (lang, word) instance histogram, so the merge
    * windows are vocabulary-sized and the only corpus-sized work is
    * the two histogram aggs (Σ cnt·tokens(w) ≡ the per-instance sum —
    * the unchanged instance-level oracle proves it through the gate).
    * `trainHist`/`heldHist` let q_tokenizer_compare inject ONE shared
    * Knuth-split histogram pair across all three families (VERDICT r12
    * directive 2) instead of recomputing the split prelude per family. */
  private def heldOutTokenize(s: org.apache.spark.sql.SparkSession,
      d: String, wordpieceScore: Boolean,
      trainHist: Option[org.apache.spark.sql.DataFrame] = None,
      heldHist: Option[org.apache.spark.sql.DataFrame] = None):
      org.apache.spark.sql.DataFrame = {
    val wWord = Window.partitionBy(col("w")).orderBy(col("pos"))
    val th = trainHist.getOrElse(wordHist(s, d, Some(bpeTrainPred)))
    val (winners, _) = bpeTrain(s, d, bpeRounds, th, wordpieceScore)
    val hh = heldHist.getOrElse(heldLangWordHist(s, d))
      .localCheckpoint(true) // apply init + the per-lang rollup read it
    // tokenize each DISTINCT held-out word once (cnt rides along unused
    // — the trained winners, not weights, drive the apply merges)
    var state = bpeInitFromHist(
      hh.groupBy(col("w")).agg(sum(col("cnt")).as("cnt")))
    winners.zipWithIndex.foreach { case (win, i) =>
      state = bpeMergeStep(
        state.withColumn("nxt", lead(col("sym"), 1).over(wWord)), win,
        checkpoint = (i + 1) % 2 == 0 || i == winners.size - 1)
    }
    val perWord = state.groupBy(col("w")).agg(count(lit(1)).as("wtoks"))
    val docs = documents(s, d).filter(!bpeTrainPred)
      .groupBy(col("lang")).agg(count(lit(1)).as("docs"))
    val stats = hh.withColumn("wlen", length(col("w")).cast("long"))
      .join(perWord, Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("words"),
        sum(when(col("wlen") < 2, col("cnt"))
          .otherwise(col("cnt") * col("wtoks"))).as("tokens"),
        sum(col("cnt") * col("wlen")).as("chars"))
    docs.join(stats, Seq("lang"), "left")
      .select(col("lang"), col("docs"),
        coalesce(col("words"), lit(0L)).as("words"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("chars"), lit(0L)).as("chars"))
      .withColumn("compression_bp",
        expr("chars * 10000 div tokens"))
      .orderBy(col("lang"))
  }

  /** DuckDB mirror of [[heldOutTokenize]]: `prelude` is the trainer CTE
    * chain restricted to the train split (bpeCtePrelude or
    * wordpieceCtePrelude) — the held-out apply chain and rollup tail
    * are shared verbatim between the two families. */
  private def heldOutTokenizeSql(prelude: String): String =
    s"""WITH $prelude,
          ${bpeInitCtes("t", s" WHERE NOT ($bpeTrainPredSql)")},
          ${(1 to bpeRounds).map(bpeApplyCtes(_, "t"))
            .mkString(",\n          ")},
          lt AS (SELECT doc_id, count(*) AS long_toks
            FROM t$bpeRounds GROUP BY doc_id),
          base AS (SELECT doc_id, lang, len(toks) AS w_n,
              COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS c_n,
              len(list_filter(toks, t -> length(t) < 2)) AS short_toks
            FROM (SELECT doc_id, lang, $tokensSql AS toks FROM documents
              WHERE NOT ($bpeTrainPredSql)))
          SELECT lang, count(*) AS docs,
            CAST(sum(w_n) AS BIGINT) AS words,
            CAST(sum(COALESCE(long_toks, 0) + short_toks) AS BIGINT) AS tokens,
            CAST(sum(c_n) AS BIGINT) AS chars,
            CAST(CAST(sum(c_n) AS BIGINT) * 10000
              // CAST(sum(COALESCE(long_toks, 0) + short_toks) AS BIGINT)
              AS BIGINT) AS compression_bp
          FROM base LEFT JOIN lt USING (doc_id)
          GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — hard-EM trainer
  // ---------------------------------------------------------------

  /** Builder-time segmentation table for the unigram-LM trainer: ONE
    * ROW PER PIECE SLOT of every ordered composition of a word length
    * n = 1..8 into pieces of length 1..4 — (wlen, cid, off, plen,
    * n_pieces), cid ordered lexicographically by the part sequence so
    * both engines and the spec replay walk identical composition ids.
    * Embedded as the SAME literal in the Spark plan (local frame) and
    * the DuckDB oracle (VALUES): the Viterbi E-step is then a pure
    * equi-join — no engine-side DP state. Words longer than 8 chars
    * (none in this corpus at any SF — the max is pinned by the
    * generator's fixed word list; the table regenerates from this one
    * constant if that changes) fall to the declared OOV bucket rather
    * than silently mis-segmenting. 223 compositions, 723 slot rows. */
  private[queries] val unigramPieces: Seq[(Int, Int, Int, Int, Int)] = {
    def comps(n: Int): Seq[Seq[Int]] =
      if (n == 0) Seq(Seq.empty[Int])
      else (1 to math.min(4, n)).flatMap(p => comps(n - p).map(p +: _))
    (1 to 8).flatMap { n =>
      comps(n).sortBy(_.mkString).zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (len, k) =>
          (n, ci, c.take(k).sum, len, c.length) }
      }
    }
  }
  private val unigramPiecesSql: String = unigramPieces
    .map { case (n, ci, off, plen, np) => s"($n,$ci,$off,$plen,$np)" }
    .mkString(", ")

  /** Add-one-smoothed scaled-integer piece score over a (piece, cnt)
    * vocab frame: lp = round(ln((cnt+1)/(tot+|V|))·10⁶). The ln runs
    * per VOCAB entry (bounded frame, never the corpus) and is rounded
    * to the 1e-6 grid before any comparison — the class-C single-
    * transcendental argument (KS/normal-p precedent). Identical
    * expression text in both engines. */
  private val unigramLpExpr: String =
    "CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / (tot + nv)) * 1000000, 0)" +
      " AS BIGINT)"
  private def unigramScore(vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    vocab.crossJoin(broadcast(vocab.agg(sum(col("cnt")).as("tot"),
        count(lit(1)).as("nv"))))
      .select(col("piece"), expr(unigramLpExpr).as("lp"))

  /** Viterbi E-step as a relational argmax: candidate (word ×
    * composition × slot) rows from the literal piece table, inner-join
    * the scored vocab (slots whose piece is unknown disappear, so
    * n_found < n_pieces marks an invalid composition), then the
    * per-word best under the TOTAL order (Σlp desc, fewer pieces, cid
    * asc). Words with no valid composition (unseen char / length > 8)
    * are absent — the caller's OOV bucket. Everything is bounded by
    * the DISTINCT-WORD frame. */
  private def unigramBest(words: org.apache.spark.sql.DataFrame,
      scored: org.apache.spark.sql.DataFrame,
      pieceTab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val segScore = words.join(broadcast(pieceTab), Seq("wlen"))
      .select(col("w"), col("wlen"), col("cid"), col("n_pieces"),
        expr("substring(w, off + 1, plen)").as("piece"))
      .join(broadcast(scored), Seq("piece"))
      .groupBy(col("w"), col("wlen"), col("cid"), col("n_pieces"))
      .agg(count(lit(1)).as("n_found"), sum(col("lp")).as("s_lp"))
      .filter(col("n_found") === col("n_pieces"))
    val wBest = Window.partitionBy(col("w"))
      .orderBy(col("s_lp").desc, col("n_pieces"), col("cid"))
    segScore.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("w"), col("wlen"), col("cid"), col("n_pieces"))
  }

  /** Hard-EM unigram trainer (Kudo, "Subword Regularization", ACL 2018
    * — the EM reduced to Viterbi hard counts; the production trainer's
    * E-step differs only in using expected rather than argmax counts):
    * seed vocab = every single char + top-64 substrings (length 2–4)
    * by corpus frequency, then `unigramRounds` rounds of score →
    * per-word Viterbi → piece-count re-estimate. THE ONLY CORPUS-SCALE
    * WORK IS THE INITIAL WORD-COUNT AGG (map-side combinable); every
    * EM round runs on the distinct-word histogram weighted by counts —
    * exactly how SentencePiece trains at scale (it ingests a word
    * histogram, not the corpus). Returns the vocab frame (piece, cnt)
    * after the final M-step, plus the broadcast piece table. */
  private val unigramRounds = 3
  private def unigramTrain(s: org.apache.spark.sql.SparkSession, d: String,
      wcOpt: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val pieceTab = unigramPieces
      .toDF("wlen", "cid", "off", "plen", "n_pieces")
      .withColumn("wlen", col("wlen").cast("long"))
    // wcOpt: q_tokenizer_compare's SHARED train-split histogram (r13 —
    // one split prelude feeds all three families); standalone runs
    // build their own via the same wordHist definition
    val wc = wcOpt.getOrElse(wordHist(s, d, Some(bpeTrainPred)))
      .select(col("w"), col("cnt").as("wcnt"))
      .withColumn("wlen", length(col("w")).cast("long"))
      .localCheckpoint(true) // the corpus is touched exactly once
    val seed = wc.select(col("wcnt"), explode(expr(
        """flatten(transform(sequence(0, cast(wlen as int) - 1),
             i -> transform(sequence(1, least(4, cast(wlen as int) - i)),
               l -> substring(w, i + 1, l))))""")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("freq"))
      .localCheckpoint(true) // chars + top-64 + nothing else reads it
    // top-64 multi-char window: vocab-bounded single-partition frame
    // (the top-k vocab precedent — never the corpus)
    val wTop = Window.orderBy(col("freq").desc, col("piece"))
    var vocab = seed.filter(length(col("piece")) === 1)
      .unionAll(seed.filter(length(col("piece")) >= 2)
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 64).drop("rn"))
      .select(col("piece"), col("freq").as("cnt"))
      .localCheckpoint(true)
    (1 to unigramRounds).foreach { _ =>
      val best = unigramBest(wc, unigramScore(vocab), pieceTab)
      val usage = best.join(wc.select(col("w"), col("wcnt")), Seq("w"))
        .join(broadcast(pieceTab), Seq("wlen", "cid"))
        .select(expr("substring(w, off + 1, plen)").as("piece"),
          col("wcnt"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("used"))
      vocab = vocab.select(col("piece"))
        .join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("used"), lit(0L)).as("cnt"))
        .localCheckpoint(true) // per-round lineage cut (the bpeTrain /
                               // k-means / CC fixpoint discipline)
    }
    (vocab, pieceTab)
  }

  /** Unigram-LM held-out apply (q_unigram_tokenize's fn, extracted so
    * q_tokenizer_compare can inject the SHARED split histograms —
    * VERDICT r12 directive 2): segment each distinct held-out word via
    * the trained piece scores, roll up per lang with the declared OOV
    * bucket. `wcOpt` = train-split (w, cnt); `hwOpt` = held-out
    * (lang, w, cnt). */
  private def unigramTokenizeFn(s: org.apache.spark.sql.SparkSession,
      d: String,
      wcOpt: Option[org.apache.spark.sql.DataFrame] = None,
      hwOpt: Option[org.apache.spark.sql.DataFrame] = None):
      org.apache.spark.sql.DataFrame = {
    val (vocab, pieceTab) = unigramTrain(s, d, wcOpt)
    val scored = unigramScore(vocab)
    val hw = hwOpt.getOrElse(heldLangWordHist(s, d))
      .select(col("lang"), col("w"), col("cnt").as("wcnt"))
      .withColumn("wlen", length(col("w")).cast("long"))
      .localCheckpoint(true) // distinct-word seg + per-lang rollup
    val best = unigramBest(
      hw.select(col("w"), col("wlen")).distinct(), scored, pieceTab)
    hw.join(best.select(col("w"), col("n_pieces")), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("wcnt")).as("n_words"),
        sum(when(col("n_pieces").isNull, col("wcnt")).otherwise(0L))
          .as("n_oov"),
        sum(when(col("n_pieces").isNotNull,
          col("wcnt") * col("n_pieces")).otherwise(0L)).as("n_pieces"),
        sum(when(col("n_pieces").isNotNull,
          col("wcnt") * col("wlen")).otherwise(0L)).as("n_chars"))
      .withColumn("chars_per_piece_bp",
        expr("n_chars * 10000 div n_pieces"))
      .orderBy(col("lang"))
  }

  /** DuckDB CTE chain replaying [[unigramTrain]] — shared by both
    * unigram oracles so train and apply can never drift. Defines
    * `comps`, `wc`, `v0..v$unigramRounds` and the final score table
    * `scf` (piece, lp). */
  private def unigramCtePrelude: String = {
    def lp(src: String) = unigramLpExpr
      .replace("cnt + 1", s"$src.cnt + 1")
    def roundCtes(r: Int): String = s"""
        sc$r AS (SELECT piece, ${lp("v")} AS lp
          FROM v${r - 1} v CROSS JOIN (SELECT CAST(sum(cnt) AS BIGINT)
              AS tot, CAST(count(*) AS BIGINT) AS nv FROM v${r - 1}) t),
        seg$r AS (SELECT w, wlen, cid, n_pieces,
            CAST(sum(lp) AS BIGINT) AS s_lp
          FROM (SELECT c.w, c.wlen, c.cid, c.n_pieces,
              substr(c.w, c.off + 1, c.plen) AS piece
            FROM (SELECT wc.w, wc.wlen, p.cid, p.off, p.plen, p.n_pieces
              FROM wc JOIN comps p ON wc.wlen = p.wlen) c)
          JOIN sc$r USING (piece)
          GROUP BY w, wlen, cid, n_pieces
          HAVING count(*) = n_pieces),
        best$r AS (SELECT w, wlen, cid, n_pieces FROM (
            SELECT *, row_number() OVER (PARTITION BY w
              ORDER BY s_lp DESC, n_pieces, cid) AS rn FROM seg$r)
          WHERE rn = 1),
        v$r AS (SELECT v.piece, CAST(COALESCE(u.used, 0) AS BIGINT) AS cnt
          FROM (SELECT piece FROM v${r - 1}) v LEFT JOIN (
            SELECT substr(b.w, p.off + 1, p.plen) AS piece,
              CAST(sum(b.wcnt) AS BIGINT) AS used
            FROM (SELECT bb.*, wc.wcnt FROM best$r bb
              JOIN wc ON bb.w = wc.w) b
            JOIN comps p ON b.wlen = p.wlen AND b.cid = p.cid
            GROUP BY 1) u ON v.piece = u.piece)"""
    s"""comps AS (SELECT * FROM (VALUES $unigramPiecesSql)
          AS t(wlen, cid, off, plen, n_pieces)),
        wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wcnt,
            CAST(length(w) AS BIGINT) AS wlen
          FROM (SELECT unnest(toks) AS w FROM
            (SELECT $tokensSql AS toks FROM documents
             WHERE $bpeTrainPredSql))
          GROUP BY w),
        seed AS (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS freq FROM (
            SELECT wcnt, unnest(flatten(list_transform(range(wlen),
              i -> list_transform(range(1, least(4, wlen - i) + 1),
                l -> substr(w, i + 1, l))))) AS piece
          FROM wc) GROUP BY piece),
        v0 AS (SELECT piece, freq AS cnt FROM seed
            WHERE length(piece) = 1
          UNION ALL
          SELECT piece, freq FROM (
            SELECT piece, freq, row_number() OVER (
              ORDER BY freq DESC, piece) AS rn
            FROM seed WHERE length(piece) >= 2) WHERE rn <= 64),
        ${(1 to unigramRounds).map(roundCtes).mkString(",")},
        scf AS (SELECT piece, ${lp("v")} AS lp
          FROM v$unigramRounds v CROSS JOIN (
            SELECT CAST(sum(cnt) AS BIGINT) AS tot,
              CAST(count(*) AS BIGINT) AS nv FROM v$unigramRounds) t)"""
  }

  private val base: Seq[QDef] = Seq(

    // Sequence packing (concat-and-chunk): documents are concatenated in
    // doc_id order within each lang shard and sliced into fixed
    // 256-token context windows; a doc belongs to the bin where it
    // STARTS (docs may cross a boundary — the standard pretraining
    // packer). One partitioned prefix sum + integer division: the window
    // partitions on lang so per-shard sorts distribute; for a single
    // global stream the two-level prefix-sum variant applies (TUNING.md,
    // q_split_assign). Everything BIGINT-exact.
    QDef("q_token_packing",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_toks"))
          .withColumn("cume", coalesce(sum(col("n_toks")).over(w), lit(0L)))
          .select(col("lang"), expr("cume div 256").as("bin"),
            col("n_toks"), col("doc_id"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_toks"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("lang"), col("bin"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
            CAST(len($tokensSql) AS BIGINT) AS n_toks FROM documents),
        c AS (SELECT doc_id, lang, n_toks,
            COALESCE(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cume
          FROM t)
        SELECT lang, CAST(cume // 256 AS BIGINT) AS bin,
          count(*) AS n_docs,
          CAST(sum(n_toks) AS BIGINT) AS bin_toks, min(doc_id) AS first_doc
        FROM c GROUP BY 1, 2 ORDER BY lang, bin""")),

    // SEQUENCE-PACKING ABLATION (r13, post-freeze) — the accounting a
    // pretraining pipeline publishes before choosing its packer:
    // concat-and-chunk (q_token_packing's rule — GPT-style, docs may
    // cross window boundaries, padding only in each shard's last
    // window) vs pad-per-doc (every doc its own ⌈n/256⌉ windows — no
    // boundary crossings, padding in every doc's tail). Per (lang,
    // strategy): windows used, pad tokens, utilization loss in exact
    // ppm, and boundary-crossing doc count (the attention-contamination
    // cost concat packing pays for its near-zero padding; 0 by
    // construction for pad-per-doc). All BIGINT off one doc-level scan:
    // the concat split count reuses the SAME per-lang prefix sum the
    // packer itself declares, so the ablation cannot drift from the
    // packing it prices. Scale: one partitioned prefix-sum window over
    // doc-level rows + two per-lang rollups.
    QDef("q_packing_ablation",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val base = documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast("long").as("n_toks"))
          .withColumn("cume", coalesce(sum(col("n_toks")).over(w), lit(0L)))
        val concat = base.groupBy(col("lang"))
          .agg(sum(col("n_toks")).as("t"),
            sum(when(col("n_toks") > 0L &&
              expr("cume div 256 <> (cume + n_toks - 1) div 256"), 1L)
              .otherwise(0L)).as("docs_split"))
          .select(col("lang"), lit("concat_chunk").as("strategy"),
            expr("(t + 255) div 256").as("n_windows"),
            expr("((t + 255) div 256) * 256 - t").as("pad_tokens"),
            col("t"), col("docs_split"))
        val perdoc = base.groupBy(col("lang"))
          .agg(expr("sum((n_toks + 255) div 256)").as("n_windows"),
            sum(col("n_toks")).as("t"))
          .select(col("lang"), lit("pad_per_doc").as("strategy"),
            col("n_windows"),
            (col("n_windows") * 256L - col("t")).as("pad_tokens"),
            col("t"), lit(0L).as("docs_split"))
        concat.unionAll(perdoc)
          .select(col("lang"), col("strategy"), col("n_windows"),
            col("pad_tokens"),
            expr("pad_tokens * 1000000 div greatest(n_windows * 256, 1)")
              .as("pad_ppm"),
            col("docs_split"))
          .orderBy(col("lang"), col("strategy"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
            CAST(len($tokensSql) AS BIGINT) AS n_toks FROM documents),
        c AS (SELECT doc_id, lang, n_toks,
            COALESCE(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cume
          FROM t),
        cc AS (SELECT lang, 'concat_chunk' AS strategy,
            (sum(n_toks) + 255) // 256 AS n_windows,
            ((sum(n_toks) + 255) // 256) * 256 - sum(n_toks)
              AS pad_tokens,
            sum(CASE WHEN n_toks > 0 AND cume // 256 <>
              (cume + n_toks - 1) // 256 THEN 1 ELSE 0 END)
              AS docs_split
          FROM c GROUP BY 1),
        pd AS (SELECT lang, 'pad_per_doc' AS strategy,
            sum((n_toks + 255) // 256) AS n_windows,
            sum((n_toks + 255) // 256) * 256 - sum(n_toks) AS pad_tokens,
            0 AS docs_split
          FROM c GROUP BY 1),
        u AS (SELECT * FROM cc UNION ALL SELECT * FROM pd)
        SELECT lang, strategy, CAST(n_windows AS BIGINT) AS n_windows,
          CAST(pad_tokens AS BIGINT) AS pad_tokens,
          CAST(pad_tokens * 1000000 // greatest(n_windows * 256, 1)
            AS BIGINT) AS pad_ppm,
          CAST(docs_split AS BIGINT) AS docs_split
        FROM u ORDER BY lang, strategy""")),

    // Gopher/C4-style heuristic quality rules, integer-exact: word-count
    // band, mean-word-length band (as cross-multiplied integer
    // comparisons — never a float division), stopword presence, and
    // top-token dominance (most frequent token ≤ 20% of the doc, again
    // cross-multiplied). The dominance count is an O(n·distinct) HOF
    // over the in-row token array — ~10⁴ comparisons per doc at this
    // corpus's ≤600-char docs, zero shuffles; for long docs the
    // explode+groupBy formulation takes over (same shape as
    // q_token_df_idf). One narrow scan-side pass; a Gopher-rule gate
    // over 100 TB is embarrassingly parallel.
    QDef("q_gopher_rules",
      (s, d) => gopherFrame(s, d).orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS toks,
            CAST(length(replace(text, ' ', '')) AS BIGINT) AS nsp
          FROM documents),
        m AS (SELECT doc_id, nsp,
            CAST(len(toks) AS BIGINT) AS n_toks,
            CAST(list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) AS BIGINT) AS top_freq,
            CAST(list_contains(toks, 'the') OR list_contains(toks, 'a')
              AS BIGINT) AS r_stop
          FROM t)
        SELECT doc_id, n_toks, nsp, top_freq,
          CAST(n_toks >= 30 AND n_toks <= 1000 AS BIGINT) AS r_wc,
          CAST(nsp >= n_toks * 3 AND nsp <= n_toks * 10 AS BIGINT) AS r_mwl,
          r_stop,
          CAST(top_freq * 5 <= n_toks AS BIGINT) AS r_dom,
          CAST(n_toks >= 30 AND n_toks <= 1000
            AND nsp >= n_toks * 3 AND nsp <= n_toks * 10
            AND r_stop = 1 AND top_freq * 5 <= n_toks AS BIGINT) AS pass
        FROM m ORDER BY doc_id""")),

    // FILTER-COMPOSITION ABLATION (r13) — the joint-yield audit every
    // curation pipeline publishes before committing a filter stack:
    // the 2×2 (Gopher pass × exact-dup keeper) cell matrix with doc
    // and token counts — "how much survives quality-only, dedup-only,
    // both, neither". The quality axis is the SHARED gopherFrame
    // verdict (q_gopher_rules' own frame — the gate and its audit
    // cannot drift); the dedup axis is q_dedup_exact's declared keeper
    // rule (min doc_id per identical text, partitioned by the md5 the
    // dedup query groups on). The grid is explicit, so empty cells
    // report 0 instead of vanishing (the q_psi_drift contract). Scale:
    // one rule scan + one text-hash window + a 4-row rollup.
    // READABILITY SCORECARD — the Flesch reading-ease family computed
    // per lang on an exact integer grid, no transcendentals: syllables
    // are approximated the standard way (maximal vowel runs per word —
    // regexp_count('[aeiou]+'), identical non-overlapping-match
    // semantics in both engines), sentences split on [.!?] with a
    // whole-doc fallback (+1 — this corpus carries no sentence
    // punctuation, so every doc counts as ONE sentence; the splitter
    // machinery still runs and stays pinned for corpora that do).
    // Grids: words-per-sentence and syllables-per-word on e3;
    // flesch_e3 = 206835 − 1015·wps − 84600·spw, each product landing
    // once on its own declared grid with one truncating division
    // before the exact integer subtraction. Scale: one map-side doc
    // scan + a |langs|-row hash agg.
    QDef("q_readability",
      (s, d) => documents(s, d)
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          regexp_count(col("text"), lit("[aeiou]+")).cast("long")
            .as("sy"),
          (regexp_count(col("text"), lit("[.!?]")) + 1).cast("long")
            .as("se"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"), sum(col("w")).as("words"),
          sum(col("sy")).as("sylls"), sum(col("se")).as("sents"))
        .select(col("lang"), col("docs"), col("words"), col("sylls"),
          expr("words * 1000 div greatest(sents, 1)").as("wps_e3"),
          expr("sylls * 1000 div greatest(words, 1)").as("spw_e3"),
          (lit(206835L)
            - expr("1015 * words div greatest(sents, 1)")
            - expr("84600 * sylls div greatest(words, 1)"))
            .as("flesch_e3"))
        .orderBy(col("lang")),
      Some(s"""WITH pd AS (SELECT lang,
            CAST(len($tokensSql) AS BIGINT) AS w,
            CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
              AS sy,
            CAST(len(regexp_extract_all(text, '[.!?]')) + 1 AS BIGINT)
              AS se
          FROM documents),
        a AS (SELECT lang, count(*) AS docs,
            CAST(sum(w) AS BIGINT) AS words,
            CAST(sum(sy) AS BIGINT) AS sylls,
            CAST(sum(se) AS BIGINT) AS sents
          FROM pd GROUP BY lang)
        SELECT lang, docs, words, sylls,
          words * 1000 // greatest(sents, 1) AS wps_e3,
          sylls * 1000 // greatest(words, 1) AS spw_e3,
          206835 - (1015 * words // greatest(sents, 1))
            - (84600 * sylls // greatest(words, 1)) AS flesch_e3
        FROM a ORDER BY lang""")),

    // RAKE KEYPHRASE EXTRACTION (Rose et al. 2010, "Automatic Keyword
    // Extraction from Individual Documents") — the classic unsupervised
    // keyphrase scorer: candidate phrases are maximal stopword-free
    // token runs (length ≤ 4, the common RAKE cap), each member word w
    // gets score deg(w)/freq(w) where freq counts w's phrase
    // occurrences and deg sums the lengths of every phrase occurrence
    // containing w (degree on the phrase co-occurrence graph, counted
    // with multiplicity), and a phrase scores the sum of its member
    // word scores. The stopword list is CORPUS-DRIVEN and declared: the
    // top-5 tokens by corpus frequency (ties → lexicographic — a total
    // order, so the cut is deterministic in both engines). All-integer:
    // deg and freq are exact counts, each word ratio lands ONCE on the
    // e4 grid with one truncating division, phrase scores are exact
    // BIGINT sums of those integers. Scale: the per-doc prefix-sum
    // window is partitioned by doc (bounded by doc length); word scores
    // are one vocab-bounded hash agg broadcast back; nothing
    // corpus-wide ever enters a window.
    QDef("q_rake_keyphrases",
      (s, d) => {
        val pos = documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("w"))
        val stop5 = pos.groupBy(col("w")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(5)
          .select(col("w").as("sw"))
        val marked = pos
          .join(broadcast(stop5), col("w") === col("sw"), "left")
          .select(col("doc_id"), col("pos"), col("w"),
            col("sw").isNotNull.cast("long").as("is_stop"))
        val wpre = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val phrases = marked
          .withColumn("pid", sum(col("is_stop")).over(wpre))
          .filter(col("is_stop") === 0)
          .groupBy(col("doc_id"), col("pid"))
          .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
            .as("ws"))
          .select(col("doc_id"), col("pid"),
            expr("array_join(transform(ws, x -> x.w), ' ')").as("phrase"),
            expr("transform(ws, x -> x.w)").as("words"),
            size(col("ws")).cast("long").as("len"))
          .filter(col("len") <= 4)
          .localCheckpoint(true) // word stats + phrase scoring share it
        val wstats = phrases
          .select(explode(col("words")).as("w"), col("len"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
          .select(col("w"), expr("deg * 10000 div freq").as("wscore_e4"))
        val inst = phrases
          .select(col("doc_id"), col("pid"), col("phrase"),
            explode(col("words")).as("w"))
          .join(wstats, "w")
          .groupBy(col("doc_id"), col("pid"), col("phrase"))
          .agg(sum(col("wscore_e4")).as("score_e4"))
        inst.groupBy(col("phrase"))
          // identical phrase text ⇒ identical member-word scores ⇒
          // identical instance score; max() just picks that constant
          .agg(count(lit(1)).as("n_occ"), max(col("score_e4")).as("score_e4"))
          .orderBy(col("score_e4").desc, col("phrase"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        pos AS (SELECT doc_id, i AS pos, toks[i] AS w
          FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
                FROM toks)),
        stop5 AS (SELECT w FROM (SELECT w, count(*) AS c
          FROM pos GROUP BY w ORDER BY c DESC, w LIMIT 5)),
        marked AS (SELECT doc_id, pos, w,
            CAST(w IN (SELECT w FROM stop5) AS BIGINT) AS is_stop
          FROM pos),
        pids AS (SELECT doc_id, pos, w, is_stop,
            sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
          FROM marked),
        phr AS (SELECT doc_id, pid,
            string_agg(w, ' ' ORDER BY pos) AS phrase,
            CAST(count(*) AS BIGINT) AS len
          FROM pids WHERE is_stop = 0 GROUP BY doc_id, pid),
        phw AS (SELECT doc_id, pid, phrase, len,
            unnest(string_split(phrase, ' ')) AS w
          FROM phr WHERE len <= 4),
        ws AS (SELECT w,
            CAST(sum(len) AS BIGINT) * 10000 // CAST(count(*) AS BIGINT)
              AS wscore_e4
          FROM phw GROUP BY w),
        inst AS (SELECT p.doc_id, p.pid, p.phrase,
            CAST(sum(ws.wscore_e4) AS BIGINT) AS score_e4
          FROM phw p JOIN ws USING (w)
          GROUP BY p.doc_id, p.pid, p.phrase)
        SELECT phrase, count(*) AS n_occ, max(score_e4) AS score_e4
        FROM inst GROUP BY phrase
        ORDER BY score_e4 DESC, phrase""")),

    QDef("q_filter_ablation",
      (s, d) => {
        import s.implicits._
        val g = gopherFrame(s, d).select(col("doc_id"), col("n_toks"),
          col("pass"))
        val k = documents(s, d)
          .select(col("doc_id"),
            (col("doc_id") === min(col("doc_id")).over(
              Window.partitionBy(md5(col("text").cast("binary")))))
              .cast("long").as("keeper"))
        val cells = g.join(k, "doc_id")
          .groupBy(col("pass"), col("keeper"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"))
        Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))
          .toDF("pass", "keeper")
          .join(cells, Seq("pass", "keeper"), "left")
          .select(col("pass"), col("keeper"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
          .orderBy(col("pass"), col("keeper"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS toks,
            CAST(length(replace(text, ' ', '')) AS BIGINT) AS nsp
          FROM documents),
        m AS (SELECT doc_id, nsp,
            CAST(len(toks) AS BIGINT) AS n_toks,
            CAST(list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) AS BIGINT)
              AS top_freq,
            CAST(list_contains(toks, 'the') OR list_contains(toks, 'a')
              AS BIGINT) AS r_stop
          FROM t),
        g AS (SELECT doc_id, n_toks,
            CAST(n_toks >= 30 AND n_toks <= 1000
              AND nsp >= n_toks * 3 AND nsp <= n_toks * 10
              AND r_stop = 1 AND top_freq * 5 <= n_toks AS BIGINT)
              AS pass
          FROM m),
        k AS (SELECT doc_id,
            CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text))
              AS BIGINT) AS keeper
          FROM documents),
        cells AS (SELECT g.pass, k.keeper,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(g.n_toks) AS BIGINT) AS n_tokens
          FROM g JOIN k USING (doc_id) GROUP BY 1, 2),
        grid AS (SELECT a.p AS pass, b.k AS keeper
          FROM (VALUES (CAST(0 AS BIGINT)), (1)) a(p)
          CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1)) b(k))
        SELECT grid.pass, grid.keeper,
          COALESCE(c.n_docs, 0) AS n_docs,
          COALESCE(c.n_tokens, 0) AS n_tokens
        FROM grid LEFT JOIN cells c
          ON grid.pass = c.pass AND grid.keeper = c.keeper
        ORDER BY grid.pass, grid.keeper""")),

    // PII scrubbing: compose a contact-card string from real customer
    // columns (the synthetic table has no phone/address, so the
    // redactable tokens are derived deterministically from c_custkey),
    // then regexp-redact email addresses and long digit runs and count
    // the matches. Patterns stay in the Java-regex ∩ RE2 subset so both
    // engines replace identically; Spark's regexp_replace is global by
    // default, DuckDB needs the explicit 'g'. Pure scan-side map at any
    // scale.
    QDef("q_pii_redact",
      (s, d) => customer(s, d)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" <user"), col("c_custkey"),
            lit("@example.com> ref "),
            (col("c_custkey") * 7919 + 13).cast("string")).as("contact"))
        .select(col("c_custkey"),
          size(expr("regexp_extract_all(contact, '[a-z0-9._]+@[a-z0-9.]+[a-z]', 0)"))
            .cast("long").as("n_email"),
          size(expr("regexp_extract_all(contact, '[0-9]{6,}', 0)"))
            .cast("long").as("n_idrun"),
          regexp_replace(
            regexp_replace(col("contact"), "[a-z0-9._]+@[a-z0-9.]+[a-z]", "[EMAIL]"),
            "[0-9]{6,}", "[ID]").as("redacted"))
        .orderBy(col("c_custkey"))
        .limit(1000),
      Some("""WITH c AS (SELECT c_custkey,
            c_name || ' <user' || CAST(c_custkey AS VARCHAR)
              || '@example.com> ref '
              || CAST(c_custkey * 7919 + 13 AS VARCHAR) AS contact
          FROM customer)
        SELECT c_custkey,
          CAST(len(regexp_extract_all(contact, '[a-z0-9._]+@[a-z0-9.]+[a-z]'))
            AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(contact, '[0-9]{6,}'))
            AS BIGINT) AS n_idrun,
          regexp_replace(regexp_replace(contact,
            '[a-z0-9._]+@[a-z0-9.]+[a-z]', '[EMAIL]', 'g'),
            '[0-9]{6,}', '[ID]', 'g') AS redacted
        FROM c ORDER BY c_custkey LIMIT 1000""")),

    // K-ANONYMITY AUDIT (Sweeney 2002) — the privacy gate beside
    // q_pii_redact's content scrub: before a dataset (or the metadata
    // columns of a training corpus) is released, every record must hide
    // in a crowd of ≥ k records sharing its QUASI-IDENTIFIER tuple —
    // here (c_nationkey, c_mktsegment, $1000 account-balance band;
    // cents land once on the e2 grid, the band by truncating div —
    // negative balances truncate toward zero identically both engines).
    // The audit emits the equivalence-class SIZE DISTRIBUTION: per
    // class size, how many classes and records, and whether that size
    // violates the k = 5 policy — the dataset's k-anonymity level is
    // the first row's class_size, the re-identification exposure is
    // sum(n_records where risky5 = 1). Two hash-aggs, output bounded by
    // |distinct class sizes| — the same shape at any corpus size.
    QDef("q_k_anonymity",
      (s, d) => customer(s, d)
        .select(col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
            .as("bal_band"))
        .groupBy(col("nat"), col("seg"), col("bal_band"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("class_size"))
        .agg(count(lit(1)).as("n_classes"))
        .select(col("class_size"), col("n_classes"),
          (col("class_size") * col("n_classes")).as("n_records"),
          (col("class_size") < 5).cast("long").as("risky5"))
        .orderBy(col("class_size")),
      Some("""WITH q AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band
          FROM customer),
        cls AS (SELECT nat, seg, bal_band, count(*) AS sz
          FROM q GROUP BY 1, 2, 3)
        SELECT sz AS class_size, CAST(count(*) AS BIGINT) AS n_classes,
          CAST(sz * count(*) AS BIGINT) AS n_records,
          CAST(sz < 5 AS BIGINT) AS risky5
        FROM cls GROUP BY sz ORDER BY class_size""")),

    // L-DIVERSITY AUDIT (r13; Machanavajjhala et al. 2007) — the
    // second privacy gate k-anonymity alone cannot provide: a class of
    // ≥ k records still DISCLOSES the sensitive attribute when every
    // member shares one value (the homogeneity attack), so each
    // quasi-identifier class must also exhibit ≥ l DISTINCT sensitive
    // values. Same QI tuple as q_k_anonymity (nat, seg, $1000 balance
    // band — the two audits compose); the sensitive attribute is the
    // customer's first-order status (min_by over o_orderkey —
    // deterministic, orderkey unique), 'NONE' for order-less customers
    // (a declared 4th value, never silently dropped). Output: the
    // distribution of per-class distinct-sensitive counts with the
    // l = 2 policy flag; n_records sums true class sizes (classes with
    // equal l differ in size). Scale: one left join + two hash-aggs
    // (count distinct per class is bounded by the 4-value domain);
    // output bounded by |sensitive domain|.
    QDef("q_l_diversity",
      (s, d) => {
        val firstStatus = orders(s, d).groupBy(col("o_custkey"))
          .agg(min_by(col("o_orderstatus"), col("o_orderkey"))
            .as("sens"))
        customer(s, d)
          .select(col("c_custkey"),
            col("c_nationkey").cast("long").as("nat"),
            col("c_mktsegment").as("seg"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
              .as("bal_band"))
          .join(firstStatus, col("c_custkey") === col("o_custkey"),
            "left")
          .select(col("nat"), col("seg"), col("bal_band"),
            coalesce(col("sens"), lit("NONE")).as("sens"))
          .groupBy(col("nat"), col("seg"), col("bal_band"))
          .agg(countDistinct(col("sens")).as("l_value"),
            count(lit(1)).as("sz"))
          .groupBy(col("l_value"))
          .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_records"))
          .select(col("l_value"), col("n_classes"), col("n_records"),
            (col("l_value") < 2).cast("long").as("risky2"))
          .orderBy(col("l_value"))
      },
      Some("""WITH fs AS (SELECT o_custkey,
            min_by(o_orderstatus, o_orderkey) AS sens
          FROM orders GROUP BY 1),
        q AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
            COALESCE(fs.sens, 'NONE') AS sens
          FROM customer LEFT JOIN fs ON c_custkey = o_custkey),
        cls AS (SELECT nat, seg, bal_band,
            CAST(count(DISTINCT sens) AS BIGINT) AS l_value,
            CAST(count(*) AS BIGINT) AS sz
          FROM q GROUP BY 1, 2, 3)
        SELECT l_value, CAST(count(*) AS BIGINT) AS n_classes,
          CAST(sum(sz) AS BIGINT) AS n_records,
          CAST(l_value < 2 AS BIGINT) AS risky2
        FROM cls GROUP BY 1 ORDER BY l_value""")),

    // T-CLOSENESS AUDIT (r13, post-freeze; Li et al. 2007) — the third
    // rung of the privacy ladder: l-diversity counts DISTINCT sensitive
    // values but a class can satisfy l while its value DISTRIBUTION
    // still leaks (the skewness attack), so each quasi-identifier
    // class's sensitive distribution must sit within distance t of the
    // GLOBAL one. Same QI tuple and sensitive attribute as
    // q_k_anonymity/q_l_diversity (the three audits compose); distance
    // is total variation over the 4-value categorical domain, kept
    // exact-rational by cross-multiplication — tv_ppm = Σ_v
    // |c_v·N − g_v·n| · 10⁶ div (2·n·N), no float ever exists
    // (Long-safe to ~1.5M records per release; past that the
    // DECIMAL(38,0)/HUGEINT widening applies). The (class × sensitive
    // value) grid is explicit, so a value MISSING from a class
    // contributes its full |0 − g_v·n| term instead of vanishing (the
    // q_psi_drift contract — exactly the homogeneity leak this audit
    // exists to price). Output per class: size, tv_ppm, the t = 0.3
    // policy flag. Scale: two hash-aggs + a (bounded classes) ×
    // (4-value domain) grid join; the global frame is one broadcast row
    // per value.
    QDef("q_t_closeness",
      (s, d) => {
        val firstStatus = orders(s, d).groupBy(col("o_custkey"))
          .agg(min_by(col("o_orderstatus"), col("o_orderkey"))
            .as("sens"))
        val q = customer(s, d)
          .select(col("c_custkey"),
            col("c_nationkey").cast("long").as("nat"),
            col("c_mktsegment").as("seg"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000")
              .as("bal_band"))
          .join(firstStatus, col("c_custkey") === col("o_custkey"),
            "left")
          .select(col("nat"), col("seg"), col("bal_band"),
            coalesce(col("sens"), lit("NONE")).as("sens"))
          .localCheckpoint(true) // class counts, global counts, grid
        val cv = q.groupBy(col("nat"), col("seg"), col("bal_band"),
            col("sens"))
          .agg(count(lit(1)).as("c"))
        val cls = q.groupBy(col("nat"), col("seg"), col("bal_band"))
          .agg(count(lit(1)).as("n"))
        val gv = q.groupBy(col("sens")).agg(count(lit(1)).as("g"))
        val big = q.agg(count(lit(1)).as("bign"))
        cls.crossJoin(broadcast(gv))
          .join(cv, Seq("nat", "seg", "bal_band", "sens"), "left")
          .crossJoin(broadcast(big))
          .groupBy(col("nat"), col("seg"), col("bal_band"), col("n"),
            col("bign"))
          .agg(sum(abs(coalesce(col("c"), lit(0L)) * col("bign")
            - col("g") * col("n"))).as("num"))
          .select(col("nat"), col("seg"), col("bal_band"), col("n"),
            expr("num * 1000000 div (2 * n * bign)").as("tv_ppm"))
          .withColumn("risky_t03",
            (col("tv_ppm") > 300000L).cast("long"))
          .orderBy(col("nat"), col("seg"), col("bal_band"))
      },
      Some("""WITH fs AS (SELECT o_custkey,
            min_by(o_orderstatus, o_orderkey) AS sens
          FROM orders GROUP BY 1),
        q AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
            CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
            COALESCE(fs.sens, 'NONE') AS sens
          FROM customer LEFT JOIN fs ON c_custkey = o_custkey),
        cv AS (SELECT nat, seg, bal_band, sens,
            CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1, 2, 3, 4),
        cls AS (SELECT nat, seg, bal_band, CAST(count(*) AS BIGINT) AS n
          FROM q GROUP BY 1, 2, 3),
        gv AS (SELECT sens, CAST(count(*) AS BIGINT) AS g
          FROM q GROUP BY 1),
        big AS (SELECT CAST(count(*) AS BIGINT) AS bign FROM q),
        tv AS (SELECT cls.nat, cls.seg, cls.bal_band, cls.n, big.bign,
            CAST(sum(abs(COALESCE(cv.c, 0) * big.bign
              - gv.g * cls.n)) AS BIGINT) AS num
          FROM cls CROSS JOIN gv
          LEFT JOIN cv ON cv.nat = cls.nat AND cv.seg = cls.seg
            AND cv.bal_band = cls.bal_band AND cv.sens = gv.sens
          CROSS JOIN big
          GROUP BY 1, 2, 3, 4, 5)
        SELECT nat, seg, bal_band, n,
          num * 1000000 // (2 * n * bign) AS tv_ppm,
          CAST(num * 1000000 // (2 * n * bign) > 300000 AS BIGINT)
            AS risky_t03
        FROM tv ORDER BY nat, seg, bal_band""")),

    // DIFFERENTIAL-PRIVACY COUNT RELEASE (r13) — the MECHANISM beside
    // q_k_anonymity's audit (Dwork et al. 2006): per-nation customer
    // counts released with Laplace(1/ε) noise, ε = 1, sensitivity 1
    // (one customer moves one count by one). The engine twist is the
    // SEEDED noise: production DP uses a stored per-release seed so
    // re-runs are reproducible, and here the seed is the md5-Horner
    // uniform over "dp:<nationkey>" (the q_rendezvous_route hash —
    // byte-identical both engines): u = (h mod 999998 + 1)/10⁶ ∈
    // (0,1), then the exact inverse CDF −sgn(u−½)·ln(1−2|u−½|)/ε as
    // ONE transcendental chain per nation rounded once onto the e2
    // grid (class C — 25 rows, identical IEEE ln both engines; every
    // downstream byte is integer). bound_ok pins |noise| ≤ ln(5·10⁵)/ε
    // — the mechanism's hard tail cap under this seed grid. Scale: one
    // map-side count agg; the noise chain runs on the 25-row result.
    QDef("q_dp_counts",
      (s, d) => {
        customer(s, d)
          .groupBy(col("c_nationkey").cast("long").as("nat"))
          .agg(count(lit(1)).as("n"))
          .withColumn("u_pp",
            conv(substring(md5(concat(lit("dp:"), col("nat"))
              .cast("binary")), 1, 8), 16, 10).cast("long")
              % 999998L + 1L)
          .withColumn("t", col("u_pp") - 500000L)
          .withColumn("arg_e6", lit(1000000L) - abs(col("t")) * 2L)
          .withColumn("noise_e2",
            expr("CAST(round(-sign(t) * ln(arg_e6 / 1000000.0) * 100," +
              " 0) AS BIGINT)"))
          .select(col("nat"), col("n"), col("u_pp"), col("noise_e2"),
            (col("n") * 100L + col("noise_e2")).as("released_e2"),
            (abs(col("noise_e2")) <= 1320L).cast("long").as("bound_ok"))
          .orderBy(col("nat"))
      },
      Some {
        val horner = (1 to 8).map(i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
            s"${1L << (4 * (8 - i))}").mkString(" + ")
        s"""WITH cnt AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
              CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1),
          seeded AS (SELECT nat, n,
              md5('dp:' || CAST(nat AS VARCHAR)) AS h FROM cnt),
          u AS (SELECT nat, n,
              CAST($horner AS BIGINT) % 999998 + 1 AS u_pp FROM seeded),
          nz AS (SELECT nat, n, u_pp, u_pp - 500000 AS t,
              1000000 - abs(u_pp - 500000) * 2 AS arg_e6 FROM u)
          SELECT nat, n, CAST(u_pp AS BIGINT) AS u_pp,
            CAST(round(-sign(t) * ln(arg_e6 / 1000000.0) * 100)
              AS BIGINT) AS noise_e2,
            CAST(n * 100 + round(-sign(t) * ln(arg_e6 / 1000000.0)
              * 100) AS BIGINT) AS released_e2,
            CAST(abs(round(-sign(t) * ln(arg_e6 / 1000000.0) * 100))
              <= 1320 AS BIGINT) AS bound_ok
          FROM nz ORDER BY nat"""
      }),

    // DP QUANTILE RELEASE VIA THE EXPONENTIAL MECHANISM (r14) — the
    // second DP mechanism beside q_dp_counts' Laplace (McSherry &
    // Talwar 2007; Smith 2011 for quantiles): per event type, release
    // a median from the bounded e2 cents grid by arg-maxing utility
    // + seeded Gumbel noise (the Gumbel-max trick IS exponential-
    // mechanism sampling). Utility is DOUBLED to stay integer,
    // u(b) = −|2·cum(b) − n| (sensitivity 2 on the doubled scale ⇒
    // score = u·ε/(2Δ) = u/4 on the e6 grid = u·250000 with ε = 1);
    // the Gumbel comes from the q_dp_counts seed idiom — md5-Horner
    // uniform over "dpq:<type>:<cents>", −ln(−ln(u)) as ONE
    // transcendental chain rounded once to e6 — so the release is
    // reproducible bit-identically in both engines and across runs.
    // Output: per type the exact n, the true (non-private) median
    // bin, the released bin, and its rank error. Scale: one map-side
    // (type, cents) agg; candidates, windows, and the argmax all live
    // on the bounded |types| × 65536 grid.
    QDef("q_dp_quantile",
      (s, d) => {
        val ev = events(s, d)
          .select(col("event_type"),
            expr("least(65535, greatest(0," +
              " CAST(round(value * 100) AS BIGINT)))").as("c"))
        val h = ev.groupBy(col("event_type"), col("c"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
        val cum = h.withColumn("cum", sum(col("cnt")).over(w))
        val nT = cum.groupBy(col("event_type")).agg(max(col("cum")).as("n"))
        val scored = cum.join(broadcast(nT), "event_type")
          .withColumn("util2", -abs(col("cum") * 2 - col("n")))
          .withColumn("u_pp",
            conv(substring(md5(concat(lit("dpq:"), col("event_type"),
              lit(":"), col("c").cast("string")).cast("binary")), 1, 8),
              16, 10).cast("long") % 999998L + 1L)
          .withColumn("gumbel_e6",
            expr("CAST(round(-ln(-ln(u_pp / 1000000.0)) * 1000000, 0)" +
              " AS BIGINT)"))
          .withColumn("score_e6",
            col("util2") * 250000L + col("gumbel_e6"))
          .localCheckpoint(true) // argmax + the true-median scan
        val released = scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("score_e6").desc, col("c"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("c").as("released_c"),
            col("util2").as("released_util2"))
        val truem = scored.filter(col("cum") * 2 >= col("n"))
          .groupBy(col("event_type")).agg(min(col("c")).as("true_p50_c"))
        nT.join(released, "event_type").join(truem, "event_type")
          .select(col("event_type"), col("n"), col("true_p50_c"),
            col("released_c"),
            expr("(0 - released_util2) div 2").as("rank_err"))
          .orderBy(col("event_type"))
      },
      Some {
        val horner = (1 to 8).map(i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
            s"${1L << (4 * (8 - i))}").mkString(" + ")
        s"""WITH ev AS (SELECT event_type,
              least(65535, greatest(0,
                CAST(round(value * 100) AS BIGINT))) AS c
            FROM events),
          h0 AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
            FROM ev GROUP BY 1, 2),
          cum AS (SELECT event_type, c, cnt,
              CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c)
                AS BIGINT) AS cum
            FROM h0),
          nt AS (SELECT event_type, CAST(max(cum) AS BIGINT) AS n
            FROM cum GROUP BY 1),
          seeded AS (SELECT cum.event_type, cum.c, cum.cum, nt.n,
              0 - abs(cum.cum * 2 - nt.n) AS util2,
              md5('dpq:' || cum.event_type || ':'
                || CAST(cum.c AS VARCHAR)) AS h
            FROM cum JOIN nt USING (event_type)),
          scored AS (SELECT event_type, c, cum, n, util2,
              util2 * 250000 + CAST(round(-ln(-ln(
                (CAST($horner AS BIGINT) % 999998 + 1) / 1000000.0))
                * 1000000) AS BIGINT) AS score_e6
            FROM seeded),
          rel AS (SELECT event_type, c AS released_c,
              util2 AS released_util2
            FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY score_e6 DESC, c) AS rn FROM scored)
            WHERE rn = 1),
          tm AS (SELECT event_type, CAST(min(c) AS BIGINT) AS true_p50_c
            FROM scored WHERE cum * 2 >= n GROUP BY 1)
          SELECT nt.event_type, nt.n, tm.true_p50_c, rel.released_c,
            (0 - rel.released_util2) // 2 AS rank_err
          FROM nt JOIN rel USING (event_type) JOIN tm USING (event_type)
          ORDER BY event_type"""
      }),

    // DP GAUSSIAN RELEASE (r14) — the THIRD mechanism completing the
    // DP family (q_dp_counts: Laplace/pure ε-DP; q_dp_quantile:
    // exponential; this: the Gaussian mechanism of (ε,δ)-DP — Dwork &
    // Roth 2014 §A, σ = Δ√(2·ln(1.25/δ))/ε = 4.844805 for ε=1,
    // δ=10⁻⁵, Δ=1): per-nation customer counts released with seeded
    // Gaussian noise. The normal deviate comes from the MARSAGLIA
    // POLAR transform — ONLY ln and sqrt in the chain (Box–Muller's
    // cos is the one libm call whose final ulp is NOT pinned across
    // engines; polar avoids it): per nation a fixed 8-attempt chain of
    // md5-Horner uniform pairs (u₁,u₂ over "dpgA/dpgB:<nat>:<k>" — the
    // q_dp_counts seed idiom), v = 2u − 1 on the exact pp grid,
    // s_e12 = v₁² + v₂² an exact BIGINT, FIRST k with 0 < s < 1
    // accepted (miss probability (1−π/4)⁸ ≈ 2·10⁻⁶; a full miss
    // releases noise 0 with pick_k = 0 — deterministic in both
    // engines, so parity holds regardless), then
    // z = v₁·√(−2·ln(s)/s) rounded ONCE to e2 after the σ·100 scale.
    // bound_ok pins the mechanism's hard tail cap under this grid:
    // |v₁|/√s ≤ 1 and s ≥ 4·10⁻¹² give |noise_e2| ≤ 100·σ·√(−2·ln s)
    // ≤ 3511 < 3600. Scale: one map-side count agg; the 8-attempt
    // chain runs on the 25-row release frame.
    QDef("q_dp_gaussian",
      (s, d) => {
        val cnt = customer(s, d)
          .groupBy(col("c_nationkey").cast("long").as("nat"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // release frame; crossed by attempts
        val att = s.range(1, 9).select(col("id").as("k"))
        val grid = cnt.select(col("nat")).crossJoin(broadcast(att))
          .withColumn("u1_pp",
            conv(substring(md5(concat(lit("dpgA:"),
              col("nat").cast("string"), lit(":"),
              col("k").cast("string")).cast("binary")), 1, 8), 16, 10)
              .cast("long") % 999998L + 1L)
          .withColumn("u2_pp",
            conv(substring(md5(concat(lit("dpgB:"),
              col("nat").cast("string"), lit(":"),
              col("k").cast("string")).cast("binary")), 1, 8), 16, 10)
              .cast("long") % 999998L + 1L)
          .withColumn("v1", col("u1_pp") * 2 - 1000000L)
          .withColumn("v2", col("u2_pp") * 2 - 1000000L)
          .withColumn("s_e12",
            col("v1") * col("v1") + col("v2") * col("v2"))
          .filter(col("s_e12") > 0L && col("s_e12") < 1000000000000L)
        val pick = grid.groupBy(col("nat").as("natp"))
          .agg(min(col("k")).as("pick_k"))
        val z = grid.join(pick, col("nat") === col("natp")
            && col("k") === col("pick_k"))
          .withColumn("noise_e2",
            expr("""CAST(round(v1 / 1000000.0
              * sqrt(-2 * ln(s_e12 / 1000000000000.0)
                / (s_e12 / 1000000000000.0))
              * 4.844805 * 100, 0) AS BIGINT)"""))
          .select(col("nat"), col("pick_k"), col("noise_e2"))
        cnt.join(z, Seq("nat"), "left")
          .select(col("nat"), col("n"),
            coalesce(col("pick_k"), lit(0L)).as("pick_k"),
            coalesce(col("noise_e2"), lit(0L)).as("noise_e2"))
          .withColumn("released_e2", col("n") * 100L + col("noise_e2"))
          .withColumn("bound_ok",
            (abs(col("noise_e2")) <= 3600L).cast("long"))
          .orderBy(col("nat"))
      },
      Some {
        def horner(h: String) = (1 to 8).map(i =>
          s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * " +
            s"${1L << (4 * (8 - i))}").mkString(" + ")
        s"""WITH cnt AS (SELECT CAST(c_nationkey AS BIGINT) AS nat,
              CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1),
          att AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS k),
          grid0 AS (SELECT nat, k,
              md5('dpgA:' || CAST(nat AS VARCHAR) || ':'
                || CAST(k AS VARCHAR)) AS ha,
              md5('dpgB:' || CAST(nat AS VARCHAR) || ':'
                || CAST(k AS VARCHAR)) AS hb
            FROM cnt CROSS JOIN att),
          grid AS (SELECT nat, k,
              (CAST(${horner("ha")} AS BIGINT) % 999998 + 1) * 2
                - 1000000 AS v1,
              (CAST(${horner("hb")} AS BIGINT) % 999998 + 1) * 2
                - 1000000 AS v2
            FROM grid0),
          ok AS (SELECT nat, k, v1,
              v1 * v1 + v2 * v2 AS s_e12 FROM grid
            WHERE v1 * v1 + v2 * v2 > 0
              AND v1 * v1 + v2 * v2 < 1000000000000),
          pick AS (SELECT nat, CAST(min(k) AS BIGINT) AS pick_k
            FROM ok GROUP BY 1),
          z AS (SELECT ok.nat, pick.pick_k,
              CAST(round(v1 / 1000000.0
                * sqrt(-2 * ln(s_e12 / 1000000000000.0)
                  / (s_e12 / 1000000000000.0))
                * 4.844805 * 100, 0) AS BIGINT) AS noise_e2
            FROM ok JOIN pick ON ok.nat = pick.nat
              AND ok.k = pick.pick_k)
          SELECT cnt.nat, cnt.n, COALESCE(z.pick_k, 0) AS pick_k,
            COALESCE(z.noise_e2, 0) AS noise_e2,
            cnt.n * 100 + COALESCE(z.noise_e2, 0) AS released_e2,
            CAST(abs(COALESCE(z.noise_e2, 0)) <= 3600 AS BIGINT)
              AS bound_ok
          FROM cnt LEFT JOIN z ON cnt.nat = z.nat ORDER BY cnt.nat"""
      }),

    // STABILITY-BASED DP HISTOGRAM (r14 wave 3) — the FOURTH mechanism
    // completing the DP family, and the one the other three can't do:
    // releasing a histogram over an UNKNOWN domain (Korolova et al.
    // 2009; Vadhan's "stability-based" thresholding): emitting a
    // bigram's mere EXISTENCE leaks, so each true count gets seeded
    // Laplace(2/ε) noise and only items whose noisy count clears
    // τ = 1 + 2·ln(2/δ)/ε survive (ε = 1, δ = 10⁻⁵ ⇒ τ = 25.42,
    // τ_e2 = 2542 a builder-time literal in both engines). The domain
    // is the corpus bigram vocabulary — counts straddle τ at the gate
    // SF (675 of 916 release at sf0.01), so the threshold genuinely
    // bites in both directions. Noise is the q_dp_counts md5-Horner
    // inverse-CDF chain at scale 2 ("dph:<gram>" seeds). Scale: ONE
    // map-side bigram count agg; the noise chain is map-only over the
    // distinct-bigram frame (vocabulary²-bounded) — no τ-prefilter
    // exists BY CONSTRUCTION here (|noise| reaches 26.3 > τ−1, every
    // item can flip), which is exactly why the chain must be map-only.
    QDef("q_dp_stable_histogram",
      (s, d) => {
        documents(s, d)
          .select(tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(t) - 1),
                 i -> array_join(slice(t, i, 2), ' '))""")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("n"))
          .withColumn("u_pp",
            conv(substring(md5(concat(lit("dph:"), col("gram"))
              .cast("binary")), 1, 8), 16, 10).cast("long")
              % 999998L + 1L)
          .withColumn("t0", col("u_pp") - 500000L)
          .withColumn("arg_e6", lit(1000000L) - abs(col("t0")) * 2L)
          .withColumn("noise_e2",
            expr("CAST(round(-2 * sign(t0) * ln(arg_e6 / 1000000.0)" +
              " * 100, 0) AS BIGINT)"))
          .withColumn("released_e2", col("n") * 100L + col("noise_e2"))
          .filter(col("released_e2") > 2542L)
          .select(col("gram"), col("n"), col("noise_e2"),
            col("released_e2"))
          .orderBy(col("gram"))
      },
      Some {
        val horner = (1 to 8).map(i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
            s"${1L << (4 * (8 - i))}").mkString(" + ")
        s"""WITH bg AS (SELECT unnest(list_transform(
              range(1, len(toks)),
              i -> array_to_string(toks[i:i+1], ' '))) AS gram
            FROM (SELECT $tokensSql AS toks FROM documents)
            WHERE len(toks) >= 2),
          cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS n
            FROM bg GROUP BY 1),
          seeded AS (SELECT gram, n, md5('dph:' || gram) AS h FROM cnt),
          nz AS (SELECT gram, n,
              CAST($horner AS BIGINT) % 999998 + 1 - 500000 AS t0
            FROM seeded),
          rel AS (SELECT gram, n,
              CAST(round(-2 * sign(t0)
                * ln((1000000 - abs(t0) * 2) / 1000000.0) * 100)
                AS BIGINT) AS noise_e2
            FROM nz)
          SELECT gram, n, noise_e2,
            n * 100 + noise_e2 AS released_e2
          FROM rel WHERE n * 100 + noise_e2 > 2542
          ORDER BY gram"""
      }),

    // BOILERPLATE N-GRAM SCREEN (r14 wave 3) — the template-text audit
    // every web-scale curation pipeline runs before training (C4's
    // line dedup, RefinedWeb's template filters): an 8-gram that
    // recurs VERBATIM across distinct documents of one source is
    // boilerplate suspect (headers, footers, navigation). Per source:
    // the distinct-(doc, gram) frame (per-doc dedup — a gram repeated
    // inside one doc is repetition, not boilerplate; q_repetition_score
    // owns that axis), doc frequency per gram, the declared df ≥ 2
    // blacklist, and the affected-document share via one gram-keyed
    // semi-join back. The same gram constructor as the contamination/
    // novelty family — one definition per engine. Scale: gram explode
    // → map-side distinct + count aggs; the semi-join is equi-keyed on
    // gram; every output frame is |sources|-bounded.
    QDef("q_boilerplate_ngrams",
      (s, d) => {
        val g = documents(s, d)
          .select(col("source"), col("doc_id"),
            tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("source"), col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                 i -> array_join(slice(toks, i, 8), ' '))""")).as("g"))
          .distinct()
          .localCheckpoint(true) // df agg + the affected semi-join
        val df = g.groupBy(col("source"), col("g"))
          .agg(count(lit(1)).as("df"))
          .localCheckpoint(true) // gram stats + the blacklist join
        val stats = df.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"),
            sum((col("df") >= 2L).cast("long")).as("n_boiler"))
        val affected = g.join(df.filter(col("df") >= 2L)
            .select(col("source"), col("g")), Seq("source", "g"))
          .select(col("source"), col("doc_id")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("affected_docs"))
        val nd = documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        nd.join(stats, Seq("source"), "left")
          .join(affected, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
            coalesce(col("affected_docs"), lit(0L)).as("affected_docs"))
          .withColumn("affected_ppm",
            expr("affected_docs * 1000000 div n_docs"))
          .orderBy(col("source"))
      },
      Some(s"""WITH g AS (SELECT DISTINCT source, doc_id,
            unnest(list_transform(range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))) AS g
          FROM (SELECT source, doc_id, $tokensSql AS toks
                FROM documents)
          WHERE len(toks) >= 8),
        df AS (SELECT source, g, CAST(count(*) AS BIGINT) AS df
          FROM g GROUP BY 1, 2),
        stats AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
            CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_boiler
          FROM df GROUP BY 1),
        aff AS (SELECT source, CAST(count(*) AS BIGINT) AS affected_docs
          FROM (SELECT DISTINCT g.source, g.doc_id
                FROM g JOIN df ON g.source = df.source AND g.g = df.g
                WHERE df.df >= 2)
          GROUP BY 1),
        nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1)
        SELECT nd.source, nd.n_docs,
          CAST(COALESCE(stats.n_grams, 0) AS BIGINT) AS n_grams,
          CAST(COALESCE(stats.n_boiler, 0) AS BIGINT) AS n_boiler,
          CAST(COALESCE(aff.affected_docs, 0) AS BIGINT) AS affected_docs,
          CAST(COALESCE(aff.affected_docs, 0) AS BIGINT) * 1000000
            // nd.n_docs AS affected_ppm
        FROM nd LEFT JOIN stats ON nd.source = stats.source
        LEFT JOIN aff ON nd.source = aff.source
        ORDER BY nd.source""")),

    // BOILERPLATE SCREEN — FINGERPRINT SCALE TWIN (r14 wave 6) — the
    // declared next-scale form of q_boilerplate_ngrams (the
    // q_window_ntile_bucketed precedent: ship the production shape as
    // its own gated query): the per-doc gram DISTINCT is the exact
    // form's only corpus-scale shuffle, and it moves ~50-byte gram
    // STRINGS; here every gram maps to its 48-bit md5 prefix BEFORE
    // the shuffle (conv/Horner — cross-engine identical, the
    // q_dp_counts seed idiom), so the distinct/df/semi-join pipeline
    // moves 8-byte longs instead. df on fingerprints equals df on
    // grams except on a 48-bit collision (~n²/2⁴⁹: ~10⁻⁶ at the gate
    // corpus, ~10⁻³ at 30M grams — and IDENTICAL in both engines, so
    // the gate is exact regardless; the twin-vs-exact equality is
    // spec-asserted at the gate corpus). Measured at 100×: the gram
    // shuffle drops to a third (TUNING §wave-6).
    QDef("q_boilerplate_fingerprint",
      (s, d) => {
        val g = documents(s, d)
          .select(col("source"), col("doc_id"),
            tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("source"), col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                 i -> CAST(conv(substring(md5(CAST(array_join(
                   slice(toks, i, 8), ' ') AS BINARY)), 1, 12), 16, 10)
                   AS BIGINT))""")).as("fp"))
          .distinct()
          .localCheckpoint(true) // df agg + the affected semi-join
        val df = g.groupBy(col("source"), col("fp"))
          .agg(count(lit(1)).as("df"))
          .localCheckpoint(true)
        val stats = df.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"),
            sum((col("df") >= 2L).cast("long")).as("n_boiler"))
        val affected = g.join(df.filter(col("df") >= 2L)
            .select(col("source"), col("fp")), Seq("source", "fp"))
          .select(col("source"), col("doc_id")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("affected_docs"))
        val nd = documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        nd.join(stats, Seq("source"), "left")
          .join(affected, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
            coalesce(col("affected_docs"), lit(0L)).as("affected_docs"))
          .withColumn("affected_ppm",
            expr("affected_docs * 1000000 div n_docs"))
          .orderBy(col("source"))
      },
      Some {
        val horner = (1 to 12).map(i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
            s"${1L << (4 * (12 - i))}").mkString(" + ")
        s"""WITH g AS (SELECT DISTINCT source, doc_id,
              CAST($horner AS BIGINT) AS fp
            FROM (SELECT source, doc_id, md5(gram) AS h
              FROM (SELECT source, doc_id,
                  unnest(list_transform(range(1, len(toks) - 6),
                    i -> array_to_string(toks[i:i+7], ' '))) AS gram
                FROM (SELECT source, doc_id, $tokensSql AS toks
                      FROM documents)
                WHERE len(toks) >= 8))),
          df AS (SELECT source, fp, CAST(count(*) AS BIGINT) AS df
            FROM g GROUP BY 1, 2),
          stats AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_boiler
            FROM df GROUP BY 1),
          aff AS (SELECT source,
              CAST(count(*) AS BIGINT) AS affected_docs
            FROM (SELECT DISTINCT g.source, g.doc_id
                  FROM g JOIN df ON g.source = df.source
                    AND g.fp = df.fp
                  WHERE df.df >= 2)
            GROUP BY 1),
          nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1)
          SELECT nd.source, nd.n_docs,
            CAST(COALESCE(stats.n_grams, 0) AS BIGINT) AS n_grams,
            CAST(COALESCE(stats.n_boiler, 0) AS BIGINT) AS n_boiler,
            CAST(COALESCE(aff.affected_docs, 0) AS BIGINT)
              AS affected_docs,
            CAST(COALESCE(aff.affected_docs, 0) AS BIGINT) * 1000000
              // nd.n_docs AS affected_ppm
          FROM nd LEFT JOIN stats ON nd.source = stats.source
          LEFT JOIN aff ON nd.source = aff.source
          ORDER BY nd.source"""
      }),

    // CLASSIFIER QUALITY METRICS (r14) — per-class precision / recall /
    // F1 / Matthews correlation off the SHARED nbConfusion frame
    // (q_nb_quality's own held-out model — the gate, the DRO
    // reweighting, and this scorecard all read the identical
    // confusion): one-vs-rest tp/fp/fn/tn by exact conditional sums,
    // precision/recall by cross-multiplied ppm division, F1 through
    // the nested-division-free identity f1 = 2·tp/(2·tp + fp + fn),
    // macro-F1 as the integer mean of the rounded per-class F1s
    // (declared), and per-class MCC as ONE sqrt chain over exact
    // integers with the all-four-margins-positive guard (declared
    // MCC = 0 when any margin is empty). Scale: everything after the
    // shared confusion lives on |langs|-bounded frames.
    QDef("q_classifier_metrics",
      (s, d) => {
        val conf = nbConfusion(s, d).localCheckpoint(true)
        val rowT = conf.groupBy(col("true_lang").as("lang"))
          .agg(sum(col("n_docs")).as("row_n"))
        val colT = conf.groupBy(col("pred_lang").as("lang"))
          .agg(sum(col("n_docs")).as("col_n"))
        val tpF = conf.filter(col("true_lang") === col("pred_lang"))
          .select(col("true_lang").as("lang"), col("n_docs").as("tp"))
        val nF = conf.agg(sum(col("n_docs")).as("nn"))
        val per = rowT.join(colT, Seq("lang"), "full_outer")
          .join(tpF, Seq("lang"), "left")
          .crossJoin(broadcast(nF))
          .select(col("lang"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            (coalesce(col("col_n"), lit(0L))
              - coalesce(col("tp"), lit(0L))).as("fp"),
            (coalesce(col("row_n"), lit(0L))
              - coalesce(col("tp"), lit(0L))).as("fn"),
            col("nn"))
          .withColumn("tn",
            col("nn") - col("tp") - col("fp") - col("fn"))
          .withColumn("precision_ppm",
            expr("tp * 1000000 div greatest(tp + fp, 1)"))
          .withColumn("recall_ppm",
            expr("tp * 1000000 div greatest(tp + fn, 1)"))
          .withColumn("f1_ppm",
            expr("2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)"))
          .withColumn("mcc_e6",
            expr("CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0" +
              " OR tn + fn = 0 THEN 0 ELSE" +
              " CAST(round((tp * tn - fp * fn) /" +
              " sqrt((tp + fp) * 1.0 * (tp + fn) * (tn + fp)" +
              " * (tn + fn)) * 1000000, 0) AS BIGINT) END"))
          .localCheckpoint(true) // per-class rows + the macro mean
        per.crossJoin(broadcast(per.agg(
            expr("sum(f1_ppm) div count(*)").as("macro_f1_ppm"))))
          .select(col("lang"), col("tp"), col("fp"), col("fn"),
            col("tn"), col("precision_ppm"), col("recall_ppm"),
            col("f1_ppm"), col("mcc_e6"), col("macro_f1_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH conf AS ($nbConfusionSql),
        rt AS (SELECT true_lang AS lang, CAST(sum(n_docs) AS BIGINT)
            AS row_n FROM conf GROUP BY 1),
        ct AS (SELECT pred_lang AS lang, CAST(sum(n_docs) AS BIGINT)
            AS col_n FROM conf GROUP BY 1),
        tpf AS (SELECT true_lang AS lang,
            CAST(n_docs AS BIGINT) AS tp
          FROM conf WHERE true_lang = pred_lang),
        nf AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM conf),
        base AS (SELECT COALESCE(rt.lang, ct.lang) AS lang,
            COALESCE(tp, 0) AS tp,
            COALESCE(col_n, 0) - COALESCE(tp, 0) AS fp,
            COALESCE(row_n, 0) - COALESCE(tp, 0) AS fn, nn
          FROM rt FULL OUTER JOIN ct ON rt.lang = ct.lang
          LEFT JOIN tpf ON COALESCE(rt.lang, ct.lang) = tpf.lang
          CROSS JOIN nf),
        per AS (SELECT lang, tp, fp, fn,
            nn - tp - fp - fn AS tn,
            tp * 1000000 // greatest(tp + fp, 1) AS precision_ppm,
            tp * 1000000 // greatest(tp + fn, 1) AS recall_ppm,
            2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1) AS f1_ppm,
            CASE WHEN tp + fp = 0 OR tp + fn = 0
                OR nn - tp - fp - fn + fp = 0
                OR nn - tp - fp - fn + fn = 0 THEN 0 ELSE
              CAST(round((tp * (nn - tp - fp - fn) - fp * fn) /
                sqrt((tp + fp) * 1.0 * (tp + fn)
                  * (nn - tp - fp - fn + fp)
                  * (nn - tp - fp - fn + fn)) * 1000000, 0) AS BIGINT)
              END AS mcc_e6
          FROM base),
        mac AS (SELECT CAST(sum(f1_ppm) // count(*) AS BIGINT)
            AS macro_f1_ppm FROM per)
        SELECT lang, tp, fp, fn, tn, precision_ppm, recall_ppm,
          f1_ppm, mcc_e6, macro_f1_ppm
        FROM per CROSS JOIN mac ORDER BY lang""")),

    // Mixture re-weighting: per-language corpus shares vs a uniform
    // target mixture, as parts-per-million INTEGER arithmetic (weight =
    // how much to over/under-sample each shard so the training mix hits
    // the target). Two tiny aggregates + a broadcast single-row cross
    // join — the 100 TB plan is one map-side-combined count per shard.
    QDef("q_domain_mix",
      (s, d) => {
        val counts = documents(s, d).groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"))
        val tot = documents(s, d)
          .agg(count(lit(1)).as("total"),
            countDistinct(col("lang")).as("n_langs"))
        counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("cnt"),
            expr("cnt * 1000000 div total").as("actual_ppm"),
            expr("1000000 div n_langs").as("target_ppm"),
            expr("total * 1000000 div (n_langs * cnt)").as("weight_ppm"))
          .orderBy(col("lang"))
      },
      Some("""WITH counts AS (SELECT lang, count(*) AS cnt
            FROM documents GROUP BY lang),
          tot AS (SELECT count(*) AS total, count(DISTINCT lang) AS n_langs
            FROM documents)
        SELECT lang, cnt,
          cnt * 1000000 // total AS actual_ppm,
          1000000 // n_langs AS target_ppm,
          total * 1000000 // (n_langs * cnt) AS weight_ppm
        FROM counts CROSS JOIN tot ORDER BY lang""")),

    // DSIR-style importance weights: score every document by the
    // log-likelihood ratio of its unigrams under the TARGET slice's
    // add-one-smoothed LM (here: source = 'src0' as the target domain)
    // vs the full corpus's — the hashed-ngram importance-resampling
    // estimator of Xie et al., with the vocab small enough to skip the
    // hashing. Two wordcount aggregates + one equi-join of doc tokens to
    // the count tables: all map-side combinable. Determinism: each ln
    // term is rounded ONCE into scaled-integer space (1e-4 units,
    // CAST(round(ln·10⁴) AS BIGINT)) and every downstream op — the
    // per-doc sum and the sign gate — is exact BIGINT arithmetic. A
    // first cut averaged the pre-rounded double terms and round(·,6)'d
    // the quotient; grid-valued sums divided by doc length land exactly
    // ON 7th-decimal midpoints, which the engines round opposite ways
    // (3 docs flipped at sf0.1). Scaled integers have no later float op
    // to flip.
    QDef("q_dsir_weights",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
        val ct = toks.filter(col("source") === "src0")
          .groupBy(col("w")).agg(count(lit(1)).as("c_t"))
        val cr = toks.groupBy(col("w")).agg(count(lit(1)).as("c_r"))
        val tot = toks.agg(
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_t"),
          count(lit(1)).as("n_r"),
          countDistinct(col("w")).as("v"))
        toks.join(ct.hint("broadcast"), Seq("w"), "left")
          .join(cr.hint("broadcast"), Seq("w"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            (round(log((coalesce(col("c_t"), lit(0L)) + 1.0) /
                       (col("n_t") + col("v"))) * 10000, 0).cast("long") -
             round(log((col("c_r") + 1.0) / (col("n_r") + col("v"))) * 10000, 0)
               .cast("long")).as("t_e4"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"), sum(col("t_e4")).as("llr_e4"))
          .select(col("doc_id"), col("n_toks"), col("llr_e4"),
            (col("llr_e4") > 0L).cast("long").as("target_like"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, unnest($tokensSql) AS w
            FROM documents),
        ct AS (SELECT w, count(*) AS c_t FROM toks
            WHERE source = 'src0' GROUP BY w),
        cr AS (SELECT w, count(*) AS c_r FROM toks GROUP BY w),
        tot AS (SELECT count(*) FILTER (WHERE source = 'src0') AS n_t,
            count(*) AS n_r, count(DISTINCT w) AS v FROM toks),
        terms AS (SELECT doc_id,
            CAST(round(ln((COALESCE(ct.c_t, 0) + 1.0) / (tot.n_t + tot.v))
              * 10000) AS BIGINT) -
            CAST(round(ln((cr.c_r + 1.0) / (tot.n_r + tot.v))
              * 10000) AS BIGINT) AS t_e4
          FROM toks LEFT JOIN ct USING (w) JOIN cr USING (w) CROSS JOIN tot)
        SELECT doc_id, count(*) AS n_toks,
          CAST(sum(t_e4) AS BIGINT) AS llr_e4,
          CAST(sum(t_e4) > 0 AS BIGINT) AS target_like
        FROM terms GROUP BY doc_id ORDER BY doc_id""")),

    // Vocabulary coverage / OOV rate: fix the tokenizer vocab as the
    // corpus's top-20 tokens (count DESC, token ASC — a deterministic
    // total order) and report each document's out-of-vocabulary token
    // count and ppm rate — the "will my tokenizer fragment this corpus"
    // gate. The vocab is a broadcast-sized dim; the per-doc rollup is
    // one hash-agg over the exploded tokens.
    QDef("q_oov_rate",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(20)
          .select(col("w"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("w"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_toks"), col("n_oov"),
            expr("n_oov * 1000000 div n_toks").as("oov_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS w
            FROM documents),
        vocab AS (SELECT w FROM (
            SELECT w, count(*) AS n FROM toks GROUP BY w
            ORDER BY n DESC, w LIMIT 20)),
        marked AS (SELECT doc_id,
            CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END AS oov
          FROM toks)
        SELECT doc_id, count(*) AS n_toks,
          CAST(sum(oov) AS BIGINT) AS n_oov,
          CAST(sum(oov) AS BIGINT) * 1000000 // count(*) AS oov_ppm
        FROM marked GROUP BY doc_id ORDER BY doc_id""")),

    // SemDeDup-style semantic dedup KEEP LIST: within each embedding
    // cluster (the label column stands in for the k-means assignment the
    // IVF queries train), drop every vector that has a LOWER-id neighbor
    // above the cosine threshold — the greedy min-id representative rule
    // — and report per-cluster kept/dropped counts. The candidate set is
    // the same label-blocked pair join as q_dedup_embedding (never
    // all-pairs); the keep rule is one LEFT ANTI join on the pair list.
    QDef("q_semdedup_keep",
      (s, d) => {
        val e = embeddings(s, d)
        val a = e.select(col("vec_id").as("id_a"), col("label"),
          col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("label"),
          col("embedding").as("vb"))
        val dropped = a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(graft.functions.VectorFunctions.vec_cosine(
            col("va"), col("vb")), 6) >= 0.3)
          .select(col("id_b").as("vec_id")).distinct()
        val kept = e.select(col("vec_id"), col("label"))
          .join(dropped, Seq("vec_id"), "left_anti")
        e.groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_vecs"))
          .join(kept.groupBy(col("label").cast("long").as("label"))
            .agg(count(lit(1)).as("n_kept")), Seq("label"))
          .select(col("label"), col("n_vecs"), col("n_kept"),
            (col("n_vecs") - col("n_kept")).as("n_dropped"))
          .orderBy(col("label"))
      },
      Some(s"""WITH dropped AS (SELECT DISTINCT b.vec_id
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6)
            >= 0.3),
        kept AS (SELECT e.vec_id, e.label FROM embeddings e
          WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped))
        SELECT CAST(e.label AS BIGINT) AS label, count(*) AS n_vecs,
          any_value(k.n_kept) AS n_kept,
          count(*) - any_value(k.n_kept) AS n_dropped
        FROM embeddings e
        JOIN (SELECT label, count(*) AS n_kept FROM kept GROUP BY label) k
          ON e.label = k.label
        GROUP BY 1 ORDER BY label""")),

    // BPE merge-candidate statistics: the first step of byte-pair-
    // encoding tokenizer training — count every adjacent character pair
    // WITHIN each word across the corpus and rank merge candidates.
    // explode + hash-agg, map-side combinable like any word count; a
    // full BPE trainer iterates this with the winning merge applied,
    // each round the same one-shuffle shape.
    QDef("q_bpe_pairs",
      (s, d) => documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          """zip_with(slice(split(w, ''), 1, length(w) - 1),
                      slice(split(w, ''), 2, length(w) - 1),
                      (a, b) -> concat(a, b))""")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30),
      Some(s"""SELECT pair, count(*) AS n FROM (
          SELECT chars[i] || chars[i + 1] AS pair FROM (
            SELECT string_split(w, '') AS chars,
              unnest(range(1, length(w))) AS i
            FROM (SELECT unnest($tokensSql) AS w FROM documents)
            WHERE length(w) >= 2))
        GROUP BY pair ORDER BY n DESC, pair LIMIT 30""")),

    // ITERATIVE BPE training rounds — q_bpe_pairs counts merge
    // candidates once; this REPLAYS the trainer loop: 3 rounds of
    // (count adjacent symbol pairs → pick the winner → apply the merge
    // greedily left-to-right) with the full merge trajectory as the
    // compared output, under the q_kmeans_lloyd declared-iterative
    // precedent. The greedy left-to-right application is computed
    // RELATIONALLY (no fold): matched positions (sym=x ∧ next=y) in a
    // word form maximal runs of consecutive positions (only possible
    // for x=y); within a run the merge takes positions at even offset
    // from the run start — exactly textbook BPE's non-overlapping
    // left-to-right scan — then merged-away rows (position after a
    // merge start) drop and positions renumber. Winner selection is a
    // total order (count desc, pair asc): class A, both engines walk
    // the identical trajectory and the oracle replays all three rounds
    // as chained CTEs (instance-level — proving the r13 type-weighted
    // trainer counts through the gate). Scale: state is the
    // distinct-word histogram exploded to (word-type, position, symbol)
    // with the corpus count riding along — every window partitions by
    // word TYPE, so per-round shuffles are vocabulary-sized, never
    // corpus-sized; the winner is a broadcast 1-row frame; per-round
    // localCheckpoint truncates lineage like the k-means and
    // connected-components fixpoints.
    QDef("q_bpe_merges",
      (s, d) => {
        val (winners, _) = bpeTrain(s, d, bpeRounds, wordHist(s, d, None))
        winners.zipWithIndex.map { case (w, i) =>
          w.select(lit(i + 1).cast("long").as("round"),
            concat_ws(" ", col("x"), col("y")).as("pair"), col("n"))
        }.reduce(_ union _).orderBy(col("round"))
      },
      Some(s"""WITH ${bpeCtePrelude()}
          SELECT * FROM ($bpeWinnersSelect) ORDER BY round""")),

    // BPE VOCABULARY emission — the tokenizer ARTIFACT, not just the
    // trajectory: after the 3 trainer rounds, the surviving symbol
    // table (top 30 by corpus frequency, count desc / symbol asc).
    // Shares the bpeTrain loop and the chained-CTE oracle prelude with
    // q_bpe_merges, so the two declared outputs can never drift. A real
    // tokenizer build materializes exactly this table (plus the merge
    // list above) as its artifact pair.
    QDef("q_bpe_vocab",
      (s, d) => {
        val (_, state) = bpeTrain(s, d, bpeRounds, wordHist(s, d, None))
        state.groupBy(col("sym")).agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("sym")).limit(30)
      },
      Some(s"""WITH ${bpeCtePrelude()}
          SELECT sym, count(*) AS n FROM s$bpeRounds
          GROUP BY sym ORDER BY n DESC, sym LIMIT 30""")),

    // BPE tokenizer APPLICATION — the trained merge list used as a
    // tokenizer on data the trainer never saw: train the 3 merge rounds
    // on the 80% Knuth-hash train split (the q_split_assign bucket,
    // composable with the declared split), then apply the winners IN
    // TRAINING ORDER to the held-out 20% via the SAME bpeMergeStep
    // machinery (shared code — train/apply semantics cannot drift), and
    // report per-lang tokenization quality: docs, words, emitted tokens
    // (merged symbols + untouched 1-char words), characters, and
    // compression in basis points (chars·10⁴ div tokens — >10000 means
    // the tokenizer packs more than one char per token). This is the
    // fertility/compression scorecard a real tokenizer build publishes
    // beside its vocab artifact. All-integer output: class A
    // determinism. Scale: apply is 3 broadcast-winner passes over
    // word-instance-partitioned windows — the same massively parallel
    // shape as training, with no corpus-global state.
    QDef("q_bpe_tokenize",
      (s, d) => heldOutTokenize(s, d, wordpieceScore = false),
      Some(heldOutTokenizeSql(bpeCtePrelude(s" WHERE $bpeTrainPredSql")))),

    // WORDPIECE TRAINER — the THIRD production tokenizer family
    // (Schuster & Nakajima 2012; BERT's tokenizer): identical greedy
    // merge machinery to BPE, but the winner maximizes the LIKELIHOOD
    // GAIN count(xy)/(count(x)·count(y)) instead of the raw pair count
    // — the one-CTE-per-round difference, with bpeMergeStep and the
    // apply CTEs shared verbatim so the three families' merge
    // semantics cannot drift. The score is cleared to the exact 1e12
    // integer grid (DECIMAL(38)/HUGEINT cross-multiplication — class
    // A); ties under the declared grid break on (x, y). Output: the
    // 3-round merge trajectory with counts and scores. Imperative
    // replay beside the BPE one in CurationSpec.
    QDef("q_wordpiece_merges",
      (s, d) => {
        val (winners, _) = bpeTrain(s, d, bpeRounds,
          wordHist(s, d, None), wordpieceScore = true)
        winners.zipWithIndex.map { case (w, i) =>
          w.select(lit(i + 1).cast("long").as("round"),
            concat_ws(" ", col("x"), col("y")).as("pair"), col("n"),
            col("score_e12"))
        }.reduce(_ union _).orderBy(col("round"))
      },
      Some(s"""WITH ${wordpieceCtePrelude()}
          SELECT * FROM (${(1 to bpeRounds).map(r =>
            s"SELECT CAST($r AS BIGINT) AS round, x || ' ' || y AS pair," +
              s" n, score_e12 FROM w$r").mkString("\n          UNION ALL ")})
          ORDER BY round""")),

    // WORDPIECE tokenizer APPLICATION — the held-out apply completing
    // the third family (the q_bpe_tokenize contract with the
    // likelihood-gain trainer): train the 3 wordpiece-scored merge
    // rounds on the 80% Knuth-hash split, apply IN TRAINING ORDER to
    // the held-out 20% via the shared heldOutTokenize/[[bpeMergeStep]]
    // machinery (merge semantics provably identical across families),
    // and report the same per-lang fertility scorecard. With this, all
    // three trained families (BPE / WordPiece / Unigram-LM) carry a
    // train→held-out-apply pair, and q_tokenizer_compare can rank them
    // three-way. Scale: identical plan shape to q_bpe_tokenize.
    QDef("q_wordpiece_tokenize",
      (s, d) => heldOutTokenize(s, d, wordpieceScore = true),
      Some(heldOutTokenizeSql(
        wordpieceCtePrelude(s" WHERE $bpeTrainPredSql")))),

    // UNIGRAM-LM (SentencePiece) TRAINER — the OTHER production
    // tokenizer family beside BPE (Kudo 2018: a unigram language model
    // over pieces, trained by EM, here the Viterbi hard-count
    // reduction): seed = chars + top-64 substrings, 3 rounds of
    // score → per-word best segmentation → count re-estimate. The
    // E-step is a pure equi-join against the builder-time composition
    // table (unigramPieces — no engine-side DP), the argmax a total
    // order, the scores add-one-smoothed scaled-integer logs rounded
    // before comparison. The only corpus-scale work is the word-count
    // agg; EM runs on the distinct-word histogram — the actual
    // SentencePiece-at-scale shape (it ingests a word histogram, not
    // the corpus). Trains on the same Knuth-hash 80% split as BPE.
    // Output: the trained piece table with final hard counts and
    // scores. Imperative JVM replay of the full EM in CurationSpec.
    QDef("q_unigram_lm",
      (s, d) => {
        val (vocab, _) = unigramTrain(s, d)
        vocab.crossJoin(broadcast(vocab.agg(sum(col("cnt")).as("tot"),
            count(lit(1)).as("nv"))))
          .select(col("piece"),
            length(col("piece")).cast("long").as("piece_len"),
            col("cnt"), expr(unigramLpExpr).as("lp_e6"))
          .orderBy(col("cnt").desc, col("piece"))
      },
      Some(s"""WITH $unigramCtePrelude
          SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt,
            lp AS lp_e6
          FROM (SELECT v.piece, v.cnt, s.lp
            FROM v$unigramRounds v JOIN scf s USING (piece))
          ORDER BY cnt DESC, piece""")),

    // UNIGRAM-LM HELD-OUT APPLY — the trained piece scores segment the
    // 20% held-out split (train/apply share unigramBest + the scored
    // vocab, so the two surfaces cannot drift — the q_bpe_tokenize
    // pattern): per lang, word/piece/char counts and the chars-per-
    // piece compression ratio, with words that admit NO valid
    // segmentation (unseen char, length > 8) counted in the declared
    // OOV bucket instead of silently dropped. Corpus-scale work = one
    // per-(lang, word) count agg; segmentation joins run on the
    // distinct held-out word frame.
    QDef("q_unigram_tokenize",
      (s, d) => unigramTokenizeFn(s, d),
      Some(s"""WITH $unigramCtePrelude,
          hw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS wcnt,
              CAST(length(w) AS BIGINT) AS wlen
            FROM (SELECT lang, unnest(toks) AS w FROM
              (SELECT lang, $tokensSql AS toks FROM documents
               WHERE NOT ($bpeTrainPredSql)))
            GROUP BY lang, w),
          hseg AS (SELECT w, wlen, cid, n_pieces,
              CAST(sum(lp) AS BIGINT) AS s_lp
            FROM (SELECT c.w, c.wlen, c.cid, c.n_pieces,
                substr(c.w, c.off + 1, c.plen) AS piece
              FROM (SELECT hd.w, hd.wlen, p.cid, p.off, p.plen, p.n_pieces
                FROM (SELECT DISTINCT w, wlen FROM hw) hd
                JOIN comps p ON hd.wlen = p.wlen) c)
            JOIN scf USING (piece)
            GROUP BY w, wlen, cid, n_pieces
            HAVING count(*) = n_pieces),
          hbest AS (SELECT w, n_pieces FROM (
              SELECT *, row_number() OVER (PARTITION BY w
                ORDER BY s_lp DESC, n_pieces, cid) AS rn FROM hseg)
            WHERE rn = 1)
          SELECT lang, CAST(sum(wcnt) AS BIGINT) AS n_words,
            CAST(sum(CASE WHEN b.n_pieces IS NULL THEN wcnt ELSE 0 END)
              AS BIGINT) AS n_oov,
            CAST(sum(CASE WHEN b.n_pieces IS NOT NULL
              THEN wcnt * b.n_pieces ELSE 0 END) AS BIGINT) AS n_pieces,
            CAST(sum(CASE WHEN b.n_pieces IS NOT NULL
              THEN wcnt * wlen ELSE 0 END) AS BIGINT) AS n_chars,
            CAST(CAST(sum(CASE WHEN b.n_pieces IS NOT NULL
                THEN wcnt * wlen ELSE 0 END) AS BIGINT) * 10000
              // CAST(sum(CASE WHEN b.n_pieces IS NOT NULL
                THEN wcnt * b.n_pieces ELSE 0 END) AS BIGINT) AS BIGINT)
              AS chars_per_piece_bp
          FROM hw LEFT JOIN hbest b USING (w)
          GROUP BY lang ORDER BY lang""")),

    // Incremental dedup: the arriving-batch-vs-existing-corpus shape a
    // maintained corpus needs (full re-dedup of 100 TB per delivery is
    // not a plan). Sources src0-src4 stand in as the existing corpus,
    // the rest as the new delivery; a LEFT ANTI join on the normalized
    // content hash admits only genuinely new documents. At scale the
    // existing side is a bucketed hash index the anti-join co-locates
    // with; the new batch is small — the join broadcasts it.
    QDef("q_dedup_incremental",
      (s, d) => {
        val norm = documents(s, d).select(col("doc_id"), col("source"),
          md5(trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).cast("binary")).as("h"))
        val existing = norm.filter(
          col("source").isin("src0", "src1", "src2", "src3", "src4"))
        val fresh = norm.filter(
          !col("source").isin("src0", "src1", "src2", "src3", "src4"))
        val admitted = fresh.join(existing.select(col("h")),
          Seq("h"), "left_anti")
        fresh.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
          .join(admitted.groupBy(col("source"))
            .agg(count(lit(1)).as("n_admitted")), Seq("source"), "left")
          .select(col("source"), col("n_new"),
            coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
            (col("n_new") - coalesce(col("n_admitted"), lit(0L)))
              .as("n_dropped"))
          .orderBy(col("source"))
      },
      Some("""WITH norm AS (SELECT doc_id, source,
            md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
          FROM documents),
        existing AS (SELECT h FROM norm
          WHERE source IN ('src0','src1','src2','src3','src4')),
        fresh AS (SELECT * FROM norm
          WHERE source NOT IN ('src0','src1','src2','src3','src4')),
        admitted AS (SELECT * FROM fresh
          WHERE h NOT IN (SELECT h FROM existing))
        SELECT f.source, count(*) AS n_new,
          COALESCE(a.n_admitted, 0) AS n_admitted,
          count(*) - COALESCE(a.n_admitted, 0) AS n_dropped
        FROM fresh f
        LEFT JOIN (SELECT source, count(*) AS n_admitted
          FROM admitted GROUP BY source) a ON f.source = a.source
        GROUP BY f.source, a.n_admitted ORDER BY f.source""")),

    // Winnowing fingerprints (Schleimer et al., the MOSS scheme): hash
    // every 8-char k-gram with the q_doc_fingerprint polynomial
    // (base 31 mod 1e9+7 — integer-exact in both engines), slide a
    // 4-hash window selecting each window's MINIMUM, and report
    // fingerprints shared by ≥2 documents — the guarantee is any shared
    // substring of ≥ k+w-1 = 11 chars yields a shared fingerprint. All
    // per-doc HOF work is scan-side (O(len·k) per doc); the only
    // shuffle is the fingerprint groupBy. Docs shorter than 11 chars
    // are excluded by both engines (declared semantics).
    QDef("q_winnowing",
      (s, d) => {
        val fps = winnowFps(s, d)
        fps.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("fp"))
          .limit(100)
      },
      Some(s"""WITH $winnowCte
        SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occ DESC, fp LIMIT 100""")),

    // CROSS-DOC DUPLICATED-SPAN MASS — the ExactSubstr-dedup ESTIMATE
    // from the same winnowing fingerprints: for each doc, the fraction
    // of its (distinct) fingerprints that also occur in some OTHER doc
    // upper-bounds how much of its text is ≥11-char spans copied across
    // the corpus — the per-document "how much of me is boilerplate"
    // score that span-level dedup pipelines cut on. Shared-fp set =
    // fingerprints with ≥2 distinct docs (one map-side-combinable agg
    // over the SAME winnowFps frame q_winnowing reads — the two cannot
    // drift); per-doc mass is a left-semi-style flag sum; dup_bp by
    // truncating integer division (class A, no float). Top-30 under the
    // (dup_bp desc, doc_id) total order.
    QDef("q_dupspan_mass",
      (s, d) => {
        val fps = winnowFps(s, d).localCheckpoint(true)
        val shared = fps.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("fp"))
        fps.join(shared.withColumn("hit", lit(1L)), Seq("fp"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"),
            sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
          .filter(col("n_fp") >= 5)
          .select(col("doc_id"), col("n_fp"), col("n_shared"),
            expr("n_shared * 10000 div n_fp").as("dup_bp"))
          .orderBy(col("dup_bp").desc, col("doc_id"))
          .limit(30)
      },
      Some(s"""WITH $winnowCte,
        shared AS (SELECT fp FROM sel GROUP BY fp
          HAVING count(DISTINCT doc_id) >= 2)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
          CAST(sum(CASE WHEN shared.fp IS NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS n_shared,
          CAST(sum(CASE WHEN shared.fp IS NULL THEN 0 ELSE 1 END) * 10000
            // count(*) AS BIGINT) AS dup_bp
        FROM sel LEFT JOIN shared ON sel.fp = shared.fp
        GROUP BY doc_id HAVING count(*) >= 5
        ORDER BY dup_bp DESC, doc_id LIMIT 30""")),

    // Symmetric int8 embedding quantization (the serving-side compression
    // every vector store applies): per-vector scale = max|x|/127, each
    // element rounds to floor(x/scale + 0.5) ∈ [-127, 127]. All math is
    // per-row IEEE double (float32 inputs widen exactly; no cross-row
    // float ordering anywhere), so both engines produce bit-identical
    // ints; the compared columns are pure counts plus a pinned
    // reconstruction-error flag (|x - q·scale| ≤ scale/2 holds by
    // construction; the 1e-9 slack absorbs the two ulp-scale rounding
    // steps). Map-only over the vectors — embarrassingly parallel at
    // 100 TB; the rollup groups on the tiny label dimension.
    QDef("q_embed_quantize",
      (s, d) => embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          col("embedding"),
          expr("""array_max(transform(embedding,
            x -> abs(CAST(x AS DOUBLE))))""").as("ma"))
        .withColumn("deq", col("ma") / lit(127.0))
        .withColumn("q", expr(
          """CASE WHEN ma = 0d THEN transform(embedding, x -> 0L)
             ELSE transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / deq + 0.5d) AS BIGINT))
             END"""))
        .withColumn("n_err_elems", expr(
          """size(filter(zip_with(embedding, q,
               (x, qq) -> abs(CAST(x AS DOUBLE) - qq * deq)
                            <= deq * 0.5d * (1d + 1e-9d)),
             b -> NOT b))"""))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(size(col("q"))).as("n_elems"),
          sum(expr("size(filter(q, e -> e = 0L))")).as("n_zero"),
          sum(expr("size(filter(q, e -> abs(e) = 127L))")).as("n_sat"),
          sum(col("n_err_elems")).as("n_err"))
        .orderBy(col("label")),
      Some("""WITH base AS (
          SELECT CAST(label AS BIGINT) AS label, embedding,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS ma
          FROM embeddings),
        qd AS (
          SELECT label, embedding, ma, ma / 127.0 AS deq,
            CASE WHEN ma = 0 THEN
              list_transform(embedding, x -> CAST(0 AS BIGINT))
            ELSE list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) / (ma / 127.0) + 0.5)
                     AS BIGINT)) END AS q
          FROM base),
        e AS (
          SELECT label, q,
            len(list_filter(range(1, len(q) + 1),
              i -> NOT (abs(CAST(embedding[i] AS DOUBLE) - q[i] * deq)
                          <= deq * 0.5 * (1 + 1e-9)))) AS n_err_elems
          FROM qd)
        SELECT label, count(*) AS n_vecs,
          CAST(sum(len(q)) AS BIGINT) AS n_elems,
          CAST(sum(len(list_filter(q, e -> e = 0))) AS BIGINT) AS n_zero,
          CAST(sum(len(list_filter(q, e -> abs(e) = 127))) AS BIGINT)
            AS n_sat,
          CAST(sum(n_err_elems) AS BIGINT) AS n_err
        FROM e GROUP BY label ORDER BY label""")),

    // Top-100 vocabulary coverage curve (tokenizer design: how much of
    // the token stream does a k-word vocab cover?). Token counts are one
    // explode + groupBy; the top-100 selection is a TakeOrdered with a
    // total (cnt DESC, token ASC) tiebreak — never a global sort of the
    // vocabulary; rank/cumulative-coverage windows then run over 100
    // rows. Coverage in exact integer ppm against the corpus-wide token
    // total (broadcast 1-row frame). rank·cnt is the Zipf-law constant
    // audit. Everything BIGINT-exact.
    QDef("q_vocab_coverage",
      (s, d) => {
        val tok = documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
        val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val total = tok.agg(count(lit(1)).as("total"))
        val top = counts.orderBy(col("cnt").desc, col("tok")).limit(100)
        val w = Window.orderBy(col("cnt").desc, col("tok"))
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(w))
          .withColumn("cume", sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("rank"), col("tok"), col("cnt"),
            (col("rank") * col("cnt")).as("rank_x_freq"),
            expr("cume * 1000000 div total").as("cov_ppm"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH tok AS (
          SELECT unnest($tokensSql) AS tok FROM documents),
        counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        total AS (SELECT count(*) AS total FROM tok),
        top AS (SELECT tok, cnt FROM counts
          ORDER BY cnt DESC, tok LIMIT 100)
        SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
          tok, cnt,
          row_number() OVER (ORDER BY cnt DESC, tok) * cnt AS rank_x_freq,
          CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // total AS BIGINT) AS cov_ppm
        FROM top, total ORDER BY rank""")),

    // Token-budget mixture planning: given per-lang token counts and a
    // uniform target mixture, how many epochs of each shard fill the
    // budget. The real-world step between q_domain_mix's weights and a
    // training run: epochs_ppm > 1e6 means the shard repeats (upsampled),
    // < 1e6 means it's subsampled. Two tiny aggregates + a broadcast
    // 1-row cross join; ceil division in pure BIGINTs.
    QDef("q_mixture_plan",
      (s, d) => {
        val lt = documents(s, d)
          .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_toks"))
          .groupBy(col("lang"))
          .agg(sum(col("n_toks")).as("lang_tokens"), count(lit(1)).as("n_docs"))
        val tot = lt.agg(sum(col("lang_tokens")).as("total_tokens"),
          count(lit(1)).as("n_langs"))
        lt.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("lang_tokens"),
            expr("total_tokens div n_langs").as("target_tokens"),
            expr("(total_tokens div n_langs) * 1000000 div lang_tokens")
              .as("epochs_ppm"),
            expr("(total_tokens div n_langs + lang_tokens - 1) div lang_tokens")
              .as("n_epochs"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH lt AS (SELECT lang, count(*) AS n_docs,
            CAST(sum(CAST(len($tokensSql) AS BIGINT)) AS BIGINT)
              AS lang_tokens
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
            count(*) AS n_langs FROM lt)
        SELECT lang, n_docs, lang_tokens,
          CAST(total_tokens // n_langs AS BIGINT) AS target_tokens,
          CAST((total_tokens // n_langs) * 1000000 // lang_tokens AS BIGINT)
            AS epochs_ppm,
          CAST((total_tokens // n_langs + lang_tokens - 1) // lang_tokens
            AS BIGINT) AS n_epochs
        FROM lt CROSS JOIN tot ORDER BY lang""")),

    // Deterministic curriculum ordering: three length phases (easy →
    // hard), pseudo-shuffled within each phase by md5(doc_id) — the
    // reproducible data-order step of a training run (same hash idiom as
    // q_split_assign: no RNG state, identical across engines/runs).
    // Batch assignment is integer division of the global position.
    // EXECUTED as the sharded two-level prefix sum (r13 VERDICT
    // directive 1 — previously this was the suite's one corpus-scale
    // unpartitioned window): shard = the md5's first hex nibble, so
    // ordering by (phase, shard, h, doc_id) ≡ (phase, h, doc_id) —
    // the shard key is a PREFIX of the sort key. Per-shard ranks come
    // from a PARTITIONED window (48 groups, each sorting 1/16 of a
    // phase independently — at larger scale the prefix length is the
    // knob: 2 hex chars → 768 shards); global offsets come from a
    // 48-row shard-count frame prefix-summed by a theta self-join
    // (the q_token_packing mechanism), broadcast back. Output — and
    // the oracle — are byte-identical to the global row_number form;
    // the in-plan assertion pins that NO unpartitioned WindowExec
    // survives anywhere in the physical plan.
    QDef("q_curriculum_order",
      (s, d) => {
        val phased = documents(s, d)
          .select(col("doc_id"), col("lang"),
            when(col("n_chars") < 200, 0)
              .when(col("n_chars") < 350, 1).otherwise(2).as("phase"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
          .withColumn("shard", substring(col("h"), 1, 1))
        val ranked = phased.withColumn("rk", row_number().over(
          Window.partitionBy(col("phase"), col("shard"))
            .orderBy(col("h"), col("doc_id"))))
        val counts = phased.groupBy(col("phase"), col("shard"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // ≤ 48 rows; both sides of the theta join
        val offs = counts.as("a").join(counts.as("b"),
            col("b.phase") < col("a.phase") ||
              (col("b.phase") === col("a.phase") &&
                col("b.shard") < col("a.shard")), "left")
          .groupBy(col("a.phase").as("phase"), col("a.shard").as("shard"))
          .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("off"))
        val out = ranked.join(broadcast(offs), Seq("phase", "shard"))
          .select(col("doc_id"), col("lang"), col("phase"),
            (col("off") + col("rk")).as("pos"))
          .select(col("doc_id"), col("lang"), col("phase"), col("pos"),
            expr("(pos - 1) div 32").as("batch_id"),
            ((col("pos") - 1) % 32).as("pos_in_batch"))
          .orderBy(col("pos"))
        val unpart = out.queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        if (unpart.nonEmpty)
          throw new IllegalStateException("q_curriculum_order: " +
            s"unpartitioned WindowExec in the plan:\n${unpart.head}")
        out
      },
      Some("""SELECT doc_id, lang, phase, pos,
          (pos - 1) // 32 AS batch_id, (pos - 1) % 32 AS pos_in_batch
        FROM (SELECT doc_id, lang,
            CASE WHEN n_chars < 200 THEN 0
                 WHEN n_chars < 350 THEN 1 ELSE 2 END AS phase,
            row_number() OVER (ORDER BY
              CASE WHEN n_chars < 200 THEN 0
                   WHEN n_chars < 350 THEN 1 ELSE 2 END,
              md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
          FROM documents)
        ORDER BY pos""")),

    // Deterministic per-stratum exact-k sample ("reservoir" semantics
    // without RNG state): rank by md5(doc_id) within each lang and keep
    // the first k=10 — reproducible across engines, runs, partitionings,
    // and (unlike fraction sampling) exact in size. One window over the
    // lang partition; at scale each stratum sorts independently.
    QDef("q_sample_reservoir",
      (s, d) => documents(s, d)
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy(col("lang"), col("rk")),
      Some("""SELECT doc_id, lang, rk FROM (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        WHERE rk <= 10 ORDER BY lang, rk""")),

    // Exact proportional quota allocation (Hare quota + largest
    // remainder): distribute 1,000 sample slots across language shards
    // exactly proportionally to their sizes — the integer-exact answer
    // to "fraction sampling never sums to the budget". base = ⌊slots·
    // cnt/total⌋, leftover slots go to the largest remainders (ties →
    // lang asc). Σ alloc == slots BY CONSTRUCTION, spec-asserted. All
    // BIGINT; one tiny agg + one broadcast window.
    QDef("q_quota_allocate",
      (s, d) => {
        val slots = 1000L
        val counts = documents(s, d).groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(col("cnt")).as("total"),
          count(lit(1)).as("n_langs"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("lang"))
        counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("cnt"),
            expr(s"$slots * cnt div total").as("base"),
            expr(s"$slots * cnt % total").as("rem"),
            col("total"))
          .withColumn("rk", row_number().over(w))
          .withColumn("leftover",
            lit(slots) - sum(col("base")).over(
              org.apache.spark.sql.expressions.Window
                .rowsBetween(org.apache.spark.sql.expressions.Window
                  .unboundedPreceding, org.apache.spark.sql.expressions
                  .Window.unboundedFollowing)))
          .select(col("lang"), col("cnt"), col("base"), col("rem"),
            when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"),
            (col("base") + when(col("rk") <= col("leftover"), 1L)
              .otherwise(0L)).as("alloc"))
          .orderBy(col("lang"))
      },
      Some("""WITH counts AS (SELECT lang, count(*) AS cnt
            FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
          based AS (SELECT lang, cnt,
              CAST(1000 * cnt // total AS BIGINT) AS base,
              CAST(1000 * cnt % total AS BIGINT) AS rem
            FROM counts CROSS JOIN tot),
          ranked AS (SELECT *,
              row_number() OVER (ORDER BY rem DESC, lang) AS rk,
              CAST(1000 - sum(base) OVER () AS BIGINT) AS leftover
            FROM based)
        SELECT lang, cnt, base, rem,
          CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
            AS extra,
          CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
            AS alloc
        FROM ranked ORDER BY lang""")),

    // ZIPF-LAW fit — the corpus-statistics health check every tokenizer/
    // sampling decision leans on: least-squares slope of ln(freq) vs
    // ln(rank) over the top-1000 tokens (natural text ⇒ slope ≈ −1; a
    // flat slope flags boilerplate/spam corpora). Determinism is the
    // q_dsir_weights scaled-integer mechanism: each ln lands ONCE on the
    // 1e-4 grid as a BIGINT; all five regression moments are then exact
    // integer (DECIMAL(38,0)/HUGEINT for the cross products — n·Σxy
    // overflows int64 at these magnitudes), and slope/R² come out by
    // truncating division (identical toward-zero in both engines, incl.
    // the negative slope). Scale: the token count is one map-side-
    // combinable hash-agg; top-1000 is a distributed TakeOrdered; the
    // rank window and moment agg only ever see the 1000-row frame.
    QDef("q_zipf_slope",
      (s, d) => {
        val top = documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(1000)
        val graded = top
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
          .select(
            expr("CAST(round(ln(rank) * 10000) AS BIGINT)").as("x"),
            expr("CAST(round(ln(cnt) * 10000) AS BIGINT)").as("y"))
        graded.agg(
            count(lit(1)).as("n_toks"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
          .select(col("n_toks"),
            expr("""(n_toks * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
                div (n_toks * sxx - CAST(sx AS DECIMAL(38,0)) * sx)""")
              .as("slope_e6"),
            expr("""(n_toks * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                * (n_toks * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 10000
                div ((n_toks * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                  * (n_toks * syy - CAST(sy AS DECIMAL(38,0)) * sy))""")
              .as("r2_bp"))
      },
      Some(s"""WITH top AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest($tokensSql) AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1000),
        graded AS (SELECT
            CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok)
              AS DOUBLE)) * 10000) AS BIGINT) AS x,
            CAST(round(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS y
          FROM top),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n_toks,
            CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
            CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
            CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM graded)
        SELECT n_toks,
          CAST((n_toks * sxy - sx * sy) * 1000000
            // (n_toks * sxx - sx * sx) AS BIGINT) AS slope_e6,
          CAST((n_toks * sxy - sx * sy) * (n_toks * sxy - sx * sy) * 10000
            // ((n_toks * sxx - sx * sx) * (n_toks * syy - sy * sy))
            AS BIGINT) AS r2_bp
        FROM m""")),

    // HEAPS-LAW vocabulary growth — how fast the corpus's distinct-token
    // vocabulary grows as documents stream in, the curve that sizes
    // tokenizer vocab and predicts OOV rates at 100 TB: docs are cut
    // into 10 deciles by doc_id (bucket = min(id·10 div (max_id+1), 9)
    // against a broadcast scalar — no global sort), each token's decile
    // of FIRST occurrence is a min-agg, and the per-decile new-type /
    // token-instance counts cumulate over the 10-row frame. The
    // type-token ratio in basis points is the Heaps exponent's discrete
    // trace. All-integer (class A); the only windows run on the 10-row
    // decile frame.
    QDef("q_vocab_growth",
      (s, d) => {
        val docs = documents(s, d)
        val mx = docs.agg(max(col("doc_id")).as("max_id"))
        val tk = docs.crossJoin(broadcast(mx))
          .select(expr("least(doc_id * 10 div (max_id + 1), 9)")
            .cast("long").as("decile"),
            explode(tokens(col("text"))).as("tok"))
          .localCheckpoint(true) // feeds both the first-seen and volume aggs
        val firstSeen = tk.groupBy(col("tok"))
          .agg(min(col("decile")).as("first_d"))
          .groupBy(col("first_d")).agg(count(lit(1)).as("new_types"))
        val volume = tk.groupBy(col("decile"))
          .agg(count(lit(1)).as("n_inst"))
        val w = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        volume.join(firstSeen, col("decile") === col("first_d"), "left")
          .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
          .select(col("decile"), col("n_inst"), col("new_types"))
          .withColumn("inst_cum", sum(col("n_inst")).over(w))
          .withColumn("vocab_cum", sum(col("new_types")).over(w))
          .withColumn("ttr_bp",
            expr("vocab_cum * 10000 div inst_cum"))
          .orderBy(col("decile"))
      },
      Some(s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        tk AS (SELECT least(doc_id * 10 // (max_id + 1), 9) AS decile,
            unnest($tokensSql) AS tok
          FROM documents CROSS JOIN mx),
        fs AS (SELECT first_d, CAST(count(*) AS BIGINT) AS new_types
          FROM (SELECT tok, min(decile) AS first_d FROM tk GROUP BY tok)
          GROUP BY first_d),
        vol AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_inst
          FROM tk GROUP BY decile),
        j AS (SELECT v.decile, v.n_inst,
            COALESCE(f.new_types, 0) AS new_types
          FROM vol v LEFT JOIN fs f ON v.decile = f.first_d)
        SELECT decile, n_inst, new_types,
          CAST(sum(n_inst) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inst_cum,
          CAST(sum(new_types) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
          CAST(sum(new_types) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * 10000 // sum(n_inst) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ttr_bp
        FROM j ORDER BY decile""")),

    // PMI COLLOCATIONS — top bigrams by pointwise mutual information,
    // the collocation extractor every phrase-vocabulary / tokenizer-
    // merge pipeline runs: PMI = ln(p(x,y) / (p(x)·p(y))) with
    // p(x,y) = c_xy/Nb, p(x) = c_x/N. Determinism is the
    // q_token_df_idf class-C argument: ≤30 output rows, ONE ln each
    // over identical exact-integer ratios — both engines CAST the same
    // integers to DOUBLE, run the same IEEE multiply/divide chain, take
    // one ln, and round 6; the ordering key is the already-rounded
    // value with a (x, y) tiebreak. Scale: bigram and unigram counts
    // are map-side-combinable hash-aggs; the c_xy ≥ 5 floor prunes the
    // join fan-in; top-30 is a distributed TakeOrdered.
    QDef("q_pmi_collocations",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val bigAll = toks.filter(size(col("toks")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(toks) - 1),
                 i -> struct(element_at(toks, i) AS x,
                             element_at(toks, i + 1) AS y))"""))
            .as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
          .localCheckpoint(true) // feeds the total AND the floored frame
        val big = bigAll.filter(col("c_xy") >= 5)
        val uni = toks
          .select(explode(col("toks")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // joined twice (x side and y side)
        val nTok = uni.agg(sum(col("c")).as("n_uni"))
        // p(x,y) normalizes over ALL bigram instances, not just the
        // support-floored survivors
        val nBig = bigAll.agg(sum(col("c_xy")).as("n_big"))
        big
          .join(uni.select(col("t").as("x"), col("c").as("c_x")), Seq("x"))
          .join(uni.select(col("t").as("y"), col("c").as("c_y")), Seq("y"))
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
          .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
            round(log(
              col("c_xy").cast("double") * col("n_uni").cast("double")
                * col("n_uni").cast("double")
                / (col("n_big").cast("double") * col("c_x").cast("double")
                  * col("c_y").cast("double"))), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("x"), col("y"))
          .limit(30)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $tokensSql AS toks
            FROM documents),
        big_all AS (SELECT b['x'] AS x, b['y'] AS y, count(*) AS c_xy
          FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
              i -> struct_pack(x := toks[i], y := toks[i + 1]))) AS b
            FROM toks WHERE len(toks) >= 2)
          GROUP BY 1, 2),
        big AS (SELECT * FROM big_all WHERE c_xy >= 5),
        uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(toks) AS t FROM toks) GROUP BY t),
        nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
        nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_big FROM big_all)
        SELECT x, y, c_xy, ux.c AS c_x, uy.c AS c_y,
          round(ln(CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE)
              * CAST(n_uni AS DOUBLE)
              / (CAST(n_big AS DOUBLE) * CAST(ux.c AS DOUBLE)
                * CAST(uy.c AS DOUBLE))), 6) AS pmi
        FROM big JOIN uni ux ON big.x = ux.t
        JOIN uni uy ON big.y = uy.t
        CROSS JOIN nt CROSS JOIN nb
        ORDER BY pmi DESC, x, y LIMIT 30""")),

    // GINI CONCENTRATION of the token-frequency distribution — the
    // inequality scalar beside the Zipf slope (G → 1 = a few tokens
    // dominate; natural corpora sit ~0.8-0.95, boilerplate pushes
    // higher). NO GLOBAL SORT: Σ rank·c needs ranks under the (c, tok)
    // ascending order, but within a count-group the SUM of ranks is
    // fixed regardless of tok order — so the engine aggregates the
    // count HISTOGRAM (count value → m tokens), windows over that
    // bounded frame (distinct count values ≪ vocab ≪ corpus), and
    // closes the exact identity Σ rank·c = Σ_v c·(m·start + m(m+1)/2).
    // All moments in DECIMAL(38,0)/HUGEINT, G in 1e-6 units by
    // truncating division (class A — no float anywhere).
    QDef("q_gini_vocab",
      (s, d) => {
        val cnts = documents(s, d)
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
        val hist = cnts.groupBy(col("c")).agg(count(lit(1)).as("m"))
        val w = Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist
          .withColumn("cum_m", sum(col("m")).over(w))
          .select(col("c"), col("m"), (col("cum_m") - col("m")).as("start"))
          .agg(
            sum(col("m")).as("n_types"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * m")).as("total_tokens"),
            sum(expr("""CAST(c AS DECIMAL(38,0)) *
              (m * start + m * (m + 1) div 2)""")).as("s_rank_c"))
          .select(col("n_types"),
            col("total_tokens").cast("long").as("total_tokens"),
            expr("""CAST((2 * s_rank_c - (n_types + 1) * total_tokens)
              * 1000000 div (CAST(n_types AS DECIMAL(38,0)) * total_tokens)
              AS BIGINT)""").as("gini_e6"))
      },
      Some(s"""WITH cnts AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest($tokensSql) AS t FROM documents) GROUP BY t),
        hist AS (SELECT c, CAST(count(*) AS BIGINT) AS m
          FROM cnts GROUP BY c),
        st AS (SELECT c, m,
            CAST(sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
              AS BIGINT) - m AS start
          FROM hist),
        agg AS (SELECT CAST(sum(m) AS BIGINT) AS n_types,
            CAST(sum(CAST(c AS HUGEINT) * m) AS HUGEINT) AS total_tokens,
            CAST(sum(CAST(c AS HUGEINT) *
              (m * start + m * (m + 1) // 2)) AS HUGEINT) AS s_rank_c
          FROM st)
        SELECT n_types, CAST(total_tokens AS BIGINT) AS total_tokens,
          CAST((2 * s_rank_c - (n_types + 1) * total_tokens) * 1000000
            // (CAST(n_types AS HUGEINT) * total_tokens) AS BIGINT)
            AS gini_e6
        FROM agg""")),

    // PAIRWISE LONGEST SHARED TOKEN SPAN — the exact-substring dedup
    // measurement of Lee et al. ("Deduplicating Training Data Makes
    // Language Models Better"): for every doc pair sharing at least one
    // 8-token window, the length of their longest common consecutive
    // token run. Their suffix array is a single-machine structure; the
    // relational form is positional k-gram chaining — explode (doc, pos,
    // 8-gram), equi-join on the gram, and recover maximal runs as
    // gaps-and-islands on the match DIAGONAL (pos_a − pos_b constant and
    // pos_a consecutive ⇔ island key pos_a − row_number() constant): a
    // run of r matched windows is a shared span of r + 7 tokens. Hot
    // grams (boilerplate) are df-capped at 64 distinct docs before the
    // join — the q_tfidf_cosine_join cap, mirrored by the oracle —
    // bounding per-gram join fan-out; candidate volume is then bounded
    // by true duplication, never the corpus square. Within a (pair,
    // diagonal) partition pos_a is unique (pos_b = pos_a − diag), so the
    // windows see no ties. All integers (class A).
    QDef("q_dupspan_pairs",
      (s, d) => dupspanRuns(s, d)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("run") + 7).as("max_span"),
          count(lit(1)).as("n_runs"), sum(col("run")).as("n_matches"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH ${dupspanRunsCte()}
        SELECT id_a, id_b, CAST(max(run + 7) AS BIGINT) AS max_span,
          CAST(count(*) AS BIGINT) AS n_runs,
          CAST(sum(run) AS BIGINT) AS n_matches
        FROM runs GROUP BY 1, 2 ORDER BY id_a, id_b""")),

    // SAMPLED dupspan audit — the bounded-cost QA cadence for the
    // exact-substring family (its largest 10× entry had no twin: r10
    // verdict item 7). Unlike the set-sim/simhash audits, the stratum
    // here is DOC-level AT THE SCAN (md5 nibble ≤ 3: a deterministic
    // 1/4 of docs ⇒ 1/16 of pairs), because this family's cost
    // profile inverts the pair-stratum assumption: the gram explode +
    // df agg + checkpoint floor carries ~everything and the candidate
    // join almost nothing (stage-measured in dupspanRuns's doc), so a
    // join-time pair predicate was MEASURED dearer than the full join
    // (2.91 vs 2.56 s at sf0.1) while the scan stratum prunes every
    // stage. The df-cap runs on the subsample (the audited pipeline
    // on a corpus sample — the daily-QA design); since sample df ≤
    // global df, surviving pairs can only gain matches vs the full
    // run: pairs(full ∩ stratum) ⊆ pairs(sampled) with max_span and
    // n_matches monotone ≥ (spec-asserted containment law).
    QDef("q_dupspan_pairs_sampled",
      (s, d) => dupspanRuns(s, d, sampled = true)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("run") + 7).as("max_span"),
          count(lit(1)).as("n_runs"), sum(col("run")).as("n_matches"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH ${dupspanRunsCte(sampled = true)}
        SELECT id_a, id_b, CAST(max(run + 7) AS BIGINT) AS max_span,
          CAST(count(*) AS BIGINT) AS n_runs,
          CAST(sum(run) AS BIGINT) AS n_matches
        FROM runs GROUP BY 1, 2 ORDER BY id_a, id_b""")),

    // EXACTSUBSTR TRIM — the ACTION the span measurement feeds (Lee et
    // al. remove duplicated substrings rather than whole docs): in each
    // matched pair the HIGHER doc id loses the covered tokens (the
    // min-id keeper rule of q_dedup_exact applied at span granularity).
    // Covered positions explode from the shared `runs` frame (volume
    // bounded by true duplication, never doc length × corpus), distinct
    // per doc, and the rebuilt token list drops exactly those positions
    // — emitted as counts + the md5 of the trimmed text so the full
    // rewrite is hash-pinned without shipping the corpus through the
    // gate. Shares dupspanRuns/its CTE with q_dupspan_pairs — the
    // measurement and the action cannot drift.
    QDef("q_dupspan_trim",
      (s, d) => {
        // merge the per-pair covered intervals per doc BEFORE exploding
        // positions: on a dup-heavy corpus the raw run set is Ω(dup²)
        // intervals all covering the same tokens, so exploding them
        // directly re-enumerates the clique (measured 129.7 s at the
        // 10× all-dup corpus); after the classic sort + running-max
        // interval union the exploded mass is bounded by DOC LENGTH
        // (49.1 s — what remains is the runs frame and its interval
        // windows, the cost q_dupspan_pairs already pays)
        val iv = dupspanRuns(s, d)
          .select(col("id_b").as("doc_id"),
            (col("start_a") - col("diag")).as("s0"),
            (col("start_a") - col("diag") + col("run") + 6).as("e0"))
        val wS = Window.partitionBy(col("doc_id"))
          .orderBy(col("s0"), col("e0"))
        val merged = iv
          .withColumn("pmax", max(col("e0")).over(
            wS.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("ni",
            (col("pmax").isNull || col("s0") > col("pmax") + 1)
              .cast("long"))
          .withColumn("isl", sum(col("ni")).over(
            wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("doc_id"), col("isl"))
          .agg(min(col("s0")).as("s"), max(col("e0")).as("e"))
        val covered = merged
          .select(col("doc_id"),
            explode(sequence(col("s"), col("e"))).as("pos"))
          .groupBy(col("doc_id"))
          .agg(collect_set(col("pos")).as("cut"))
        documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .join(covered, Seq("doc_id"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
            size(col("cut")).cast("long").as("n_removed"),
            md5(expr("""CAST(array_join(filter(transform(toks,
                 (t, i) -> IF(array_contains(cut, CAST(i + 1 AS BIGINT)),
                   NULL, t)), x -> x IS NOT NULL), ' ') AS BINARY)"""))
              .as("trimmed_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${dupspanRunsCte()},
        iv AS (SELECT id_b AS doc_id, start_a - diag AS s0,
            start_a - diag + run + 6 AS e0
          FROM runs),
        mk AS (SELECT doc_id, s0, e0,
            max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM iv),
        mc AS (SELECT doc_id, s0, e0,
            CAST(sum(CASE WHEN pmax IS NULL OR s0 > pmax + 1
              THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
              ORDER BY s0, e0 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS isl
          FROM mk),
        merged AS (SELECT doc_id, isl, min(s0) AS s, max(e0) AS e
          FROM mc GROUP BY 1, 2),
        cov AS (SELECT doc_id, s + off AS pos
          FROM merged CROSS JOIN range(0, 10000) t(off)
          WHERE off <= e - s),
        cutl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
            list(pos) AS cut
          FROM cov GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
          n_removed,
          md5(COALESCE(array_to_string(list_filter(
            list_transform(range(1, len(t.toks) + 1),
              i -> CASE WHEN list_contains(cut, i)
                THEN NULL ELSE t.toks[i] END),
            x -> x IS NOT NULL), ' '), '')) AS trimmed_md5
        FROM toks t JOIN cutl ON t.doc_id = cutl.doc_id
        ORDER BY t.doc_id""")),

    // NAIVE-BAYES LEARNED QUALITY/LANG FILTER — the one curation stage
    // the pipeline lacked (heuristic rules and perplexity exist; a
    // TRAINED classifier didn't): multinomial naive Bayes (McCallum &
    // Nigam 1998 — the fastText-style linear baseline production
    // pipelines use as the learned quality gate) over token counts,
    // trained on the Knuth-hash 80% split with `lang` as the declared
    // label, scored on the held-out 20%. Add-one smoothing; every
    // compared score is a pre-rounded scaled-integer log
    // (round(ln·1e6) — the unigram-LM mechanism), summed as exact
    // BIGINTs, so both engines walk the identical decision boundary
    // and the per-doc argmax is a total order (score desc, lang).
    // Held-out tokens unseen in training score the per-lang OOV floor
    // ln(1/(n_l+|V|)) — never silently dropped; held-out docs with no
    // tokens at all are excluded (no evidence to score — both engines
    // agree by construction). Output: the held-out confusion matrix
    // (the q_lang_confusion readout — κ/accuracy machinery applies
    // downstream) + per-cell ppm share. Scale: two token explodes
    // (train count, held-out count) — corpus-linear map-side aggs; the
    // model itself is the |V|×|langs| score frame (vocabulary-bounded,
    // NOT corpus-bounded); held-out scoring fans each distinct
    // (doc, tok) by |langs| = 5 through one shuffle join against the
    // score table; priors/OOV floors/langs ride broadcast. Held-out
    // confusion replay in CurationSpec.
    QDef("q_nb_quality",
      (s, d) => nbConfusion(s, d)
        .orderBy(col("true_lang"), col("pred_lang")),
      Some(s"""$nbConfusionSql ORDER BY 1, 2""")),

    // GROUP-DRO REWEIGHTING (r13; Sagawa et al. 2020's worst-group
    // principle as a data-mixture tool) — the error-driven complement
    // to the size-driven tilts (q_mixture_temperature's p ∝ n^0.3,
    // q_domain_mix's inverse shares): groups where the learned
    // classifier FAILS get upweighted, w_g ∝ exp(η·err_g) with η = 1
    // (the exponentiated-gradient tilt, one declared step — without
    // retraining between steps further iterations are a closed-form
    // power, so the operator declares the single honest step). The
    // error signal is the SHARED nbConfusion frame (q_nb_quality's own
    // model — gate and reweighting cannot drift): err_ppm = held-out
    // misclassification per true lang, exact integer cross-division.
    // The one exp per group pre-rounds onto the e6 grid (class C, ≤
    // |langs| terms); weights normalize by exact integer division.
    // Scale: the NB pipeline + a |langs|-row tilt chain.
    QDef("q_dro_weights",
      (s, d) => {
        val conf = nbConfusion(s, d)
        val err = conf.groupBy(col("true_lang").as("lang"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(when(col("pred_lang") === col("true_lang"),
              col("n_docs")).otherwise(0L)).as("n_ok"))
          .select(col("lang"), col("n_docs"),
            expr("(n_docs - n_ok) * 1000000 div n_docs").as("err_ppm"))
          .withColumn("tilt_e6",
            expr("CAST(round(exp(err_ppm / 1000000.0) * 1000000, 0)" +
              " AS BIGINT)"))
          // ≤|langs| rows, read by BOTH crossJoin sides: without this the
          // whole NB train+score pipeline ran twice (guide §1.2 step 1 —
          // measured r16 opt: q_dro_weights 2.87 s min vs q_nb_quality's
          // 2.12 for the same pipeline plus a 5-row tilt chain)
          .localCheckpoint(true)
        err.crossJoin(broadcast(
            err.agg(sum(col("tilt_e6")).as("st"))))
          .select(col("lang"), col("n_docs"), col("err_ppm"),
            col("tilt_e6"),
            expr("tilt_e6 * 1000000 div st").as("w_ppm"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("w_ppm").desc, col("lang"))).cast("long"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH conf AS ($nbConfusionSql),
        e AS (SELECT true_lang AS lang,
            CAST(sum(n_docs) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN pred_lang = true_lang THEN n_docs
              ELSE 0 END) AS BIGINT) AS n_ok
          FROM conf GROUP BY 1),
        t AS (SELECT lang, n_docs,
            (n_docs - n_ok) * 1000000 // n_docs AS err_ppm,
            CAST(round(exp(((n_docs - n_ok) * 1000000 // n_docs)
              / 1000000.0) * 1000000, 0) AS BIGINT) AS tilt_e6
          FROM e),
        st AS (SELECT CAST(sum(tilt_e6) AS BIGINT) AS st FROM t)
        SELECT lang, n_docs, err_ppm, tilt_e6,
          CAST(tilt_e6 * 1000000 // st AS BIGINT) AS w_ppm,
          CAST(row_number() OVER (ORDER BY tilt_e6 * 1000000 // st DESC,
            lang) AS BIGINT) AS rank
        FROM t CROSS JOIN st ORDER BY rank""")),

    // DATASET CARTOGRAPHY (r13) — the training-dynamics data map of
    // Swayamdipta et al. 2020 ("easy-to-learn / hard-to-learn /
    // ambiguous"), re-expressed for a one-pass engine with a
    // JACKKNIFE-ENSEMBLE proxy for training epochs: FIVE multinomial
    // NB models (the q_nb_quality machinery), model g trained on all
    // docs EXCEPT fold g (fold = an independent multiplicative hash
    // mod 5), every doc scored under ALL five — four that saw it, one
    // that held it out — giving a 5-view confidence distribution per
    // doc, exactly the across-epochs view cartography plots. The
    // jackknife trick makes it ONE corpus pass: per-(fold, lang, tok)
    // counts subtract from the global counts to form each model
    // (c_g = c_all − c_fold_g), so no model retrains. Confidence is
    // the exact integer MARGIN score_true − max_other (the pre-rounded
    // e6 ln grid — both engines walk identical decision boundaries;
    // softmax would add a transcendental per doc×model for no
    // ranking information). Regions by declared rule: easy = min
    // margin > 0 (every model right), hard = max < 0 (every model
    // wrong), else ambiguous (the models disagree — cartography's
    // high-variability band). V is the GLOBAL train vocab (declared
    // jackknife simplification), so every doc token is in-grid and no
    // OOV path exists. The prior is SMOOTHED (r13 ADVICE): ln((d_l −
    // d_lf + 1)/(d − d_f + |langs|)) — a fold holding every doc of a
    // small language (or of the whole corpus) stays finite in both
    // engines instead of diverging at ln(0); ≥ 2 languages is an
    // explicit precondition (the margin needs a best-other class).
    // Scale (r13 VERDICT directive 2 — WIDE-FORM scoring): the 25
    // (fold, lang) log-prob terms pivot into COLUMNS of a |V|-row
    // broadcast frame, so scoring is each distinct (doc, tok) joined
    // ONCE and reduced by a single map-side-combinable hash agg over
    // 25 sum columns — the previous tall form fanned every (doc, tok)
    // ×25 through the agg (100×: 1B-row fan, 26.4 GB mem-spill).
    // Margins/regions are then per-ROW expressions (least/greatest
    // over the 25 score columns), no further shuffle.
    QDef("q_dataset_cartography",
      (s, d) => {
        import s.implicits._
        val foldOf = pmod(col("doc_id") * lit(3266489917L),
          lit(4294967296L)) % 5
        val docs = documents(s, d)
          .select(col("doc_id"), col("lang").as("true_lang"),
            foldOf.as("fold"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
        val dtok = docs
          .select(col("doc_id"), col("true_lang"), col("fold"),
            explode(col("toks")).as("tok"))
          .groupBy(col("doc_id"), col("true_lang"), col("fold"),
            col("tok"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true) // feeds counts, vocab AND scoring
        val cAll = dtok.groupBy(col("true_lang").as("lang"), col("tok"))
          .agg(sum(col("cnt")).as("ca"))
        val cF = dtok.groupBy(col("fold").as("g"),
            col("true_lang").as("lang"), col("tok"))
          .agg(sum(col("cnt")).as("cf"))
        val nl = cAll.groupBy(col("lang")).agg(sum(col("ca")).as("n"))
        val nlF = cF.groupBy(col("g"), col("lang"))
          .agg(sum(col("cf")).as("nf"))
        val v = dtok.select(col("tok")).distinct()
        val nv = v.agg(count(lit(1)).as("nv"))
        val langs = docs.select(col("true_lang").as("lang")).distinct()
        // the ≤|langs|-row bridge (the skew-router verdict precedent):
        // the wide column layout needs the language list at plan time
        val langList = langs.orderBy(col("lang")).collect()
          .map(_.getString(0))
        require(langList.length >= 2, "q_dataset_cartography needs " +
          s"≥ 2 languages for a margin; corpus has ${langList.length}")
        val folds = (0L to 4L).toDF("g")
        val sc = v.crossJoin(broadcast(langs)).crossJoin(broadcast(folds))
          .join(cAll, Seq("lang", "tok"), "left")
          .join(cF, Seq("g", "lang", "tok"), "left")
          .join(broadcast(nl), "lang")
          .join(broadcast(nlF), Seq("g", "lang"), "left")
          .crossJoin(broadcast(nv))
          .select(col("tok"), col("lang"), col("g"),
            expr("CAST(round(ln((COALESCE(ca, 0) - COALESCE(cf, 0)" +
              " + 1.0) / (n - COALESCE(nf, 0) + nv)) * 1000000, 0)" +
              " AS BIGINT)").as("lp"))
        // wide pivot: |V|·|langs|·5 rows → |V| rows × 25 lp columns —
        // still vocabulary-bounded, still broadcast (the r13 lesson:
        // the unhinted SMJ spilled 38 GB at 100×)
        val combos = for (li <- langList.indices; g <- 0 until 5)
          yield (li, g)
        val scWide = sc.groupBy(col("tok"))
          .agg(combos.map { case (li, g) =>
            max(when(col("lang") === langList(li) && col("g") === g,
              col("lp"))).as(s"lp_${li}_$g") }.head,
            combos.map { case (li, g) =>
              max(when(col("lang") === langList(li) && col("g") === g,
                col("lp"))).as(s"lp_${li}_$g") }.tail: _*)
        val dl = docs.groupBy(col("true_lang").as("lang"))
          .agg(count(lit(1)).as("dl"))
        val dlF = docs.groupBy(col("fold").as("g"),
            col("true_lang").as("lang"))
          .agg(count(lit(1)).as("dlf"))
        val prior = langs.crossJoin(broadcast(folds))
          .join(broadcast(dl), "lang")
          .join(broadcast(dlF), Seq("g", "lang"), "left")
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("dd"))))
          .crossJoin(broadcast(docs.groupBy(col("fold").as("g2"))
            .agg(count(lit(1)).as("ddf"))))
          .crossJoin(broadcast(langs.agg(count(lit(1)).as("nl2"))))
          .filter(col("g") === col("g2"))
          .select(col("lang"), col("g"),
            expr("CAST(round(ln((dl - COALESCE(dlf, 0) + 1.0)" +
              " / (dd - ddf + nl2)) * 1000000, 0) AS BIGINT)")
              .as("lp_pri"))
        // the 25 priors pivot to ONE broadcast row
        val priWide = prior.groupBy()
          .agg(combos.map { case (li, g) =>
            max(when(col("lang") === langList(li) && col("g") === g,
              col("lp_pri"))).as(s"pri_${li}_$g") }.head,
            combos.map { case (li, g) =>
              max(when(col("lang") === langList(li) && col("g") === g,
                col("lp_pri"))).as(s"pri_${li}_$g") }.tail: _*)
        val scored = dtok.join(broadcast(scWide), "tok")
          .groupBy(col("doc_id"), col("true_lang"))
          .agg(combos.map { case (li, g) =>
            sum(col("cnt") * col(s"lp_${li}_$g")).as(s"s_${li}_$g") }.head,
            combos.map { case (li, g) =>
              sum(col("cnt") * col(s"lp_${li}_$g")).as(s"s_${li}_$g") }
              .tail: _*)
          .crossJoin(broadcast(priWide))
        def score(li: Int, g: Int) =
          col(s"s_${li}_$g") + col(s"pri_${li}_$g")
        def marginG(g: Int) = {
          val sTrue = coalesce(langList.indices.map(li =>
            when(col("true_lang") === langList(li), score(li, g))): _*)
          val sOther = greatest(langList.indices.map(li =>
            when(col("true_lang") =!= langList(li), score(li, g))): _*)
          (sTrue - sOther).as(s"m_$g")
        }
        val margins = (0 until 5).map(marginG)
        scored
          .select(col("doc_id") +: col("true_lang") +: margins: _*)
          .select(col("doc_id"), col("true_lang"),
            lit(5L).as("n_models"),
            expr("(m_0 + m_1 + m_2 + m_3 + m_4) div 5")
              .as("margin_mean"),
            least((0 until 5).map(g => col(s"m_$g")): _*)
              .as("margin_min"),
            greatest((0 until 5).map(g => col(s"m_$g")): _*)
              .as("margin_max"))
          .select(col("doc_id"), col("true_lang"), col("n_models"),
            col("margin_mean"), col("margin_min"), col("margin_max"),
            when(col("margin_min") > 0L, lit("easy"))
              .when(col("margin_max") < 0L, lit("hard"))
              .otherwise(lit("ambiguous")).as("region"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, lang AS true_lang,
            (doc_id * 3266489917) % 4294967296 % 5 AS fold,
            $tokensSql AS toks
          FROM documents WHERE len($tokensSql) > 0),
        dtok AS (SELECT doc_id, true_lang, fold, unnest(toks) AS tok
          FROM docs),
        dt AS (SELECT doc_id, true_lang, fold, tok,
            CAST(count(*) AS BIGINT) AS cnt
          FROM dtok GROUP BY 1, 2, 3, 4),
        call AS (SELECT true_lang AS lang, tok,
            CAST(sum(cnt) AS BIGINT) AS ca FROM dt GROUP BY 1, 2),
        cf AS (SELECT fold AS g, true_lang AS lang, tok,
            CAST(sum(cnt) AS BIGINT) AS cfv FROM dt GROUP BY 1, 2, 3),
        nl AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS n
          FROM call GROUP BY 1),
        nlf AS (SELECT g, lang, CAST(sum(cfv) AS BIGINT) AS nf
          FROM cf GROUP BY 1, 2),
        v AS (SELECT DISTINCT tok FROM dt),
        nv AS (SELECT count(*) AS nv FROM v),
        langs AS (SELECT DISTINCT true_lang AS lang FROM docs),
        folds AS (SELECT unnest(range(0, 5)) AS g),
        sc AS (SELECT v.tok, l.lang, f.g,
            CAST(round(ln((COALESCE(ca, 0) - COALESCE(cfv, 0) + 1.0)
              / (nl.n - COALESCE(nlf.nf, 0) + nv.nv)) * 1000000, 0)
              AS BIGINT) AS lp
          FROM v CROSS JOIN langs l CROSS JOIN folds f
          JOIN nl ON nl.lang = l.lang
          LEFT JOIN nlf ON nlf.g = f.g AND nlf.lang = l.lang
          CROSS JOIN nv
          LEFT JOIN call ON call.lang = l.lang AND call.tok = v.tok
          LEFT JOIN cf ON cf.g = f.g AND cf.lang = l.lang
            AND cf.tok = v.tok),
        dl AS (SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS dl
          FROM docs GROUP BY 1),
        dlf AS (SELECT fold AS g, true_lang AS lang,
            CAST(count(*) AS BIGINT) AS dlf FROM docs GROUP BY 1, 2),
        dd AS (SELECT count(*) AS dd FROM docs),
        ddf AS (SELECT fold AS g, CAST(count(*) AS BIGINT) AS ddf
          FROM docs GROUP BY 1),
        nlangs AS (SELECT count(*) AS nl2 FROM langs),
        pri AS (SELECT l.lang, f.g,
            CAST(round(ln((dl.dl - COALESCE(dlf.dlf, 0) + 1.0)
              / (dd.dd - ddf.ddf + nl2)) * 1000000, 0) AS BIGINT)
              AS lp_pri
          FROM langs l CROSS JOIN folds f
          JOIN dl ON dl.lang = l.lang
          LEFT JOIN dlf ON dlf.g = f.g AND dlf.lang = l.lang
          CROSS JOIN dd JOIN ddf ON ddf.g = f.g CROSS JOIN nlangs),
        scored AS (SELECT dt.doc_id, dt.true_lang, sc.g, sc.lang,
            CAST(sum(dt.cnt * sc.lp) AS BIGINT)
              + any_value(pri.lp_pri) AS score
          FROM dt JOIN sc ON dt.tok = sc.tok
          JOIN pri ON pri.lang = sc.lang AND pri.g = sc.g
          GROUP BY 1, 2, 3, 4),
        m AS (SELECT doc_id, true_lang, g,
            max(CASE WHEN lang = true_lang THEN score END)
              - max(CASE WHEN lang <> true_lang THEN score END)
              AS margin
          FROM scored GROUP BY 1, 2, 3)
        SELECT doc_id, true_lang, CAST(count(*) AS BIGINT) AS n_models,
          CAST(sum(margin) AS BIGINT) // 5 AS margin_mean,
          CAST(min(margin) AS BIGINT) AS margin_min,
          CAST(max(margin) AS BIGINT) AS margin_max,
          CASE WHEN min(margin) > 0 THEN 'easy'
            WHEN max(margin) < 0 THEN 'hard'
            ELSE 'ambiguous' END AS region
        FROM m GROUP BY 1, 2 ORDER BY doc_id""")),

    // N-GRAM DECONTAMINATION SCREEN, fractional form — the second
    // member of the decontamination family: q_contamination (Llm.scala)
    // implements the COUNT rule (≥ 5 shared 3-shingles with a doc_id%20
    // eval set flags a doc); this one implements the FRACTION rule over
    // long grams that production pipelines actually ship (GPT-3
    // appendix C removes docs colliding with eval on 13-grams; PaLM
    // flags docs with ≥ 70% of 8-grams seen in eval), measured against
    // the SAME Knuth-hash held-out split the tokenizer/classifier
    // family trains around — so one split definition governs the whole
    // train-side pipeline: here the
    // Knuth-hash 20% held-out split stands in as the declared eval set
    // and the 80% train split is screened against it IN REVERSE —
    // train-side grams are the candidate contaminators; the eval-side
    // distinct gram set is the reference. Per train doc: total 8-gram
    // occurrences, occurrences present in the eval set, contamination
    // ppm, and the PaLM-style ≥ 700000 ppm verdict. Same 8-gram
    // construction as the dupspan family (one definition per engine).
    // Docs under 8 tokens carry no grams and are excluded (nothing to
    // test — both engines agree by construction). Scale: two
    // corpus-linear gram explodes + one equi-join on the gram string;
    // the reference side is DISTINCT eval grams (bounded by eval size,
    // the small side at production scale — broadcast or bloom there);
    // per-doc rollup is map-side-combinable.
    QDef("q_ngram_contamination",
      (s, d) => {
        val docs = documents(s, d)
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                 i -> array_join(slice(toks, i, 8), ' '))""")).as("g"))
        val evalG = grams(docs.filter(!bpeTrainPred))
          .select(col("g")).distinct()
        grams(docs.filter(bpeTrainPred))
          .join(evalG.withColumn("hit", lit(1L)), Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            expr("n_hit * 1000000 div n_grams").as("contam_ppm"),
            when(expr("n_hit * 1000000 div n_grams") >= 700000L,
              lit("contaminated")).otherwise(lit("clean")).as("verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH eg AS (SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(range(1, len(toks) - 6),
                i -> array_to_string(toks[i:i+7], ' '))) AS g
            FROM (SELECT $tokensSql AS toks FROM documents
              WHERE NOT ($bpeTrainPredSql))
            WHERE len(toks) >= 8)),
        tg AS (SELECT doc_id, unnest(list_transform(
              range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))) AS g
          FROM (SELECT doc_id, $tokensSql AS toks FROM documents
            WHERE $bpeTrainPredSql)
          WHERE len(toks) >= 8),
        agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
            CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
          FROM tg t LEFT JOIN eg e ON t.g = e.g GROUP BY t.doc_id)
        SELECT doc_id, n_grams, n_hit,
          n_hit * 1000000 // n_grams AS contam_ppm,
          CASE WHEN n_hit * 1000000 // n_grams >= 700000
            THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM agg ORDER BY doc_id""")),

    // BLOOM-GATED DECONTAMINATION — q_ngram_contamination's "broadcast/
    // bloom at production" promise made a DECLARED operator (VERDICT r12
    // directive 3): the eval split's distinct 8-gram set collapses into
    // a broadcast bloom (xxhash64'd grams through the q_join_bloom_pruned
    // machinery — a few MB at any eval size), which pre-filters the
    // train-side gram stream BEFORE the equi-join shuffle; the exact
    // join over the survivors is the residual verify, so the result is
    // byte-identical to the exact screen at any fpp (bloom false
    // positives die in the join; a bloom has NO false negatives, and
    // per-doc gram totals come from a map-side agg that never joins).
    // At 100 TB this is the production shape: the train side — the
    // overwhelming bulk — sheds ~(1 − fpp) of its non-contaminated
    // grams pre-shuffle for a broadcast-sized filter. The probe is a
    // codegen'd Catalyst expression; its survival in the physical plan
    // is asserted in-query (the q_join_bloom_pruned contract). Oracle =
    // the exact screen's SQL verbatim (same output is the point).
    QDef("q_ngram_contamination_bloom",
      (s, d) => {
        import graft.functions.BloomFunctions._
        val docs = documents(s, d)
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                 i -> array_join(slice(toks, i, 8), ' '))""")).as("g"))
        val evalG = grams(docs.filter(!bpeTrainPred))
          .select(col("g")).distinct()
          .localCheckpoint(true) // bloom build + residual exact join
        // expectedItems = the EXACT build-set size (r13 ADVICE: the old
        // 64·|docs| heuristic undersized for corpora past ~320
        // tokens/doc, silently raising the achieved fpp). evalG is
        // already eagerly checkpointed for the residual join, so the
        // count is a metadata-cheap action on the build side — the
        // standard production sizing step, same bounded-action class as
        // the skew router's verdict fetch. The 8 MB cap still bounds
        // the broadcast; only fpp, never correctness, moves with size.
        val bloomBytes = buildLongBloom(
          evalG.select(xxhash64(col("g")).as("h")), "h",
          expectedItems = math.max(evalG.count(), 1L))
        val tg = grams(docs.filter(bpeTrainPred))
        val nG = tg.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"))
        val hits = tg
          .filter(bloom_might_contain(xxhash64(col("g")), bloomBytes))
          .join(evalG, Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        val out = nG.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            expr("n_hit * 1000000 div n_grams").as("contam_ppm"),
            when(expr("n_hit * 1000000 div n_grams") >= 700000L,
              lit("contaminated")).otherwise(lit("clean")).as("verdict"))
          .orderBy(col("doc_id"))
        val plan = out.queryExecution.executedPlan.toString
        if (!plan.contains("graft_bloom_might_contain"))
          throw new IllegalStateException("q_ngram_contamination_bloom: " +
            s"probe missing from physical plan:\n${plan.take(4000)}")
        out
      },
      Some(s"""WITH eg AS (SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(range(1, len(toks) - 6),
                i -> array_to_string(toks[i:i+7], ' '))) AS g
            FROM (SELECT $tokensSql AS toks FROM documents
              WHERE NOT ($bpeTrainPredSql))
            WHERE len(toks) >= 8)),
        tg AS (SELECT doc_id, unnest(list_transform(
              range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))) AS g
          FROM (SELECT doc_id, $tokensSql AS toks FROM documents
            WHERE $bpeTrainPredSql)
          WHERE len(toks) >= 8),
        agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
            CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
          FROM tg t LEFT JOIN eg e ON t.g = e.g GROUP BY t.doc_id)
        SELECT doc_id, n_grams, n_hit,
          n_hit * 1000000 // n_grams AS contam_ppm,
          CASE WHEN n_hit * 1000000 // n_grams >= 700000
            THEN 'contaminated' ELSE 'clean' END AS verdict
        FROM agg ORDER BY doc_id""")),

    // GOOD–TURING FREQUENCY SMOOTHING (r14) — the frequency-of-
    // frequencies table (Good 1953) beside the Kneser–Ney family: for
    // token counts r = 1..10, N_r (how many types occur exactly r
    // times), the adjusted count r* = (r+1)·N_{r+1}/N_r on the e6 grid
    // (one cross-multiplied BIGINT division — class A), and the
    // missing-mass estimate P₀ = N₁/N the smoother exists for. The
    // static 1..10 grid left-joins the observed N_r frame so sparse
    // rows survive as zeros. Scale: ONE corpus wordcount agg; the
    // freq-of-freq agg and everything after live on the ≤|distinct
    // counts| frame.
    QDef("q_good_turing",
      (s, d) => {
        import s.implicits._
        val wc = documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("r"))
        val nr = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
          .localCheckpoint(true) // grid join ×2 + the totals row
        val tot = nr.agg(sum(col("r") * col("n_r")).as("n_tok"),
          coalesce(sum(when(col("r") === 1L, col("n_r"))
            .otherwise(0L)), lit(0L)).as("n1"))
        (1L to 10L).toDF("r")
          .join(nr, Seq("r"), "left")
          .join(nr.select((col("r") - 1).as("r"),
            col("n_r").as("n_r1")), Seq("r"), "left")
          .crossJoin(broadcast(tot))
          .select(col("r"),
            coalesce(col("n_r"), lit(0L)).as("n_r"),
            coalesce(col("n_r1"), lit(0L)).as("n_r1"))
          .crossJoin(broadcast(tot))
          .select(col("r"), col("n_r"), col("n_r1"),
            expr("(r + 1) * n_r1 * 1000000 div greatest(n_r, 1)")
              .as("r_star_e6"),
            expr("n1 * 1000000 div n_tok").as("p0_ppm"))
          .orderBy(col("r"))
      },
      Some(s"""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r
            FROM (SELECT unnest($tokensSql) AS w FROM documents)
            GROUP BY w),
          nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
            FROM wc GROUP BY r),
          tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tok,
              CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END), 0)
                AS BIGINT) AS n1
            FROM nr),
          grid AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS r)
        SELECT g.r, coalesce(a.n_r, 0) AS n_r,
          coalesce(b.n_r, 0) AS n_r1,
          CAST((g.r + 1) * coalesce(b.n_r, 0) * 1000000
            // greatest(coalesce(a.n_r, 0), 1) AS BIGINT) AS r_star_e6,
          CAST(n1 * 1000000 // n_tok AS BIGINT) AS p0_ppm
        FROM grid g LEFT JOIN nr a ON a.r = g.r
        LEFT JOIN nr b ON b.r = g.r + 1
        CROSS JOIN tot ORDER BY g.r""")),

    // N-GRAM NOVELTY (r14) — the inverse view of the contamination
    // screen, per language: what fraction of the HELD-OUT split's
    // 8-gram occurrences never appear in the train split? The
    // generation-novelty / memorization-headroom metric (a near-zero
    // novelty language is one the model can ace by memorizing train).
    // Same 8-gram construction as the dupspan/contamination family —
    // one definition per engine — with the Knuth-hash split shared
    // with the whole train-side pipeline. Scale: two gram explodes +
    // one equi-join; the train side collapses to DISTINCT grams (the
    // big side here, but the join is a plain hash join on the gram —
    // at production the roles invert and the eval side broadcasts).
    QDef("q_ngram_novelty",
      (s, d) => {
        val docs = documents(s, d)
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("lang"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("lang"), explode(expr(
            """transform(sequence(1, size(toks) - 7),
                 i -> array_join(slice(toks, i, 8), ' '))""")).as("g"))
        val trainG = grams(docs.filter(bpeTrainPred))
          .select(col("g")).distinct()
        grams(docs.filter(!bpeTrainPred))
          .join(trainG.withColumn("hit", lit(1L)), Seq("g"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_novel"))
          .select(col("lang"), col("n_grams"), col("n_novel"),
            expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH tg AS (SELECT DISTINCT g FROM (
            SELECT unnest(list_transform(range(1, len(toks) - 6),
                i -> array_to_string(toks[i:i+7], ' '))) AS g
            FROM (SELECT $tokensSql AS toks FROM documents
              WHERE $bpeTrainPredSql)
            WHERE len(toks) >= 8)),
        eg AS (SELECT lang, unnest(list_transform(
              range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))) AS g
          FROM (SELECT lang, $tokensSql AS toks FROM documents
            WHERE NOT ($bpeTrainPredSql))
          WHERE len(toks) >= 8),
        agg AS (SELECT e.lang, CAST(count(*) AS BIGINT) AS n_grams,
            CAST(sum(CASE WHEN t.g IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
          FROM eg e LEFT JOIN tg t ON e.g = t.g GROUP BY e.lang)
        SELECT lang, n_grams, n_novel,
          n_novel * 1000000 // n_grams AS novelty_ppm
        FROM agg ORDER BY lang""")),

    // BIGRAM CONDITIONAL ENTROPY (r14) — H(w₂|w₁) per language, the
    // sequence-predictability complement of the unigram entropy/Gini
    // diversity battery (a language with low conditional entropy is
    // formulaic — cheap perplexity wins — independent of its unigram
    // mix). H = −Σ (c₂/N)·ln(c₂/c₁) over observed bigrams; each term
    // is one transcendental chain over exact counts with the inner ln
    // quantized to 4 dp before the product (the q_psi_drift ulp
    // discipline), pre-rounded to the e6 grid and summed as BIGINTs.
    // Scale: one bigram explode + three hash-aggs; terms are summed
    // map-side — nothing after the explode exceeds the distinct-
    // bigram frame.
    QDef("q_bigram_entropy",
      (s, d) => {
        val bi = documents(s, d)
          .select(col("lang"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("lang"), explode(expr(
            """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
               (a, b) -> named_struct('w1', a, 'bg', concat(a, ' ', b)))"""))
            .as("p"))
          .select(col("lang"), col("p.w1").as("w1"), col("p.bg").as("bg"))
        val cb = bi.groupBy(col("lang"), col("w1"), col("bg"))
          .agg(count(lit(1)).as("c2"))
        val cu = bi.groupBy(col("lang"), col("w1"))
          .agg(count(lit(1)).as("c1"))
        val nb = bi.groupBy(col("lang")).agg(count(lit(1)).as("nb"))
        cb.join(cu, Seq("lang", "w1"))
          .join(broadcast(nb), Seq("lang"))
          .select(col("lang"), col("nb"),
            expr("CAST(round((c2 / (nb * 1.0))" +
              " * round(ln(c2 / (c1 * 1.0)), 4)" +
              " * 1000000, 0) AS BIGINT)").as("te"))
          .groupBy(col("lang"))
          .agg(max(col("nb")).as("n_bigrams"),
            count(lit(1)).as("n_distinct"),
            (-sum(col("te"))).as("h_cond_e6"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH t AS (SELECT lang, $tokensSql AS toks
            FROM documents),
          bi AS (SELECT lang, toks[i] AS w1,
              toks[i] || ' ' || toks[i + 1] AS bg
            FROM (SELECT lang, toks, unnest(range(1, len(toks))) AS i
              FROM t WHERE len(toks) >= 2)),
          cb AS (SELECT lang, w1, bg, CAST(count(*) AS BIGINT) AS c2
            FROM bi GROUP BY 1, 2, 3),
          cu AS (SELECT lang, w1, CAST(count(*) AS BIGINT) AS c1
            FROM bi GROUP BY 1, 2),
          nb AS (SELECT lang, CAST(count(*) AS BIGINT) AS nb
            FROM bi GROUP BY 1),
          terms AS (SELECT cb.lang, nb.nb,
              CAST(round((c2 / (nb * 1.0))
                * round(ln(c2 / (c1 * 1.0)), 4)
                * 1000000, 0) AS BIGINT) AS te
            FROM cb JOIN cu USING (lang, w1)
            JOIN nb ON nb.lang = cb.lang)
        SELECT lang, CAST(max(nb) AS BIGINT) AS n_bigrams,
          CAST(count(*) AS BIGINT) AS n_distinct,
          CAST(0 - sum(te) AS BIGINT) AS h_cond_e6
        FROM terms GROUP BY lang ORDER BY lang""")),

    // TEMPERATURE-SAMPLING MIXTURE WEIGHTS — the multilingual sampling
    // rule (mT5/XLM-R: p_l ∝ n_l^α with α = 0.3) beside the epoch-based
    // q_mixture_plan: per-lang token counts from one corpus scan, the
    // temperature weight as ONE exp(α·ln n) chain pre-rounded to the
    // 1e-6 grid per lang (class C: the single transcendental chain is
    // identical text in both engines and rounds once), then every
    // derived share is integer arithmetic over the rounded weights —
    // the 5-term normalizing sum is a BIGINT sum, never a float sum,
    // so no ordering hazard. boost_ppm = (temperature share / natural
    // share): > 1e6 means the rule up-samples the lang (the low-resource
    // boost the rule exists for — provably the smallest lang here).
    QDef("q_mixture_temperature",
      (s, d) => {
        val wExpr = "CAST(round(exp(0.3 * ln(CAST(n_tokens AS DOUBLE)))" +
          " * 1000000, 0) AS BIGINT)"
        val nl = documents(s, d)
          .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
          .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
          .localCheckpoint(true) // weights + both totals read it
        val tot = nl.agg(sum(col("n_tokens")).as("n_all"),
          sum(expr(wExpr)).as("w_all"))
        nl.withColumn("w_e6", expr(wExpr))
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("n_tokens"),
            expr("n_tokens * 1000000 div n_all").as("natural_ppm"),
            col("w_e6"),
            expr("w_e6 * 1000000 div w_all").as("temp_ppm"),
            expr("CAST((CAST(w_e6 AS DECIMAL(38,0)) * 1000000 * n_all)" +
              " div (CAST(w_all AS DECIMAL(38,0)) * n_tokens) AS BIGINT)")
              .as("boost_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH nl AS (SELECT lang,
            CAST(sum(len(toks)) AS BIGINT) AS n_tokens
          FROM (SELECT lang, $tokensSql AS toks FROM documents)
          GROUP BY lang),
        w AS (SELECT lang, n_tokens,
            CAST(round(exp(0.3 * ln(CAST(n_tokens AS DOUBLE)))
              * 1000000, 0) AS BIGINT) AS w_e6
          FROM nl),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_all,
            CAST(sum(w_e6) AS BIGINT) AS w_all FROM w)
        SELECT lang, n_tokens,
          n_tokens * 1000000 // n_all AS natural_ppm, w_e6,
          w_e6 * 1000000 // w_all AS temp_ppm,
          CAST((CAST(w_e6 AS HUGEINT) * 1000000 * n_all)
            // (CAST(w_all AS HUGEINT) * n_tokens) AS BIGINT) AS boost_ppm
        FROM w CROSS JOIN tot ORDER BY lang"""))
  )

  /** Shared positional-8-gram run frame of q_dupspan_pairs /
    * q_dupspan_trim: matched (id_a < id_b) gram positions chained into
    * maximal diagonal runs — one definition, so the pairwise
    * measurement and the trim action cannot drift. Columns:
    * (id_a, id_b, diag, start_a, run); a run of r matched 8-gram
    * windows beginning at a_pos start_a (b_pos = start_a − diag)
    * covers r + 7 tokens on each side. Hot grams (> 64 distinct docs)
    * are dropped before the candidate join (the tfidf df-cap
    * precedent), bounding per-gram fan-out. */
  private def dupspanRuns(s: org.apache.spark.sql.SparkSession, d: String,
      sampled: Boolean = false): org.apache.spark.sql.DataFrame = {
    // The sampled audit's stratum is DOC-level, applied AT THE SCAN:
    // this family's cost is corpus-side (measured at sf0.1: gram
    // explode + df agg + gram-frame checkpoint carry essentially the
    // whole 2.6 s; the candidate join is 0.6 s and the output 25
    // pairs), so a pair-level predicate at the join — the set-sim /
    // simhash audit form — cannot be bounded-cost here: it was
    // measured at 2.91 s vs 2.56 s full. Docs with md5 nibble ≤ 3
    // (a deterministic 1/4 of docs ⇒ 1/16 of PAIRS) prune the
    // tokenize, the explode, the df agg, and the checkpoint alike.
    // The df-cap is part of the audited pipeline and runs ON the
    // subsample; sample df ≤ global df, so every gram the full run
    // keeps survives in-sample — the audit can only see MORE matches
    // per surviving pair (monotone containment law, spec-asserted).
    val docs0 = documents(s, d)
    val docs = if (sampled)
      docs0.filter(Llm.docSampleNibble(col("doc_id")) <= 3L) else docs0
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = toks.filter(size(col("toks")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(toks) - 7),
             i -> array_join(slice(toks, i, 8), ' '))""")))
      .toDF("doc_id", "pos0", "g")
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("g"),
        KeyCompaction.hash(col("g")).as("gid"))
      // materialized ONCE: the tokenize + gram explode used to run
      // twice (df-agg side + join probe side of `kept`); every
      // downstream pass now reads this frame
      .localCheckpoint(true)
    // r17 opt (guide §2.3, shuffle fewer bytes): the df agg, the df-cap
    // join probe and BOTH candidate-join sides carry the compacted 8-byte
    // gid instead of the ~45-byte 8-gram. The key-compaction guard rides
    // the EXISTING df aggregation (no second corpus scan), and it must
    // cover pre-cap grams: a collision among dropped grams could merge
    // two rare grams past the cap and silently LOSE result rows — hence
    // per-gid stats over all grams, not kept-only.
    val gstats = grams.groupBy(col("gid"))
      .agg(countDistinct(col("doc_id")).as("gdf"),
        KeyCompaction.keysPerHash(col("g")).as("ng"))
      // LAZY checkpoint: the guard below materializes it, so guard +
      // checkpoint cost ONE job (≤ |distinct grams| rows; cap reads it)
      .localCheckpoint(false)
    val injective = KeyCompaction.injective(gstats, "ng")
    val key = if (injective) "gid" else "g"
    val hot =
      if (injective) gstats.filter(col("gdf") <= 64).select(col("gid"))
      else grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("gdf"))
        .filter(col("gdf") <= 64).select(col("g"))
    // NOT checkpointed: both candidate-join sides build from the same
    // checkpointed grams ⋈ hot subtree — canonical-equal, so the
    // runtime reuses one exchange (the kcore precedent); an eager
    // checkpoint here would serialize a materialization instead
    val kept = grams.select(col("doc_id"), col("pos"), col(key))
      .join(hot, Seq(key))
    val m = kept
      .select(col("doc_id").as("id_a"), col("pos").as("pa"), col(key))
      .join(kept.select(col("doc_id").as("id_b"), col("pos").as("pb"),
        col(key)), Seq(key))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val wIsl = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("isl", col("pa") - row_number().over(wIsl))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(min(col("pa")).as("start_a"), count(lit(1)).as("run"))
      .select(col("id_a"), col("id_b"), col("diag"), col("start_a"),
        col("run"))
  }

  /** DuckDB mirror of [[dupspanRuns]] — defines CTEs `toks` and `runs`
    * (id_a, id_b, diag, start_a, run). `sampled` restricts the scan to
    * the deterministic 1/4 doc stratum (nibble ≤ 3 ⇒ 1/16 of pairs). */
  private def dupspanRunsCte(sampled: Boolean = false): String =
    s"""toks AS (SELECT doc_id,
            $tokensSql AS toks
          FROM documents${
            if (sampled)
              s" WHERE ${Llm.docSampleNibbleSql("doc_id")} <= 3"
            else ""}),
        grams AS (SELECT doc_id, unnest(list_transform(
            range(1, len(toks) - 6),
            i -> struct_pack(pos := i,
              g := array_to_string(toks[i:i+7], ' ')))) AS e
          FROM toks WHERE len(toks) >= 8),
        g2 AS (SELECT doc_id, CAST(e['pos'] AS BIGINT) AS pos,
            e['g'] AS g FROM grams),
        df AS (SELECT g FROM g2 GROUP BY g
          HAVING count(DISTINCT doc_id) <= 64),
        kept AS (SELECT g2.* FROM g2 JOIN df USING (g)),
        m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
            a.pos - b.pos AS diag
          FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
        isl AS (SELECT id_a, id_b, diag, pa,
            pa - row_number() OVER (PARTITION BY id_a, id_b, diag
              ORDER BY pa) AS isl
          FROM m),
        runs AS (SELECT id_a, id_b, diag, isl,
            CAST(min(pa) AS BIGINT) AS start_a,
            CAST(count(*) AS BIGINT) AS run
          FROM isl GROUP BY 1, 2, 3, 4)"""

  /** TOKENIZER FERTILITY COMPARISON (r12; three-way since the
    * WordPiece held-out apply landed) — the capstone over the three
    * trained families: the BPE, WordPiece, and Unigram-LM held-out
    * applies joined per lang on the SHARED Knuth 20% split, emitting
    * each family's chars-per-emitted-token (basis points) and the
    * winner under the (higher chars/token = fewer tokens = better
    * compression; ties break bpe < unigram < wordpiece by name) total
    * order. Built FROM the three declared queries' own fn/sql — zero
    * new tokenizer machinery, so the comparison can never drift from
    * the surfaces it compares. Caveat carried in the output: unigram
    * chars-per-piece excludes its declared OOV bucket (reported beside
    * it), while the merge families segment every held-out word;
    * words_agree cross-checks all three pipelines' independent word
    * accounting row for row. Scale = the union of the constituent
    * plans (all bounded by the held-out scan + distinct-word frames). */
  private def tokenizerCompare(defs: Seq[QDef]): QDef = {
    def d0(n: String) = defs.find(_.name == n).get
    val bpeSql = d0("q_bpe_tokenize").sql.get
    val wpSql = d0("q_wordpiece_tokenize").sql.get
    val uniSql = d0("q_unigram_tokenize").sql.get
    QDef("q_tokenizer_compare",
      (s, d) => {
        // r13 (VERDICT directive 2): the Knuth 80/20 split histograms
        // are computed ONCE and fed to all three family pipelines —
        // previously the DAG recomputed the split scan + word counts
        // per family (Spark does not dedupe common subtrees), making
        // this the suite's most expensive query. The pipelines are the
        // same fns the three declared QDefs run, with the shared frames
        // injected, so the comparison still cannot drift.
        val trainWc = wordHist(s, d, Some(bpeTrainPred))
          .localCheckpoint(true)
        val heldWc = heldLangWordHist(s, d).localCheckpoint(true)
        val bpe = heldOutTokenize(s, d, wordpieceScore = false,
            Some(trainWc), Some(heldWc))
          .select(col("lang"), col("words").as("bpe_words"),
            col("tokens").as("bpe_tokens"),
            col("compression_bp").as("bpe_cpt_bp"))
        val wp = heldOutTokenize(s, d, wordpieceScore = true,
            Some(trainWc), Some(heldWc))
          .select(col("lang"), col("words").as("wp_words"),
            col("tokens").as("wp_tokens"),
            col("compression_bp").as("wp_cpt_bp"))
        val uni = unigramTokenizeFn(s, d, Some(trainWc), Some(heldWc))
          .select(col("lang"), col("n_words").as("uni_words"),
            col("n_oov").as("uni_oov"),
            col("n_pieces").as("uni_pieces"),
            col("chars_per_piece_bp").as("uni_cpp_bp"))
        bpe.join(wp, "lang").join(uni, "lang")
          .select(col("lang"), col("bpe_words"), col("wp_words"),
            col("uni_words"),
            (col("bpe_words") === col("uni_words") &&
              col("bpe_words") === col("wp_words")).cast("long")
              .as("words_agree"),
            col("bpe_tokens"), col("wp_tokens"), col("uni_pieces"),
            col("uni_oov"),
            col("bpe_cpt_bp"), col("wp_cpt_bp"), col("uni_cpp_bp"),
            when(col("bpe_cpt_bp") >= col("wp_cpt_bp") &&
              col("bpe_cpt_bp") >= col("uni_cpp_bp"), lit("bpe"))
              .when(col("uni_cpp_bp") >= col("wp_cpt_bp"), lit("unigram"))
              .otherwise(lit("wordpiece")).as("winner"))
          .orderBy(col("lang"))
      },
      Some(s"""SELECT b.lang, b.words AS bpe_words,
          w.words AS wp_words, u.n_words AS uni_words,
          CAST(b.words = u.n_words AND b.words = w.words AS BIGINT)
            AS words_agree,
          b.tokens AS bpe_tokens, w.tokens AS wp_tokens,
          u.n_pieces AS uni_pieces, u.n_oov AS uni_oov,
          b.compression_bp AS bpe_cpt_bp,
          w.compression_bp AS wp_cpt_bp,
          u.chars_per_piece_bp AS uni_cpp_bp,
          CASE WHEN b.compression_bp >= w.compression_bp
              AND b.compression_bp >= u.chars_per_piece_bp THEN 'bpe'
            WHEN u.chars_per_piece_bp >= w.compression_bp THEN 'unigram'
            ELSE 'wordpiece' END AS winner
        FROM ($bpeSql) b JOIN ($wpSql) w USING (lang)
        JOIN ($uniSql) u USING (lang)
        ORDER BY b.lang"""))
  }

  /** TOKENIZER FERTILITY (r14 VERDICT directive 5 / NEXT candidate 3):
    * pieces-per-word for the trained BPE and WordPiece vocabularies on
    * the held-out split, per lang, beside the compression column the
    * apply queries already publish. Fertility (tokens·10⁴ div words)
    * is the standard tokenizer-quality metric reported next to
    * compression — a tokenizer can pack chars-per-token well yet still
    * fragment words badly, and fertility is what catches it (1.0 =
    * every word survives whole; ≥ 1 always, since each word emits at
    * least one piece). Rides the SAME [[heldOutTokenize]] machinery
    * and the two declared apply SQLs verbatim (the tokenizerCompare
    * composition pattern), with the shared Knuth-split histograms
    * injected once, so this surface cannot drift from the surfaces it
    * summarizes. All-integer output: class A determinism. Scale = the
    * union of the two constituent apply plans (distinct-word merge
    * windows + two histogram aggs — nothing corpus-global). */
  private def tokenizerFertility(defs: Seq[QDef]): QDef = {
    def d0(n: String) = defs.find(_.name == n).get
    val bpeSql = d0("q_bpe_tokenize").sql.get
    val wpSql = d0("q_wordpiece_tokenize").sql.get
    QDef("q_tokenizer_fertility",
      (s, d) => {
        val trainWc = wordHist(s, d, Some(bpeTrainPred))
          .localCheckpoint(true)
        val heldWc = heldLangWordHist(s, d).localCheckpoint(true)
        def fam(name: String, wp: Boolean) =
          heldOutTokenize(s, d, wordpieceScore = wp,
              Some(trainWc), Some(heldWc))
            .select(lit(name).as("family"), col("lang"), col("words"),
              col("tokens"),
              expr("tokens * 10000 div greatest(words, 1)")
                .as("fertility_bp"),
              col("compression_bp"))
        fam("bpe", wp = false).unionAll(fam("wordpiece", wp = true))
          .orderBy(col("family"), col("lang"))
      },
      Some(s"""SELECT family, lang, words, tokens,
          tokens * 10000 // greatest(words, 1) AS fertility_bp,
          compression_bp
        FROM (
          SELECT 'bpe' AS family, lang, words, tokens, compression_bp
          FROM ($bpeSql)
          UNION ALL
          SELECT 'wordpiece' AS family, lang, words, tokens,
            compression_bp
          FROM ($wpSql))
        ORDER BY family, lang"""))
  }

  val all: Seq[QDef] =
    base :+ tokenizerCompare(base) :+ tokenizerFertility(base)
}
