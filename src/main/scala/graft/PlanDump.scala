package graft

import java.nio.file.{Files, Paths}
import scala.util.chaining._

/** Plan-fingerprint artifact (NEXT r15 candidate #4): one canonical
  * line per declared query — operator count, Exchange count, codegen
  * span count, and an md5 fingerprint of the CANONICALIZED formatted
  * physical plan — written to a committed file so plan regressions
  * diff textually in review (a broadcast silently degrading to SMJ, a
  * pushdown lost, a new Exchange appearing shows up as a one-line diff
  * long before a bench regression localizes it).
  *
  * Canonicalization strips everything run-specific: expression ids
  * (#123), plan ids, checkpoint RDD ids, file paths/sizes/statistics,
  * memory addresses. What remains is the plan SHAPE: the operator
  * tree, join strategies, partitioning, pushed filters.
  *
  * Queries that call localCheckpoint(true) during construction execute
  * their prelude eagerly — the dump therefore runs at sf0.001 (the
  * smoke corpus) and takes minutes, not the gate's cost.
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {
  def canonicalize(plan: String): String = plan
    .replaceAll("#\\d+L?", "#x")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("ExistingRDD\\[[^\\]]*\\]", "ExistingRDD[x]")
    .replaceAll("Location: [^\\n]*", "Location: x")
    .replaceAll("file:[^,\\]\\s)]*", "file:x")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
    .replaceAll("size=[^,)\\s]*", "size=x")
    .replaceAll("rowCount=\\d+", "rowCount=x")
    .replaceAll("@[0-9a-f]{6,}", "@x")
    .replaceAll("cp-[0-9a-f-]+", "cp-x")
    .replaceAll("rdd_\\d+_\\d+", "rdd_x")
    // checkpoint-RDD call sites carry SOURCE LINE numbers ("at
    // EventWindows.scala:1525") — editing code above the call shifts
    // them with zero plan change
    .replaceAll("\\.scala:\\d+", ".scala:n")
    // run-global RDD id counters (localCheckpoint scans)
    .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
    // JIT-assigned lambda class suffixes vary per JVM launch
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x")
    // Catalyst lambda-variable names carry a session-global counter
    // that shifts whenever ANY query is added before this one
    .replaceAll("\\bx_\\d+#x", "x_n#x")
    // ... and the same counter names EVERY lambda variable (x_15, y_73,
    // acc_9, …): the printed form is always "lambda <name>_<n>#x".
    // Genuine columns with digit suffixes (m_0, p3_4) never carry the
    // "lambda " prefix, so anchoring on it avoids blinding them.
    .replaceAll("\\blambda ([A-Za-z]+)_\\d+#x", "lambda $1_n#x")
    // builder-local temp dirs (kpl archive roundtrip, format codecs)
    .replaceAll("/tmp/[^,\\]\\s)]*", "/tmp/x")
    // LayoutCache tokens (bucketed TABLE names, not /tmp paths) carry a
    // full-path md5 + the writing JVM's pid (r15 ADVICE isolation) —
    // both vary per dump JVM with zero plan change
    .replaceAll("_[0-9a-f]{12}_p\\d+", "_h_pn")
    // streaming state info: per-run UUID + batch timestamp
    .replaceAll("runId = [0-9a-f-]{36}", "runId = x")
    // the TransformWithState batch-timestamp operand sits right after
    // the state-info block's stateStoreCkptIds field — anchor the
    // blinding THERE (r14 ADVICE: a bare \b1\d{12}\b pattern also
    // blinded genuine 13-digit query literals like the 1e12 e12-grid
    // scales, so a change to such a literal wouldn't move the
    // fingerprint)
    // (r15 ADVICE: the old `[^,]*` anchor assumed the field value holds
    // no comma — a populated Some(List(id1, id2)) under state-store
    // checkpoint format v2 would slip a raw per-run timestamp through.
    // Anchor on the None | Some(...) shape instead.)
    // (r16: the Some(...) arm must admit one level of NESTING — the
    // printed value is Some(List(id, ...)), whose inner ')' stopped the
    // naive [^)]* arm and let the timestamp through; unit-tested with
    // the populated nested-list shape.)
    .replaceAll("(stateStoreCkptIds = (?:None|Some\\((?:[^()]|\\([^()]*\\))*\\)), )1[0-9]{12}\\b",
      "$1epochms")
    // the multi-distinct Expand rewrite binds gid->column via a hash-
    // ordered Map (Catalyst-internal, semantically irrelevant): drop
    // the double-bracketed branch payload, keep the operator + counts
    .replaceAll("(?m)^(Arguments: \\[\\[).*$", "$1x]]")
    // ... and its gid numbering + partitioning-key order leak further
    // downstream: neutralize the gid literals, sort the
    // hashpartitioning key list, and sort attribute lists so the
    // fingerprint tracks plan SHAPE, not hash-map iteration order
    .replaceAll("gid#x = \\d+", "gid#x = n")
    // partition COUNTS are session config (local[4] tests vs local[8]
    // dumps vs 32-thread bench), not plan shape — blind them so the
    // same plan fingerprints identically from any session
    .pipe(blindHashPartitioning)
    .replaceAll("(rangepartitioning\\([^()]*), \\d+\\)", "$1, n)")
    .replaceAll("Partitioning\\(\\d+\\)", "Partitioning(n)")
    .replaceAll("numPartitions = \\d+", "numPartitions = n")
    // Range's split count is spark.default.parallelism (session config,
    // like partition counts): Range (0, 32, step=1, splits=Some(8))
    .replaceAll("splits=Some\\(\\d+\\)", "splits=Some(n)")
    // EXECUTED (post-AQE) plans only: codegen stage ids and
    // QueryStage ids are assigned in MATERIALIZATION order — a race
    // between broadcast builds renumbers them with zero plan change
    // (measured: q_market_share's stages flip 5↔6 across JVMs). The
    // span COUNT survives (fingerprint counts ids on the RAW text);
    // bare-integer Arguments lines are exclusively QueryStage ids —
    // verified: no pre-exec formatted plan in the full 399-query dump
    // prints one.
    .replaceAll("codegen id : \\d+", "codegen id : x")
    .replaceAll("(?m)^Arguments: \\d+$", "Arguments: qs")
    .linesIterator.map(sortAttrList).mkString("\n")

  /** Blind the partition COUNT and sort the key list of every
    * `hashpartitioning(...)` clause, paren-AWARE (r14 ADVICE: the old
    * `[^()]*` regex silently skipped any clause whose key contains a
    * nested call like `pmod(...)` — the raw partition count then
    * survived and a 4-thread PlanPinSpec session would fingerprint
    * differently from the 8-thread dump). Scans to the MATCHING close
    * paren with a depth counter, splits on depth-0 commas, blinds
    * all-digit parts, sorts. */
  private[graft] def blindHashPartitioning(s: String): String = {
    val marker = "hashpartitioning("
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val at = s.indexOf(marker, i)
      // NOTE: explicit substring — a 3-arg sb.append(s, i, at) silently
      // auto-tuples in Scala 2 (appends "(s,i,at)".toString)
      if (at < 0) { sb.append(s.substring(i)); i = s.length }
      else {
        sb.append(s.substring(i, at)).append(marker)
        var j = at + marker.length
        var depth = 1
        while (j < s.length && depth > 0) {
          s.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          j += 1
        }
        // j is one past the matching ')' (or end-of-string if unbalanced
        // — then treat the tail as the body and emit no close paren)
        val closed = depth == 0
        val body = s.substring(at + marker.length, if (closed) j - 1 else j)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var d = 0
        body.foreach {
          case c @ ('(' | '[') => d += 1; cur.append(c)
          case c @ (')' | ']') => d -= 1; cur.append(c)
          case ',' if d == 0 => parts += cur.result().trim; cur.clear()
          case c => cur.append(c)
        }
        if (cur.nonEmpty) parts += cur.result().trim
        sb.append(parts.map(p => if (p.nonEmpty && p.forall(_.isDigit)) "n" else p)
          .sorted.mkString(", "))
        if (closed) sb.append(')')
        i = j
      }
    }
    sb.result()
  }

  private val AttrLine =
    ("^((?:Input|Output|Keys|Functions|Results|Aggregate Attributes)" +
      " \\[\\d+\\]: \\[)(.*)(\\])$").r

  /** Sort a bracketed attribute list on depth-0 commas (paren-aware —
    * nested calls like f(a, b) stay intact). */
  private[graft] def sortAttrList(line: String): String = line match {
    case AttrLine(pre, body, post) =>
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var depth = 0
      body.foreach {
        case c @ ('(' | '[') => depth += 1; cur.append(c)
        case c @ (')' | ']') => depth -= 1; cur.append(c)
        case ',' if depth == 0 => parts += cur.result().trim; cur.clear()
        case c => cur.append(c)
      }
      if (cur.nonEmpty) parts += cur.result().trim
      pre + parts.sorted.mkString(", ") + post
    case _ => line
  }

  def fingerprint(name: String, plan: String): String = {
    val canon = canonicalize(plan)
    val heads = "(?m)^\\(\\d+\\) ([A-Za-z][A-Za-z0-9_]*)".r
      .findAllMatchIn(canon).map(_.group(1)).toSeq
    val ex = heads.count(_.contains("Exchange"))
    // count spans on the RAW text — canonicalize blinds the id numbers
    // (materialization-order races renumber them)
    val spans = "codegen id : (\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    f"$name%-36s ops=${heads.size}%-4d exchanges=$ex%-3d " +
      f"codegen_spans=$spans%-3d md5=${md.take(12)}"
  }

  private val Formatted =
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

  /** Build + execute + fingerprint one exec-pinned query. For the
    * [[PlanPins.execAqeOff]] subset (AQE build-side flip race — see
    * PlanPins) the WHOLE build-and-execute runs with
    * `spark.sql.adaptive.enabled=false`, fingerprinting the
    * deterministic static physical plan; the line carries an
    * ` aqe=off` marker so the artifact documents it. Used by BOTH the
    * dump and the PlanPinSpec gate — one definition, no drift.
    * Returns (fingerprint line, canonical executed plan text). */
  def execFingerprintFor(spark: org.apache.spark.sql.SparkSession,
      name: String, sfDir: String): (String, String) = {
    def run(): (String, String) = {
      // ANY cached frame in the session whose plan is a subtree of this
      // query substitutes an InMemoryRelation into the replan (+2 ops
      // per substitution) — including frames cached by OTHER queries or
      // suites, which a per-query unpersist cannot reach (measured:
      // q_cosine_ivf reads 149 ops in the dump session after the
      // 404-query pre pass vs its true 147 in a cache-clean session).
      // Clearing the whole cache makes dump and gate see the same
      // substitution-free plan regardless of what ran before; caching
      // is transparent to semantics, so later consumers just rebuild.
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val line = execFingerprint(name, df)
      (line, canonicalize(df.queryExecution.explainString(Formatted)))
    }
    if (!PlanPins.execAqeOff.contains(name)) run()
    else {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val (line, canon) = run()
        (s"$line aqe=off", canon)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Fingerprint the EXECUTED (post-AQE) plan: collect() drives the
    * DataFrame's own AdaptiveSparkPlan to its final form, where
    * codegen ids are actually assigned — so the codegen_spans column
    * is REAL here (the pre-execution dump records codegen_spans=0 for
    * every exchange-bearing query because AQE assigns ids only at
    * execution; r14 VERDICT cosmetic note #1). */
  def execFingerprint(name: String,
      df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    fingerprint(name, df.queryExecution.explainString(Formatted))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.txt")
    // optional third arg: also write post-AQE executed-plan
    // fingerprints for the PlanPins.exec subset to this file
    val execOut = args.lift(2)
    // default 4 cpus makes this TestSpark's session (both are
    // GraftSession.build(4, sf0.001)):
    // the EXECUTED (post-AQE) fingerprints are structurally sensitive to
    // the initial shuffle partition count (AQE coalescing can insert or
    // drop an AQEShuffleRead+Sort pair — measured: q_cosine_ivf 147 ops
    // at 8 threads vs 149 at 4), and the artifact's only consumer is the
    // 4-thread PlanPinSpec gate session. Pre-exec fingerprints are
    // partition-count-blind either way.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.build(cpus, sfDir)
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    val dbg = sys.env.get("PLANDUMP_DEBUG_DIR")
    dbg.foreach(p => new java.io.File(p).mkdirs())
    val lines = SparkEntry.defs.sortBy(_.name).map { q =>
      try {
        val df = q.fn(spark, sfDir)
        val txt = df.queryExecution.explainString(mode)
        dbg.foreach(p => Files.writeString(Paths.get(s"$p/${q.name}.txt"),
          canonicalize(txt)))
        fingerprint(q.name, txt)
      } catch {
        case e: Throwable =>
          f"${q.name}%-36s ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(80)
      }
    }
    val header = Seq(
      s"# Plan fingerprints over ${lines.size} declared queries at $sfDir",
      "# <name> ops=<operator count> exchanges=<Exchange count> " +
        "codegen_spans=<WholeStageCodegen spans> md5=<canonical-plan hash>",
      "# Regenerate: sbt \"runMain graft.PlanDump\" — run-specific ids/" +
        "paths/stats are canonicalized away; any diff is a plan change.")
    Files.writeString(Paths.get(out),
      (header ++ lines).mkString("", "\n", "\n"))
    println(s"[plandump] ${lines.size} fingerprints -> $out")
    execOut.foreach { eo =>
      val execLines = PlanPins.exec.sorted.map { name =>
        try {
          val (line, canon) = execFingerprintFor(spark, name, sfDir)
          dbg.foreach(p => Files.writeString(Paths.get(s"$p/EXEC_${name}.txt"),
            canon))
          line
        } catch {
          case e: Throwable =>
            f"$name%-36s ERROR ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(80)
        }
      }
      val execHeader = Seq(
        s"# EXECUTED (post-AQE) plan fingerprints for the " +
          s"${execLines.size} PlanPins.exec queries at $sfDir",
        "# codegen_spans here is REAL (ids are assigned at execution);" +
          " same canonicalization as the pre-exec artifact.",
        "# Regenerate: sbt \"runMain graft.PlanDump /root/testdata/" +
          s"sf0.001 <preOut> $eo\"")
      Files.writeString(Paths.get(eo),
        (execHeader ++ execLines).mkString("", "\n", "\n"))
      println(s"[plandump] ${execLines.size} exec fingerprints -> $eo")
    }
    spark.stop()
  }
}
