package graft

import scala.util.control.NonFatal

/** Per-round benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR — one cold run, then THREE steady-state runs whose
  * MEDIAN is the reported number — writes the full per-query JSON record
  * (warm medians, cold, raw warm samples, a /proc/loadavg stamp, the
  * warm runs' generated-class compile count and a
  * canonicalized-optimized-plan fingerprint per query) to bench_out.json,
  * prints it, and prints a compact summary JSON line LAST (the driver
  * captures a bounded stdout tail; the compact line is what survives
  * truncation).
  *
  * Each query is executed through the `noop` sink so the full projection
  * is computed (a bare .count() lets Catalyst prune away most of the
  * query's actual work). One warmup action initializes codegen/JIT paths
  * before timing starts. Failed queries report -1 (never a fast-looking
  * elapsed time); a context-killing failure recreates the session so the
  * remaining queries still run.
  */
object Bench {

  /** One query's measured record: reported warm median, cold (first)
    * run, every warm sample (3, or 6 after a load escalation), the
    * worst /proc/loadavg stamp observed while measuring, the
    * canonicalized-plan fingerprint, the `suspect` verdict — true
    * when the harness itself distrusts the stamps (see [[isSuspect]]) —
    * and `compiles`, the classes codegen compiled during the warm runs
    * (see [[compiledClasses]]).
    */
  private[graft] case class QRec(warm: Double, cold: Double,
      samples: Seq[Double], load: Double, fp: String, suspect: Boolean,
      compiles: Long = 0L)

  /** Generated classes compiled so far in this JVM: Spark records one
    * compile-time sample per class it compiles and none for a class its
    * codegen cache serves. A query whose warm runs move this counter
    * regenerates code on every run.
    */
  private[graft] def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The reported warm time: MEDIAN of the valid samples (midpoint of
    * the two middles on an even count — neither lone sample deserves
    * full trust, a spike can point either way); -1 when every run
    * failed. Generalized from exactly-3 so a load escalation can feed 6
    * samples through the same rule. Factored out so the selection rule
    * is unit-testable (CoreSpec) — the round-7 artifact taught that the
    * sample-selection rule IS the bench's credibility.
    */
  private[graft] def combineWarm(samples: Seq[Double]): Double = {
    val valid = samples.filter(_ >= 0).sorted
    val n = valid.size
    if (n == 0) -1.0
    else if (n % 2 == 1) valid(n / 2)
    else (valid(n / 2 - 1) + valid(n / 2)) / 2.0
  }

  /** Max/min ratio of the valid samples (floored at 50 ms so micro-query
    * jitter can't register as spread). 1.0 when fewer than two valid
    * samples exist — a failure is the `errors` tripwire's job, not this
    * one's.
    */
  private[graft] def spreadOf(samples: Seq[Double]): Double = {
    val valid = samples.filter(_ >= 0)
    if (valid.size < 2) 1.0
    else valid.max / math.max(valid.min, 0.05)
  }

  /** Warm-sample spread above this after escalation ⇒ the median is
    * polluted by something the harness can't control (round-12's p01:
    * 24.2/9.8/2.4 s on an UNCHANGED plan — pure machine load).
    */
  private[graft] val SpreadMax = 3.0

  /** The harness distrusts a query's record when the samples disagree
    * by more than [[SpreadMax]] or the machine's 1-min loadavg reached
    * the physical core count while measuring: either way, the number
    * measures the MACHINE, not the plan. Suspect queries are still
    * reported (their medians are the best available estimate) but are
    * named in `load_suspect` and excluded from the delta/regression/
    * leak tripwires — round 12's verdict: a harness whose headline
    * flags need a human to adjudicate "probably noise" will eventually
    * hide a real regression behind that habit.
    */
  private[graft] def isSuspect(samples: Seq[Double], load: Double, cores: Int): Boolean =
    spreadOf(samples) > SpreadMax || (load >= 0 && load >= cores.toDouble)

  /** Fingerprint of the canonicalized optimized logical plan (exprIds
    * normalized away): identical fingerprint across rounds proves a
    * timing delta is environmental, a changed one localizes it to a
    * plan change. Comparability caveats: internally-persisted frames
    * appear as InMemoryRelation in this plan — REDUCED here to a
    * schema-only leaf, because the node prints its cached PHYSICAL plan
    * verbatim: raw exprIds allocated from session-global counters, AQE
    * final-vs-initial plans, runtime coalesce decisions — none of it
    * is this query's structure, and all of it flapped fps between
    * identical runs (round 15). For CC queries the optimized plan is
    * the post-labeling LogicalRDD union, so the fp localizes changes
    * in the consumer plan, not the hop pipeline.
    */
  private[graft] def planFp(df: org.apache.spark.sql.DataFrame): String = {
    // The ANALYZED plan, not the optimized one: cache substitution runs
    // AFTER analysis, so the analyzed plan can never contain an
    // InMemoryRelation — whereas the optimized plan is bimodal on cache
    // state at the moment its lazy val is first forced (persist still
    // live → IMR subtree; first forced after the sweep → the same query
    // re-optimizes to its raw lineage). Round 15 measured that flap
    // twice: first as which write path forced the lazy val, then — with
    // an explicit pre-sweep force — still flapping between identical
    // full runs (G vs H/I, five GlobalOrder consumers). The analyzed
    // plan is cache-independent by construction and still tracks every
    // code-level change to what the query IS; optimizer-level behavior
    // (pushdown, join strategy) is pinned where it belongs — PlanSpec
    // and tools/ExplainCheck — not in a run-to-run drift tripwire.
    // The IMR transform stays as belt-and-braces for any analyzed tree
    // that embeds a pre-cached DataFrame directly.
    fpOf(fpPlan(df).toString)
  }

  /** The normalized plan TREE behind [[planFp]] (also what the
    * SPARK_GRAFT_FP_DUMP_DIR diagnostic stringifies). Map literals are
    * EMPTIED BEFORE canonicalization: canonicalization reorders
    * commutative operands by hash, and GlobalOrder's per-partition
    * offsets map is a literal whose PAYLOAD varies run-to-run (range
    * bounds seed from the RDD id) — so `rn + offset` vs `offset + rn`
    * flipped between identical full runs depending on the payload's
    * hash (the round-15 five-consumer flap, finally text-diffed via the
    * dump dir). The string-level payload strip in [[normalize]] ran too
    * late to fix ordering; pruning the payload from the TREE makes the
    * canonical order payload-independent.
    */
  private[graft] def fpPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.types.MapType
    df.queryExecution.analyzed.transformAllExpressions {
      case Literal(v, t: MapType) if v != null =>
        Literal.create(ArrayBasedMapData(Array.empty[Any], Array.empty[Any]), t)
    }.canonicalized.transform {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(imr.output)
    }
  }

  /** The normalization rule behind [[planFp]], on the plan STRING so the
    * three strip rules are unit-testable. Canonicalization does not
    * normalize everything that varies run-to-run:
    *  - closure-bearing nodes (mapPartitions lambdas, typed Aggregators —
    *    m01-m03/s01/wc02/wc03) print per-JVM object identities
    *    ($$Lambda$123/0x7f..., @1a2b3c);
    *  - GlobalOrder's two-pass operators embed the collected per-partition
    *    offsets as a map LITERAL (`map(keys: [...], values: [...])`) —
    *    the VALUES depend on where the range exchange drew its partition
    *    bounds, which Spark seeds from the RDD id, i.e. on how many RDDs
    *    the session created before this query: measured as seven
    *    GlobalOrder consumers flapping fp between two identical full
    *    bench runs (round 15). The payload is data, not structure —
    *    strip it, keep the map node itself;
    *  - an InMemoryRelation prints its cached PHYSICAL plan verbatim —
    *    canonicalization never reaches inside it, so raw exprIds
    *    (`spend#955`) and `[plan_id=78]` tags leak through, both
    *    allocated from session-global counters (i.e. they encode how
    *    many expressions/plans existed before this query, not what this
    *    plan does). plan_ids are stripped; exprIds are RENUMBERED by
    *    first appearance, which normalizes the counter offset while
    *    keeping distinct columns distinct;
    *  - two more JVM-global counters reach the canonicalized plan: the
    *    id of a typed `lambdavariable(...)` (the MapObjects loop variable
    *    an `as[T]` encoder builds; s01/s12/s18/s19/s21/s31/q36) and the
    *    id of a CTE (`CTERelationDef`/`CTERelationRef`/`UnionLoop`/
    *    `UnionLoopRef`; q40 counts its own earlier runs). Both are
    *    renumbered by first appearance the same way, each in its own
    *    numbering;
    *  - canonicalization flattens a chain of one commutative operator
    *    into `multicommutativeop(operands..., class <op>, <evalMode>)`
    *    and orders the operands by hash, and that order differed between
    *    two runs of the same code (t03/t20's `a + b + c + d = 0`). Each
    *    such node's operands are sorted by their text, before the
    *    renumbering, so it cannot move the first appearance of an id.
    * The fingerprint must track plan STRUCTURE only.
    */
  private[graft] def normalize(plan: String): String = {
    val s = sortCommutativeOperands(plan
      .replaceAll("\\$\\$?Lambda\\$\\d+(/0x[0-9a-f]+)?", "\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}", "@id")
      .replaceAll("keys: \\[[^\\]]*\\], values: \\[[^\\]]*\\]",
        "keys: [...], values: [...]")
      .replaceAll(", \\[plan_id=\\d+\\]", ""))
    // (prefix)(id)(suffix) patterns, each renumbered by first appearance
    Seq("(#)(\\d+)()",
        "(lambdavariable\\((?:[^()]|\\([^()]*\\))*?, (?:true|false), )(-?\\d+)(\\))",
        "(\\b(?:CTERelationDef|CTERelationRef|UnionLoopRef|UnionLoop) )(\\d+)(\\b)")
      .foldLeft(s) { (acc, re) =>
        val renumber = scala.collection.mutable.HashMap[String, Int]()
        re.r.replaceAllIn(acc, m => scala.util.matching.Regex.quoteReplacement(
          m.group(1) + renumber.getOrElseUpdate(m.group(2), renumber.size) + m.group(3)))
      }
  }

  /** `plan` with the operands of every `multicommutativeop(...)` sorted
    * by their text (nested nodes first); its trailing operator class and
    * eval mode stay last. A node whose brackets do not balance is left
    * as it is.
    */
  private def sortCommutativeOperands(plan: String): String = {
    val open = "multicommutativeop("
    val at = plan.indexOf(open)
    if (at < 0) return plan
    val start = at + open.length
    val cuts = scala.collection.mutable.ArrayBuffer(start - 1)
    var depth = 0
    var i = start
    while (i < plan.length && depth >= 0) {
      plan(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => cuts += i
        case _ =>
      }
      i += 1
    }
    if (depth >= 0) return plan
    cuts += i - 1
    val args = cuts.zip(cuts.tail).map { case (a, b) =>
      sortCommutativeOperands(plan.substring(a + 1, b).trim)
    }.toSeq
    val (operands, rest) = args.span(!_.startsWith("class "))
    plan.substring(0, start) + (operands.sorted ++ rest).mkString(", ") + ")" +
      sortCommutativeOperands(plan.substring(i))
  }

  private[graft] def fpOf(plan: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalize(plan).getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** Parse bench_local_ref.json into (warm pin, plan fp) maps — shared
    * by the delta table and the sustained-inflation re-sampler. Empty
    * maps when the reference is absent, unparsable, or recorded at a
    * different SF (cross-SF ratios are meaningless).
    */
  private[graft] def loadRefPins(refPath: String, sfDir: String)
      : (Map[String, Double], Map[String, String]) =
    try {
      val f = new java.io.File(refPath)
      if (!f.exists()) return (Map.empty, Map.empty)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val refSf = Option(node.get("sf")).map(_.asText).getOrElse("")
      if (new java.io.File(refSf).getName != new java.io.File(sfDir).getName)
        return (Map.empty, Map.empty)
      def toMap[A](field: String, get: com.fasterxml.jackson.databind.JsonNode => A) =
        Option(node.get(field)).map { q =>
          val it = q.fields()
          val b = Map.newBuilder[String, A]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> get(e.getValue) }
          b.result()
        }.getOrElse(Map.empty[String, A])
      (toMap("queries", _.asDouble(-1.0)), toMap("plan_fp", _.asText))
    } catch { case NonFatal(_) => (Map.empty, Map.empty) }

  /** A mover is a >2× AND >1 s delta vs the local pin — the one rule
    * the delta table, the regression tripwire, and the sustained-
    * inflation re-sampler all share.
    */
  private[graft] def isMover(warm: Double, ref: Double): Boolean =
    ref > 0 && warm > 0 && (warm / ref > 2.0 || warm / ref < 0.5) &&
      math.abs(warm - ref) > 1.0

  /** Sustained-inflation candidates (round-14 verdict #1): the spike
    * detector keys on sample SPREAD, so a co-tenant load window that
    * inflates all three warm samples equally sails through — round
    * 14's q48–q52 cluster ran 24–34× the pin in every sample with
    * `fp == same` and landed in the delta table with no disposition.
    * A query qualifies when its record is trusted (not already
    * suspect), its plan fingerprint MATCHES the pin's (the delta is
    * not code-attributable), and its warm median is a SLOWDOWN mover
    * vs the pin. Qualifying queries are re-sampled at END of run —
    * after the load window has had the whole remaining bench to pass —
    * and resolved by [[resolveSustained]].
    */
  private[graft] def sustainedCandidates(
      results: Seq[(String, QRec)],
      refQ: Map[String, Double], refFp: Map[String, String]): Seq[String] =
    results.collect {
      case (name, r)
        if !r.suspect && r.fp.nonEmpty && refFp.get(name).contains(r.fp) &&
          refQ.get(name).exists(p => isMover(r.warm, p) && r.warm > p) => name
    }

  /** Fold an end-of-run re-sample into a sustained-inflation record.
    * If the re-sampled median lands back inside the mover bound, the
    * original inflation was the machine: the record reports the clean
    * re-sample (disposition `transient_load`) with every sample kept
    * for the artifact. If it is STILL a mover, the inflation survived
    * the run — disposition `sustained`, median over all samples, and
    * the record is marked suspect so the hard tripwires (regressions,
    * warm>cold leak) don't fire on a number that may have tracked the
    * machine for the entire bench. `sustained` is NOT proof of
    * environment, though: the fingerprint is the ANALYZED plan, so an
    * optimizer/physical-level regression (lost pushdown, a join-
    * strategy flip, a dropped persist) is fp:same too — quarantining
    * sustained entries out of sight would hide exactly that class
    * (round-15 ADVICE). So a sustained record stays IN the delta table
    * with `disp:"sustained"` — visible and adjudicable every round —
    * it just can't fail the run on its own. A re-sample that produced
    * no valid run resolves `resample_failed` and leaves the original
    * record untouched.
    */
  private[graft] def resolveSustained(rec: QRec, resamples: Seq[Double],
      refWarm: Double): (QRec, String) = {
    val valid = resamples.filter(_ >= 0)
    if (valid.isEmpty) (rec, "resample_failed")
    else {
      val rWarm = combineWarm(resamples)
      val all = rec.samples ++ resamples
      if (!isMover(rWarm, refWarm))
        (rec.copy(warm = rWarm, samples = all), "transient_load")
      else
        (rec.copy(warm = combineWarm(all), samples = all, suspect = true),
          "sustained")
    }
  }

  /** Driver-vs-local delta table (round-9 advice: make environment noise
    * separable from plan changes at a glance). Compares this run's warm
    * medians against a COMMITTED local reference record
    * (bench_local_ref.json, the builder's own machine at the same SF)
    * and reports the queries that moved by >2x and >1 s in either
    * direction, each tagged `fp:same` (identical canonicalized-plan
    * fingerprint — the delta is environmental) or `fp:diff` (the plan
    * changed — the delta is code-attributable). Bounded to the 8
    * largest movers so the compact line survives the driver's stdout
    * tail. Returns ("[]", Nil) when the reference is absent or
    * unparsable, or was recorded at a different SF (cross-SF ratios are
    * meaningless).
    *
    * The second member is the REGRESSION list: every ≥2×-and-≥1 s
    * mover whose plan fingerprint CHANGED (`fp:diff`) — code-
    * attributable, so it must fail the run the way the gate's
    * _ERRORS.json fails verification: named in the `regressions` field
    * of BOTH summary lines plus a stderr shout, never just a quiet
    * table entry (round-10 verdict #5: a plan regression must not ship
    * silently).
    */
  private[graft] def deltaVsRef(
      results: Seq[(String, QRec)],
      sfDir: String, refPath: String,
      disps: Map[String, String] = Map.empty): (String, Seq[String]) = {
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    try {
      val f = new java.io.File(refPath)
      if (!f.exists()) return ("[]", Nil)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val refSf = Option(node.get("sf")).map(_.asText).getOrElse("")
      if (new java.io.File(refSf).getName != new java.io.File(sfDir).getName) return ("[]", Nil)
      val refQ = node.get("queries")
      val refFp = node.get("plan_fp")
      // load-suspect records never enter the table: their medians carry
      // stamps the harness itself distrusts, and a delta built on them
      // is exactly the round-12 pollution this field exists to prevent —
      // they are named in `load_suspect` instead. ONE exception
      // (round-15 ADVICE): a `sustained` resolution — inflated in every
      // sample AND in the end-of-run re-sample, on a matching analyzed-
      // plan fp — stays in the table. The analyzed fp cannot rule out
      // an optimizer-level regression, so dropping these would
      // quarantine a possible code regression as machine noise; they
      // carry disp:"sustained" and are excluded only from the hard
      // regression tripwire.
      val movers = results.flatMap { case (name, QRec(warm, _, _, _, fp, suspect, _)) =>
        val r = Option(refQ).flatMap(q => Option(q.get(name))).map(_.asDouble(-1.0)).getOrElse(-1.0)
        if ((suspect && !disps.get(name).contains("sustained")) || warm <= 0 || r <= 0) None
        else {
          val ratio = warm / r
          if ((ratio > 2.0 || ratio < 0.5) && math.abs(warm - r) > 1.0) {
            val rfp = Option(refFp).flatMap(p => Option(p.get(name))).map(_.asText).getOrElse("")
            // "diff" is a code-attribution claim — only make it when BOTH
            // fingerprints exist and disagree; a reference without one
            // gets the honest "unknown"
            val tag =
              if (rfp.isEmpty || fp.isEmpty) "unknown"
              else if (rfp == fp) "same"
              else "diff"
            Some((name, warm, r, ratio, tag))
          } else None
        }
      }.sortBy { case (_, _, _, ratio, _) => -math.abs(math.log(ratio)) }.take(8)
      // every entry carries a DISPOSITION (round-14 verdict #1): fp:diff
      // deltas are code-attributable by definition; fp:same slowdowns
      // were re-sampled at end of run and carry that resolution; what
      // remains is environmental speedup or genuinely unresolved
      val json = movers.map { case (n, w, r, x, tag) =>
        val disp = disps.getOrElse(n, tag match {
          case "diff" => if (w > r) "plan_regression" else "plan_improvement"
          case "same" => if (w > r) "unresolved" else "environment"
          case _      => "unknown"
        })
        s"""{"q":"$n","now":${fmt(w)},"ref":${fmt(r)},"x":${fmt(x)},"fp":"$tag","disp":"$disp"}"""
      }.mkString("[", ",", "]")
      // only SLOWDOWNS regress; an fp:diff speedup is a plan improvement
      // awaiting a reference refresh, not a failure
      (json, movers.collect { case (n, w, r, _, "diff") if w > r => n })
    } catch { case NonFatal(_) => ("[]", Nil) }
  }

  /** Render the (full, compact) summary JSON lines from the per-query
    * results: name -> (warm, cold, warmSamples, load, planFp). Factored
    * from main so the two loudness tripwires are unit-testable (the
    * round-8 "done" bar: planting one failing query must redden BOTH
    * artifacts):
    *  - `warm_exceeds_cold`: the leak guard — a steady-state median
    *    slower than cold by a margin noise can't explain (round-5
    *    checkpoint-leak signature);
    *  - `errors`: every query whose warm OR cold record is the -1.0
    *    failure sentinel, named in BOTH lines so the driver's bounded
    *    stdout tail and the artifact file each carry the red list (a
    *    sentinel used to hide inside a green-looking total: 7 broken
    *    queries contributed ~0 s in round 8 and nothing flagged them).
    */
  private[graft] def renderSummary(
      results: Seq[(String, QRec)],
      sfDir: String, out: String, deltaJson: String = "[]",
      regressions: Seq[String] = Nil,
      resampleJson: String = "[]"): (String, String) = {
    def inverted(warm: Double, cold: Double): Boolean =
      cold > 0 && warm > cold * 1.5 && warm - cold > 1.0
    // 3-decimal times: ms resolution is below run-to-run noise, and the
    // shorter line matters — the driver captures a bounded tail of stdout.
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def map(sel: QRec => Double) = results
      .map { case (k, v) => "\"" + k + "\":" + fmt(sel(v)) }.mkString("{", ",", "}")
    val samplesMap = results
      .map { case (k, v) => "\"" + k + "\":" + v.samples.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fpMap = results
      .map { case (k, v) => "\"" + k + "\":\"" + v.fp + "\"" }.mkString("{", ",", "}")
    val compilesMap = results
      .map { case (k, v) => "\"" + k + "\":" + v.compiles }.mkString("{", ",", "}")
    val total = results.map(_._2.warm).filter(_ >= 0).sum
    // the harness's own distrust list: escalated to 6 samples and STILL
    // spread-polluted, or measured at core-saturating loadavg — these
    // medians are reported but no tripwire (delta, regression, leak) is
    // allowed to fire on them
    val loadSuspect = results.collect { case (name, r) if r.suspect => name }
    if (loadSuspect.nonEmpty)
      System.err.println(s"[bench] ${loadSuspect.size} LOAD-SUSPECT records " +
        s"(spread/loadavg beyond trust after escalation): ${loadSuspect.mkString(", ")}")
    val suspectList = loadSuspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warmExceedsCold = results.collect {
      // a suspect's warm median is untrusted by definition — its
      // warm>cold inversion is unattributable, so it lands in
      // load_suspect, never in the leak list
      case (name, QRec(warm, cold, _, _, _, false, _)) if inverted(warm, cold) => name
    }
    if (warmExceedsCold.nonEmpty)
      System.err.println(s"[bench] WARM>COLD LEAK SUSPECTS: ${warmExceedsCold.mkString(", ")}")
    val guard = warmExceedsCold.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = results.collect {
      case (name, r) if r.warm < 0 || r.cold < 0 => name
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED (-1.0 sentinel): ${failed.mkString(", ")}")
    val errList = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    if (regressions.nonEmpty)
      System.err.println(
        s"[bench] ${regressions.size} PLAN REGRESSIONS (fp:diff ≥2x slower vs local ref): ${regressions.mkString(", ")}")
    val regList = regressions.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${map(_.warm)},"first_run":${map(_.cold)},"warm_samples":$samplesMap,"load":${map(_.load)},"plan_fp":$fpMap,"warm_compiles":$compilesMap,"warm_exceeds_cold":$guard,"errors":$errList,"regressions":$regList,"load_suspect":$suspectList,"sustained_resample":$resampleJson,"delta_vs_local":$deltaJson,"sf":"$sfDir"}"""
    // The per-query maps (~5 KB at 97 queries) overflow the bounded
    // stdout tail the driver captures — all four rounds' BENCH files
    // show "parsed": null from the line being truncated mid-JSON. So the
    // full record goes to the output FILE (and to stdout first, for
    // humans), and a short self-contained summary line prints LAST so
    // the captured tail always ends in parseable JSON.
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"warm_exceeds_cold":$guard,"errors":$errList,"regressions":$regList,"load_suspect":$suspectList,"sustained_resample":$resampleJson,"delta_vs_local":$deltaJson,"queries_file":"$out","sf":"$sfDir"}"""
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def newSession() = {
      val s = graft.core.Sessions.builder(s"local[$cpus]", cpus)
        // testdata files are ~1-10 MB: the 128 MB default would scan each
        // table in ONE task. 2 MB splits spread scans over the local
        // cores — the analogue of the many-file layout a real warehouse has.
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "262144")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    var spark = newSession()

    // Warmup covering the representative codegen/JIT paths, so the first
    // measured query doesn't absorb one-time compilation cost. A cold
    // single-query profile showed q01 at 3.9 s on first execution vs ~1.1 s
    // steady-state purely from first-use decimal-HashAggregate + parquet
    // reader JIT — the round-1 "q01 outlier" was warmup, not plan cost.
    spark.range(1000000).selectExpr("sum(id)").collect() // long agg
    spark.range(1000000)
      .selectExpr("cast(id % 100 as string) k", "cast(id as decimal(18,2)) d")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("d"))
      .collect() // decimal hash agg (the q01-family path)
    spark.read.parquet(s"$sfDir/region.parquet").count() // parquet reader init
    // The remaining first-use paths each cost 1-5 s of classload/JIT on
    // whichever query hits them first (measured cold vs warm in one
    // JVM: q07 5.97 s first run vs 0.57 s steady) — warm them all:
    locally {
      import org.apache.spark.sql.functions._
      val kv = spark.range(100000).selectExpr("id % 100 AS k", "id AS v")
      kv.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY v) AS rn")
        .agg(max("rn")).collect() // WindowExec
      kv.join(broadcast(spark.range(100).toDF("k")), "k").count() // BroadcastHashJoin
      kv.as("a").join(kv.as("b").hint("merge"), "k", "left_anti").count() // SMJ + anti
      kv.selectExpr(
        "aggregate(transform(filter(split(repeat('a b ', 20), ' '), x -> length(x) > 0), " +
          "x -> cast(length(x) AS bigint)), 0L, (a, x) -> a + x) AS s")
        .agg(sum("s")).collect() // higher-order-function interpreter
      kv.selectExpr("explode(split(repeat('a b ', 5), ' ')) AS t")
        .groupBy("t").count().collect() // Generate (explode)
      kv.selectExpr(
        "try_divide(cast(v AS double), cast(k AS double) - 1.0) AS d",
        "try_cast(cast(v AS string) AS bigint) AS c")
        .agg(count("d"), sum("c")).collect() // ANSI try_* eval paths (q43)
      val c = kv.persist(); c.count(); c.unpersist(true) // InMemoryRelation
      // localCheckpoint, limit collect and broadcast anti-join: the
      // in-memory finish of connectedComponents, the path of every sf0.1
      // pair graph (the hop loop runs past Graph.InMemoryEdges edges)
      graft.ops.Graph.connectedComponents(
        spark.range(4).toDF("id"),
        spark.range(3).selectExpr("id AS a", "id + 1 AS b")).collect()
      ()
    }

    // Each query executes TWICE and the SECOND (steady-state) time is the
    // reported number. The generic warmup above cannot cover every
    // first-use JIT/classload path a query might hit first (round 4
    // attributed ~20 s of one-time regex/UTF8String compilation to
    // d02_dedup_normalized: 22.5 s cold vs <1 s steady — verified by a
    // standalone re-run), and per-query steady-state is the only
    // attribution that can't be corrupted by alphabetical ordering. The
    // cold times are kept alongside in the output file, so the warm/cold
    // delta stays observable per round instead of masquerading as a
    // plan regression.
    // warm_exceeds_cold flags a steady-state slower than first run by a
    // margin noise can't explain — the signature of state leaking across
    // runs (the round-5 checkpoint leak's shape); the rule lives in
    // renderSummary with the rest of the artifact assembly.
    // One load-average sample per query: round 7's recorded total was
    // ~40% inflated by machine load (18 s recorded vs 0.86 s reproduced
    // for q23), and without a contemporaneous load stamp a judge cannot
    // separate "plan regressed" from "machine was busy" after the fact.
    def loadAvg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case NonFatal(_) => -1.0 }
    // Fingerprint rule lives on the object (planFp) so its normalization
    // is unit-testable; computed from the LAST measured run's DataFrame —
    // rebuilding via fn() would EXECUTE the iterative CC queries a fifth
    // time (their construction runs hop actions eagerly and
    // localCheckpoints blocks the inter-run sweep would then have to
    // chase).
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run for local per-query
    // iteration; the driver never sets it, so round artifacts stay full.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // one measured execution — shared by the per-query loop and the
    // end-of-run sustained-inflation re-sampler, so a re-sample is the
    // SAME protocol as the number it re-measures
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        capture: org.apache.spark.sql.DataFrame => Unit = _ => ()): Double = {
      if (spark.sparkContext.isStopped) spark = newSession()
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          capture(df) // fingerprint source: analyzed plan, cache-independent
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9 // before cache cleanup
      // caches AND localCheckpoint blocks (the round-5 warm>cold
      // inversion) must not survive into the next measured run
      if (!spark.sparkContext.isStopped)
        graft.core.Sessions.sweepPersistedState(spark)
      if (ok) elapsed else -1.0
    }
    val results0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
      var lastDf: org.apache.spark.sql.DataFrame = null
      def once(): Double = runOnce(name, fn, df => lastDf = df)
      val cold = once()
      val compiledBefore = compiledClasses()
      // ALWAYS three warm samples, report the median: a single sample on a
      // loaded machine is indistinguishable from a leak (rounds 6 and 7
      // both had phantom regressions that reproduced at 5-20x less in
      // isolation), and retry-only-when-noisy still let one clean-looking
      // spike through as the number of record. Median of three tolerates
      // one spike in either direction; min would bias downward. When a
      // sample FAILS (-1) it is excluded from the median; -1 if none
      // survive.
      val first3 = Seq(once(), once(), once())
      val load3 = loadAvg()
      // ESCALATION (round-12 verdict #1): when the three samples spread
      // beyond SpreadMax or the loadavg stamp reached the core count,
      // the median is a coin flip — take three MORE samples and report
      // the median of all six (a 6-sample median survives two spikes).
      // If the full set is STILL spread-polluted, or load stayed
      // saturated, the record is marked load-suspect: reported, but
      // barred from every tripwire. Only measured work escalates —
      // failures go to `errors`, not to more retries of a broken query.
      val cores = Runtime.getRuntime.availableProcessors()
      val escalate = first3.exists(_ >= 0) && isSuspect(first3, load3, cores)
      val warmSamples = if (escalate) first3 ++ Seq(once(), once(), once()) else first3
      val compiles = compiledClasses() - compiledBefore
      val load = if (escalate) math.max(load3, loadAvg()) else load3
      val suspect = escalate && isSuspect(warmSamples, load, cores)
      if (suspect)
        System.err.println(s"[bench] $name LOAD-SUSPECT after escalation: " +
          s"samples=${warmSamples.map(v => f"$v%.2f").mkString(",")} load=$load")
      val warm = combineWarm(warmSamples)
      val fp =
        try { if (lastDf != null) planFp(lastDf) else "" }
        catch { case NonFatal(_) => "" }
      // diagnostic: SPARK_GRAFT_FP_DUMP_DIR=<dir> writes each query's
      // NORMALIZED plan text (the exact string planFp hashes) so two
      // runs' flapping fingerprints can be text-diffed (round 15)
      sys.env.get("SPARK_GRAFT_FP_DUMP_DIR").foreach { d =>
        try {
          if (lastDf != null) {
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(d, s"$name.txt"),
              normalize(fpPlan(lastDf).toString))
          }
        } catch { case NonFatal(_) => () }
      }
      name -> QRec(warm, cold, warmSamples, load, fp, suspect, compiles)
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val ref = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_local_ref.json")
    // END-OF-RUN RE-SAMPLE (round-14 verdict #1): a sustained co-tenant
    // load window inflates all of a query's samples equally, so the
    // spread-keyed escalation above never fires — re-measure every
    // trusted fp:same slowdown mover once the rest of the bench has run
    // (the load window has had the whole remaining run to pass) and
    // resolve it: transient_load (re-sample landed back at the pin — the
    // clean number is reported), sustained (still inflated — quarantined
    // into load_suspect), or resample_failed. Both measurements land in
    // `sustained_resample` in both summary lines.
    def fmt3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val (refQ, refFp) = loadRefPins(ref, sfDir)
    val candidates = sustainedCandidates(results0, refQ, refFp)
    var disps = Map.empty[String, String]
    val resampleEntries = scala.collection.mutable.ListBuffer[String]()
    val results =
      if (candidates.isEmpty) results0
      else {
        System.err.println(s"[bench] ${candidates.size} sustained fp:same " +
          s"inflations vs local pin — re-sampling at end of run: ${candidates.mkString(", ")}")
        val fns = SparkEntry.queries
        val byName = results0.toMap
        val resolved = candidates.flatMap { name =>
          fns.get(name).map { fn =>
            val rs = Seq(runOnce(name, fn), runOnce(name, fn), runOnce(name, fn))
            val (rec2, disp) = resolveSustained(byName(name), rs, refQ(name))
            disps += name -> disp
            resampleEntries += s"""{"q":"$name","disp":"$disp",""" +
              s""""warm_main":${fmt3(byName(name).warm)},"warm_resample":${fmt3(combineWarm(rs))}}"""
            System.err.println(s"[bench] $name re-sample → $disp " +
              s"(main=${fmt3(byName(name).warm)}, resample=${fmt3(combineWarm(rs))}, pin=${fmt3(refQ(name))})")
            name -> rec2
          }
        }.toMap
        results0.map { case (n, r) => n -> resolved.getOrElse(n, r) }
      }
    val resampleJson = resampleEntries.mkString("[", ",", "]")
    val (deltaJson, regressions) = deltaVsRef(results, sfDir, ref, disps)
    val (full, compact) = renderSummary(results, sfDir, out, deltaJson, regressions, resampleJson)
    // stop BEFORE printing so no late executor/log line lands after the
    // JSON lines.
    spark.stop()
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] could not write $out: $e") }
    println(full)
    println(compact)
    Console.out.flush()
  }
}
