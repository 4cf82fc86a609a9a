package graft.ops

import graft.core.Tables
import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality profiling: per-column stats in ONE scan of the fact
  * table (the agg computes every column's stats in a single pass, then an
  * inline explode unpivots to a row per column — vs the naive
  * one-scan-per-column loop). The shape any ingest-validation step runs
  * before a 100 TB training job.
  */
object Profiling extends QueryModule {

  private val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def p01(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // unpivot first, ONE distinct agg after: four countDistinct columns
    // in a single agg make Catalyst Expand every input row 5x through
    // every aggregate buffer (round 6's 1.78s -> 5.75s regression).
    // Exploding to (col_name, value) rows and grouping by col_name
    // leaves exactly one distinct aggregate, which plans as the plain
    // two-phase distinct (map-side dedup on (col_name, value), partial
    // min/max/count riding along) — one scan, no Expand, and the
    // shuffle carries ~distinct-values-per-column tuples, not rows
    // the unpivot aggregates every column through ONE `v` slot, so
    // array(struct(...)) coerces v to the columns' common type — fine
    // while every profiled column is a native DOUBLE, silently divergent
    // from the oracle (which aggregates each column natively and coerces
    // only the OUTPUT of the UNION ALL) the day a decimal/string/int
    // column joins `cols`. Fail loudly at plan time instead.
    val badTypes = cols.filterNot(c =>
      li.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
    require(badTypes.isEmpty,
      s"p01 unpivot requires homogeneous DOUBLE columns; widen per-type before adding: $badTypes")
    val pairs = cols.map(c => struct(lit(c).as("col_name"), col(c).as("v")))
    val grouped = li.select(explode(array(pairs: _*)).as("r"))
      .select(col("r.col_name").as("col_name"), col("r.v").as("v"))
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        countDistinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
    // seed from the static column list: on an EMPTY table the grouped
    // frame has no rows, but the oracle (a UNION ALL of ungrouped
    // aggregates) still emits one all-zero row per column — the left
    // join + coalesce reproduces exactly that
    val seed = s.createDataFrame(
      s.sparkContext.parallelize(cols.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_name",
          org.apache.spark.sql.types.StringType, nullable = false))))
    seed.join(grouped, Seq("col_name"), "left")
      .select(col("col_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_nonnull"), lit(0L)).as("n_nonnull"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_v"), col("max_v"))
  }

  private val p01Sql = cols.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
       |  count(DISTINCT $c) AS n_distinct, min($c) AS min_v, max($c) AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** The composed training-data pipeline (p02/p06) — the end-to-end use
    * case every individual op exists for, as ONE declarative plan:
    *
    *   quality score (t02 formula) + language ID (t03 formula)
    *   → keep quality >= 0.45 and identified language
    *   → exact dedup (survivor = min doc_id per content hash)
    *   → near-dup removal: p02 drops the larger id of every
    *     3-gram-Jaccard >= 0.5 pair (the simple deterministic rule);
    *     p06 keeps one representative per connected CLUSTER of pairs
    *     (the production variant) and then assigns train/val/test.
    *
    * Every stage reuses the exact per-op formulas, so the DuckDB oracle
    * is their composition; at 100 TB the plan is three shuffles (content
    * hash, shingle key, final group-by) plus the broadcast joins and,
    * for p06, the endpoint-only CC rounds.
    *
    * This method is the shared funnel front half: (withLang, kept,
    * survivors) stage frames.
    */
  private[graft] def funnelFrames(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val w = filter(split(col("text"), " "), x => length(x) > 0)
    val nTok = size(w).cast("long")
    val stopHits = size(filter(w, t => t.isInCollection(TextAnalysis.stopwordList))).cast("long")
    val sumLen = aggregate(transform(w, t => length(t).cast("long")), lit(0L), (acc, x) => acc + x)
    val nDistinct = size(array_distinct(w)).cast("long")
    def ratio(num: Column) = when(nTok > 0, num / nTok)
    val quality = ratio(stopHits) * 0.25 + ratio(nDistinct) * 0.5 + ratio(sumLen) * 0.05
    val markerCols = TextAnalysis.markerList.map { case (l, ms) =>
      size(filter(w, t => t.isInCollection(ms))).cast("long").as(s"c_$l")
    }
    val scored = docs.select(
      (Seq(col("doc_id"), col("text"), nTok.as("n_tokens"), quality.as("quality")) ++ markerCols): _*)
    val Seq(de, en, es, fr) = TextAnalysis.markerList.map(m => col(s"c_${m._1}"))
    // persist the scored frame: the funnel's four stage branches and the
    // dedup subtree would otherwise each recompute the HOF-heavy
    // quality/language scoring (higher-order array functions don't
    // participate in whole-stage codegen, so re-evaluation is the single
    // most expensive thing in this plan). MEMORY_AND_DISK spills rather
    // than recomputes at scale.
    val withLang = scored.withColumn("pred_lang",
      when(de + en + es + fr === 0, lit("und"))
        .when(de >= en && de >= es && de >= fr, lit("de"))
        .when(en >= es && en >= fr, lit("en"))
        .when(es >= fr, lit("es"))
        .otherwise(lit("fr")))
      .select(col("doc_id"), col("text"), col("n_tokens"), col("quality"), col("pred_lang"))
      .persist()
    val kept = withLang
      .filter(col("quality") >= 0.45 && col("pred_lang") =!= "und")
      .select(col("doc_id"), col("text"), col("n_tokens"), col("pred_lang"))
    // exact dedup: survivor = min doc_id per content hash
    val survivors = kept
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rk") === 1).drop("rk")
      .persist()
    (withLang, kept, survivors)
  }

  /** 3-gram-Jaccard >= 0.5 near-dup pairs among survivors (d03 machinery).
    * No broadcast hint on the corpus-proportional sizes frame (one row
    * per surviving document): the stats-based auto-broadcast picks the
    * same plan at test scale, and at 100 TB the planner must stay free
    * to shuffle it — an obeyed hint there melts the executors
    * (ScaleLint's uncapped-broadcast class).
    */
  private[graft] def nearDupPairs(survivors: DataFrame): DataFrame = {
    val sizes = survivors.select(col("doc_id"), size(Dedup.shingleArr(col("text"))).cast("long").as("n"))
    Dedup.jaccardCandidates(survivors.select(col("doc_id"), col("text")), Dedup.DfCap)
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("ida") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("idb") === col("doc_id")).drop("doc_id")
      .filter(col("c") / (col("na") + col("nb") - col("c")) >= 0.5)
      .select(col("ida"), col("idb"))
  }

  /** Stage row: document & token counts — the numbers a data-pipeline
    * operator actually monitors, and a much deeper oracle than the final
    * group alone (any upstream divergence moves some stage's row).
    */
  private def stage(name: String, df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(lit(name).as("stage"), col("n_docs"), col("sum_tokens"))

  private def p02(s: SparkSession, dir: String): DataFrame = {
    val (withLang, kept, survivors) = funnelFrames(s, dir)
    // drop every larger id of every near-dup pair — the simple
    // deterministic rule; p06 is the cluster-representative variant
    val dropIds = nearDupPairs(survivors).select(col("idb").as("doc_id")).distinct()
    val finalDocs = survivors.join(dropIds, Seq("doc_id"), "left_anti")
    stage("1_raw", withLang.select(col("doc_id"), col("n_tokens")))
      .unionAll(stage("2_quality_lang", kept))
      .unionAll(stage("3_exact_dedup", survivors))
      .unionAll(stage("4_neardup_removed", finalDocs))
  }

  /** Shared oracle CTE chain (base → langed → kept → survivors →
    * shingle posting lists → pair counts), composed from the exact t02/
    * t03/d01/d03 formulas; p02Sql and p06Sql append their back halves.
    */
  /** The funnel's scoring prefix alone (base + langed: quality and
    * predicted language per doc) — split out of [[funnelCtes]] so
    * consumers that only need the quality column (p24) can compose with
    * OTHER CTE families (d07's sh/sz/cm would collide with the funnel's
    * near-dup stage of the same names).
    */
  private val langedCtes = {
    val stop = TextAnalysis.stopwordList.map("'" + _ + "'").mkString(",")
    val counts = TextAnalysis.markerList.map { case (l, ms) =>
      s"CAST(len(list_filter(w, t -> t IN (${ms.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS c_$l"
    }.mkString(",\n    ")
    s"""base AS (
       |  SELECT doc_id, text, w,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, t -> t IN ($stop))) AS BIGINT) / CAST(len(w) AS BIGINT) END * 0.25
       |      + CASE WHEN len(w) > 0 THEN CAST(len(list_distinct(w)) AS BIGINT) / CAST(len(w) AS BIGINT) END * 0.5
       |      + CASE WHEN len(w) > 0 THEN CAST(list_sum(list_transform(w, t -> CAST(length(t) AS BIGINT))) AS BIGINT) / CAST(len(w) AS BIGINT) END * 0.05 AS quality,
       |    $counts
       |  FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
       |        FROM documents)),
       |langed AS (
       |  SELECT *, CASE WHEN c_de + c_en + c_es + c_fr = 0 THEN 'und'
       |                 WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
       |                 WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
       |                 WHEN c_es >= c_fr THEN 'es'
       |                 ELSE 'fr' END AS pred_lang
       |  FROM base)""".stripMargin
  }

  private[graft] val funnelCtes = {
    s"""$langedCtes,
       |kept AS (
       |  SELECT doc_id, text, n_tokens, pred_lang FROM langed
       |  WHERE quality >= 0.45 AND pred_lang <> 'und'),
       |survivors AS (
       |  SELECT doc_id, text, n_tokens, pred_lang FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM kept)
       |  WHERE rk = 1),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(sw)-1),
       |    i -> sw[i] || ' ' || sw[i+1] || ' ' || sw[i+2]))) AS shingle
       |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS sw
       |        FROM survivors)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)""".stripMargin
  }

  private val stagesSql =
    """SELECT '1_raw' AS stage, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM langed
      |UNION ALL
      |SELECT '2_quality_lang', count(*), CAST(sum(n_tokens) AS BIGINT) FROM kept
      |UNION ALL
      |SELECT '3_exact_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM survivors""".stripMargin

  private val p02Sql =
    s"""WITH $funnelCtes,
       |dropids AS (
       |  SELECT DISTINCT idb AS doc_id FROM cm
       |  JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |  WHERE c / (sa.n + sb.n - c) >= 0.5)
       |$stagesSql
       |UNION ALL
       |SELECT '4_neardup_removed', count(*), CAST(sum(n_tokens) AS BIGINT)
       |FROM survivors WHERE doc_id NOT IN (SELECT doc_id FROM dropids)""".stripMargin

  /** p06: the production pipeline — p02's funnel with the two steps a
    * real 100 TB prep job adds: near-dup CLUSTER dedup (connected
    * components over the pair graph, keep the min-id representative —
    * the rule p02's pairwise drop approximates) and deterministic
    * train/val/test assignment (p03's hash) with per-split counts.
    */
  /** p06's back half given an already-computed survivor label frame
    * (the label-once production shape: labels materialized once by
    * [[graft.ops.Graph.materializedOnce]], consumers reading them).
    */
  private def p06Stages(withLang: DataFrame, kept: DataFrame,
                        survivors: DataFrame, labels: DataFrame): DataFrame = {
    val reps = survivors.join(
      labels.filter(col("id") === col("comp")).select(col("id").as("doc_id")), "doc_id")
    val withSplit = reps.withColumn("split",
      Sampling.splitOf(Sampling.uhash("split_", col("doc_id"))))
    val splitStages = withSplit
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(concat(lit("5_split_"), col("split")).as("stage"), col("n_docs"), col("sum_tokens"))
    stage("1_raw", withLang.select(col("doc_id"), col("n_tokens")))
      .unionAll(stage("2_quality_lang", kept))
      .unionAll(stage("3_exact_dedup", survivors))
      .unionAll(stage("4_cluster_dedup", reps))
      .unionAll(splitStages)
  }

  private def p06(s: SparkSession, dir: String): DataFrame = {
    val (withLang, kept, survivors) = funnelFrames(s, dir)
    val labels = graft.ops.Graph.materializedOnce(s,
      s"p06_survivor_labels|$dir|${Tables.fileFingerprint(s, s"$dir/documents.parquet")}") {
      graft.ops.Graph.connectedComponents(
        survivors.select(col("doc_id")), nearDupPairs(survivors))
    }
    p06Stages(withLang, kept, survivors, labels)
  }

  private val p06Sql =
    s"""WITH RECURSIVE $funnelCtes,
       |pr AS (
       |  SELECT ida, idb FROM cm
       |  JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |  WHERE c / (sa.n + sb.n - c) >= 0.5),
       |${Graph.ccSqlCtes("pr", "SELECT doc_id, doc_id FROM survivors")},
       |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |reps AS (
       |  SELECT s.doc_id, s.n_tokens FROM survivors s
       |  JOIN cc ON s.doc_id = cc.id AND cc.comp = s.doc_id),
       |spl AS (
       |  SELECT doc_id, n_tokens, ${Sampling.splitCaseSql} AS split
       |  FROM (SELECT doc_id, n_tokens, ${Sampling.uhashSql("split_", "doc_id")} AS u FROM reps))
       |$stagesSql
       |UNION ALL
       |SELECT '4_cluster_dedup', count(*), CAST(sum(n_tokens) AS BIGINT) FROM reps
       |UNION ALL
       |SELECT '5_split_' || split, count(*), CAST(sum(n_tokens) AS BIGINT) FROM spl GROUP BY split""".stripMargin

  /** p07: equi-width histogram — the two-pass distributed shape: pass 1
    * aggregates global min/max (one tiny row, broadcast), pass 2 bins
    * every value with pure row-local arithmetic and hash-aggregates the
    * counts. The bin expression is mirrored operation-for-operation in
    * the oracle so IEEE double rounding is identical.
    */
  private val HistBins = 20

  private def p07(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
    val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    // hi > lo guard: a CONSTANT column has zero width — every value
    // belongs in bin 0, and the unguarded division would throw
    // DIVIDE_BY_ZERO under ANSI (DuckDB's 0/0 = NaN would diverge)
    li.crossJoin(broadcast(mm))
      .select(least(
        when(col("hi") > col("lo"),
          floor((col("x") - col("lo")) * HistBins / (col("hi") - col("lo"))))
          .otherwise(lit(0.0)),
        lit(HistBins - 1)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  private val p07Sql =
    s"""WITH mm AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
       |SELECT CAST(least(
       |    CASE WHEN hi > lo THEN floor((l_extendedprice - lo) * $HistBins / (hi - lo)) ELSE 0 END,
       |    ${HistBins - 1}) AS BIGINT) AS bin,
       |  count(*) AS n
       |FROM lineitem CROSS JOIN mm
       |GROUP BY 1""".stripMargin

  // ---- p28: z-order (Morton curve) layout planning --------------------

  /** Bits per dimension (a 256×256 grid — [[Zorder.ZBits]], which owns
    * the binning + interleave machinery) and the z→file cut: the 16-bit
    * Morton code's top 10 bits name the planned file (1024 files).
    */
  private val ZBits      = Zorder.ZBits
  private val ZGrid      = Zorder.ZGrid
  private val ZFileShift = 6

  /** p28: Z-ORDER layout planning — assign every fact row a Morton
    * (bit-interleaved) code over two filter columns and report the
    * planned file layout: per z-file, the row count and each
    * dimension's min/max — exactly the per-file column statistics a
    * data-skipping reader prunes on. Interleaving makes BOTH columns'
    * ranges narrow within every file (a single-column sort makes one
    * column's range narrow and leaves the other full-width), which is
    * why multi-dimensional layout clustering (the OPTIMIZE ZORDER
    * technique of the public Delta/Iceberg engines; Morton 1966) is
    * the standard pre-compaction step for 100 TB fact tables queried
    * on more than one predicate column.
    *
    * Scale shape: pass 1 is one tiny min/max aggregate (1-row
    * broadcast, the p07 two-pass contract); pass 2 is pure row-local
    * integer bit arithmetic; the only corpus-fed exchange is the
    * 1024-group hash aggregate on the file id. In production the same
    * z column feeds a repartitionByRange write instead of the report.
    *
    * Determinism: everything is exact integer arithmetic — integral
    * division (DIV vs //, truncating, non-negative operands), shifts,
    * masks, and literal power-of-two multipliers generated from ONE
    * Scala sequence for both engines.
    */
  private def p28(s: SparkSession, dir: String): DataFrame = {
    // binning + interleave shared with the PHYSICAL writer
    // ([[graft.ops.Zorder.write]]) so the plan's manifest and the real
    // layout can never drift — same bins, same curve, same cut
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("a"), col("l_suppkey").as("b"))
    Zorder.withZ(li, col("a"), col("b"))
      .select(col("a"), col("b"), shiftright(col("z"), ZFileShift).as("zfile"))
      .groupBy(col("zfile"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("min_part"), max(col("a")).as("max_part"),
        min(col("b")).as("min_supp"), max(col("b")).as("max_supp"))
  }

  private val p28Sql = {
    val terms = (0 until ZBits).map { i =>
      s"((ba >> $i) & 1) * ${1L << (2 * i + 1)} + ((bb >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString(" + ")
    s"""WITH mm AS (
       |  SELECT min(l_partkey) AS mna, max(l_partkey) AS mxa,
       |         min(l_suppkey) AS mnb, max(l_suppkey) AS mxb
       |  FROM lineitem),
       |bins AS (
       |  SELECT l_partkey AS a, l_suppkey AS b,
       |    CASE WHEN mxa > mna THEN ((l_partkey - mna) * $ZGrid) // (mxa - mna + 1)
       |         ELSE CAST(0 AS BIGINT) END AS ba,
       |    CASE WHEN mxb > mnb THEN ((l_suppkey - mnb) * $ZGrid) // (mxb - mnb + 1)
       |         ELSE CAST(0 AS BIGINT) END AS bb
       |  FROM lineitem CROSS JOIN mm),
       |zc AS (SELECT a, b, ($terms) >> $ZFileShift AS zfile FROM bins)
       |SELECT zfile, count(*) AS n,
       |  min(a) AS min_part, max(a) AS max_part,
       |  min(b) AS min_supp, max(b) AS max_supp
       |FROM zc GROUP BY 1""".stripMargin
  }

  /** p11: source-mixing report — per source: doc/token counts, corpus
    * shares, and the temperature-0.5 upsample factor sqrt(total/n) (the
    * inverse-frequency reweighting multilingual/multi-source training
    * mixes use, e.g. the XLM-R-style alpha=0.5 rule: low-resource
    * sources sampled above their raw share). Every number is exact or a
    * single IEEE operation on exact integers — counts are integer sums,
    * shares are one int/int division, the factor one division + one
    * correctly-rounded sqrt — so no order-dependent float accumulation
    * exists anywhere and the oracle hash-matches bit-exactly. A source
    * of only empty documents yields null token stats, not a
    * divide-by-zero.
    *
    * Scale shape: one shuffle (groupBy source over row-local token
    * counts); the totals side is a one-row re-aggregate of the per-group
    * frame — capped by construction, so its broadcast is lint-clean.
    */
  private def p11(s: SparkSession, dir: String): DataFrame = {
    val w = filter(split(col("text"), " "), t => length(t) > 0)
    val bySrc = Tables.documents(s, dir)
      .select(col("source"), size(w).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      // persisted: both the totals branch and the join probe consume this
      // frame — unpersisted, the documents scan + tokenize + shuffle run
      // twice (the s07 stats-frame lesson: no exchange reuse across a
      // broadcast boundary)
      .persist()
    val totals = bySrc.groupBy()
      .agg(sum(col("n_docs")).as("tot_docs"), sum(col("n_tokens")).as("tot_tokens"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("tot_docs").cast("double")).as("doc_share"),
        when(col("n_tokens") > 0,
          col("n_tokens").cast("double") / col("tot_tokens").cast("double")).as("token_share"),
        when(col("n_tokens") > 0,
          sqrt(col("tot_tokens").cast("double") / col("n_tokens").cast("double")))
          .as("upsample_factor"))
  }

  private val p11Sql =
    """WITH b AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
      |             CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM b)
      |SELECT source, n_docs, n_tokens,
      |  CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE) AS doc_share,
      |  CASE WHEN n_tokens > 0 THEN CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) END AS token_share,
      |  CASE WHEN n_tokens > 0 THEN sqrt(CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) END AS upsample_factor
      |FROM b CROSS JOIN t""".stripMargin

  private val MinCleanTokens = 16 // p13's post-scrub length gate

  /** p13: the cleaning→packing tail of a training-data pipeline,
    * composed from the same factored kernels its stages ship as
    * standalone ops: d12's duplicated-segment scrub rebuilds each
    * document's boilerplate-free text, documents left with fewer than
    * [[MinCleanTokens]] tokens are dropped (scrub survivors too short to
    * yield a training window), and the survivors are packed into t11's
    * 32-token stride-16 context windows. One row per (doc, chunk) of
    * CLEANED text — what actually feeds a tokenizer, vs t11's chunks of
    * raw text. The oracle is the literal CTE composition of d12's and
    * t11's mirrors (segScrubCte + chunkSelectSql), so the three
    * declarations cannot drift apart.
    *
    * Scale shape: d12's (one segment-keyed shuffle, fanout-1 join,
    * per-doc rebuild) followed by t11's (row-local generate) — the
    * composition adds NO new shuffle beyond its stages' own; the length
    * gate is a row-local filter between them.
    */
  private def p13(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Dedup.segmentScrub(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("clean_text").as("text"))
      .filter(size(filter(split(col("text"), " "), x => length(x) > 0))
        >= MinCleanTokens)
    TextAnalysis.chunkWindows(cleaned)
  }

  private val p13Sql =
    s"""WITH ${Dedup.segScrubCte},
       |cw AS (
       |  SELECT doc_id, list_filter(string_split(clean_text, ' '), x -> len(x) > 0) AS w
       |  FROM scrub),
       |keep AS (SELECT doc_id, w FROM cw WHERE len(w) >= $MinCleanTokens)
       |${TextAnalysis.chunkSelectSql("keep")}""".stripMargin

  /** p14: dedup-impact report — the before/after accounting a dedup run
    * publishes: per source, document and token counts at three stages
    * (raw corpus; exact-dedup survivors, d01's min-id rule; cluster-
    * dedup representatives, d07's min-label rule). This is the number
    * that justifies the dedup compute bill ("cluster dedup removed N
    * tokens from source X") and the drift signal when an ingest's dup
    * rate jumps.
    *
    * Composition showcase: the cluster stage READS the d07/d10-shared
    * label frame through Graph.materializedOnce — one labeling per
    * ingest serves d07, d10 and this report; the report itself adds two
    * hash-partitioned joins and three small aggregations. The oracle
    * recomputes the same closure via d07's recursive-CTE block, so the
    * Spark-side reuse cannot drift from the declared semantics.
    */
  private def p14(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), x => length(x) > 0))
          .cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      .persist()
    val exactKeep = docs.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val clusterKeep = graft.ops.Dedup.docClusterLabels(s, dir)
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    def stage(name: String, ids: Option[DataFrame]): DataFrame =
      ids.fold(docs)(docs.join(_, Seq("doc_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(name).as("stage"), col("source"), col("n_docs"), col("n_tokens"))
    stage("1_raw", None)
      .unionAll(stage("2_exact_dedup", Some(exactKeep)))
      .unionAll(stage("3_cluster_dedup", Some(clusterKeep)))
  }

  private val p14Sql =
    s"""WITH RECURSIVE ${graft.ops.Dedup.d07Ctes},
       |tok AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text,' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |ck AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id)
       |SELECT '1_raw' AS stage, source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM tok GROUP BY 2
       |UNION ALL
       |SELECT '2_exact_dedup', source, count(*), CAST(sum(n_tokens) AS BIGINT)
       |FROM tok JOIN ek USING (doc_id) GROUP BY 2
       |UNION ALL
       |SELECT '3_cluster_dedup', source, count(*), CAST(sum(n_tokens) AS BIGINT)
       |FROM tok JOIN ck USING (doc_id) GROUP BY 2""".stripMargin

  /** p16: join-key skew report — the heavy-hitter diagnostic run BEFORE
    * choosing a shuffle strategy: for the fact table's join key
    * (l_partkey), the top-20 heaviest keys with their corpus share,
    * multiple-of-average load, and a ≥10×-average hot flag — exactly the
    * numbers that decide salting / AQE-skew-join / broadcast for the
    * 100 TB plan. (q23's pivot showed WHAT is skewed; this reports HOW
    * MUCH, per key, actionably.)
    *
    * Determinism: counts are exact longs; share and x_avg are single
    * IEEE operations on exact integers, mirrored token-for-token; is_hot
    * derives from the already-computed double (no second rounding).
    * x_avg multiplies in DOUBLE space (cnt×n_keys would overflow longs
    * at petabyte cardinalities).
    *
    * Scale shape: ONE shuffle (groupBy key with map-side combine); the
    * totals side is a one-row re-aggregate of the per-key frame riding a
    * capped broadcast (p11 contract); top-20 is a distributed
    * TakeOrderedAndProject. Linear in keys, constant memory.
    */
  /** The p16 report as a library seam: q52's adaptive salting reads the
    * top key's `x_avg` from here, so the diagnostic and the remedy
    * compose the way a production pipeline runs them.
    */
  private[graft] def skewReport(s: SparkSession, dir: String): DataFrame = p16(s, dir)

  private def p16(s: SparkSession, dir: String): DataFrame = {
    val byKey = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
      // both the totals branch and the final projection consume this
      .persist()
    val tot = byKey.groupBy()
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_keys"))
    val xAvg = (col("cnt").cast("double") * col("n_keys").cast("double")) /
      col("tot").cast("double")
    byKey.crossJoin(broadcast(tot))
      .select(col("l_partkey"), col("cnt"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("share"),
        xAvg.as("x_avg"),
        (xAvg > lit(10.0)).as("is_hot"))
      .orderBy(col("cnt").desc, col("l_partkey"))
      .limit(20)
  }

  private val p16Sql =
    """WITH bk AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS tot, count(*) AS n_keys FROM bk)
      |SELECT l_partkey, cnt,
      |  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
      |  (CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)) / CAST(tot AS DOUBLE) AS x_avg,
      |  ((CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)) / CAST(tot AS DOUBLE)) > 10.0 AS is_hot
      |FROM bk CROSS JOIN tot
      |ORDER BY cnt DESC, l_partkey LIMIT 20""".stripMargin

  /** p17: snapshot diff — the ingest-regression audit run between two
    * corpus versions before promoting one: per document key, is it
    * added / removed / changed / same, with the content compare an
    * md5 equality (never a byte-wise text shuffle). The two snapshots
    * are deterministic stand-ins carved from the documents table (old =
    * doc_id % 7 ≠ 0, new = doc_id % 5 ≠ 0, with every doc_id % 11 = 0
    * doc "edited" by lowercasing), so both engines reconstruct identical
    * inputs. Emits one row per key in either snapshot — the downstream
    * promotion gate aggregates or filters as needed.
    *
    * Scale shape: hash-partitioned FULL OUTER join on the key, each side
    * reduced to (key, md5) at the scan — the diff never moves document
    * bodies across the wire, only 32-byte digests. Linear at any corpus
    * size; at 100 TB both sides are parquet scans with column pruning
    * down to (doc_id, text→md5).
    */
  private def p17(s: SparkSession, dir: String): DataFrame = {
    def snap(pred: Column, edited: Column) = Tables.documents(s, dir)
      .filter(pred)
      .select(col("doc_id"),
        md5(when(edited, lower(col("text"))).otherwise(col("text"))).as("h"))
    val old = snap(col("doc_id") % 7 =!= 0, lit(false))
      .withColumnRenamed("h", "h_old")
    val neu = snap(col("doc_id") % 5 =!= 0, col("doc_id") % 11 === 0)
      .withColumnRenamed("h", "h_new")
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("same")).as("status"))
  }

  private val p17Sql =
    """WITH old AS (
      |  SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 7 <> 0),
      |neu AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN lower(text) ELSE text END) AS h_new
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
      |  CASE WHEN old.doc_id IS NULL THEN 'added'
      |       WHEN neu.doc_id IS NULL THEN 'removed'
      |       WHEN h_old <> h_new THEN 'changed'
      |       ELSE 'same' END AS status
      |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id""".stripMargin

  /** p18: incremental aggregate maintenance — the merge step a daily
    * 100 TB pipeline runs INSTEAD of rescanning history: yesterday's
    * per-group partials (one tiny row per event_type) merged with the
    * fresh delta's partials by re-aggregating the UNION of the two
    * partial frames. Count and decimal-exact sum are algebraic, so the
    * merged result is bit-identical to a full recompute — which is
    * exactly what the oracle states (one plain GROUP BY over all
    * events): the hash match certifies the merge law, not just the
    * values. The cutoff is data-derived and deterministic (start of the
    * max event day), so both engines carve identical base/delta splits;
    * in production the base partials are read back from a stored
    * snapshot rather than recomputed — here both sides derive from the
    * one table so the gate can see the whole shape.
    *
    * Scale shape: the delta side scans |Δ| only; the base side is a
    * per-group partial frame (rows = group cardinality, not corpus
    * size); the merge re-aggregate moves group-cardinality rows through
    * one tiny shuffle. value stays DECIMAL until the final cast.
    */
  private def p18(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
    val cutoff = ev.agg(
      (floor(max(col("ts_us")) / lit(86400000000L)) * lit(86400000000L)).cast("long")
        .as("cut"))
    val withCut = ev.crossJoin(broadcast(cutoff))
    def partial(f: DataFrame) = f.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val base  = partial(withCut.filter(col("ts_us") <  col("cut")))
    val delta = partial(withCut.filter(col("ts_us") >= col("cut")))
    base.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).cast("double").as("sum_value"))
  }

  private val p18Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** p19: data-card quality quantiles — per (predicted language, source):
    * document count and exact q25/q50/q75 of the t02 quality score, the
    * per-slice table a dataset card publishes and a mixing policy (p11)
    * reads before weighting sources. Quantiles use the DISCRETE rule —
    * the value at rank ceil(q·n) in (quality, doc_id) order — because a
    * picked-from-the-data value survives cross-engine hashing where
    * interpolation would reintroduce engine-ordered float arithmetic.
    * Quality/language reuse [[funnelFrames]] (the p02/p06 seam), so the
    * formulas cannot drift from t02/t03; zero-token (null-quality) docs
    * are excluded.
    *
    * Scale shape: one doc_id equi-join to recover `source` (funnel
    * frames drop it), then ONE exchange on (pred_lang, source) carries
    * both window passes AND the final aggregate — rank, count, and the
    * conditional-max pivot all reuse the same hash partitioning.
    */
  private def p19(s: SparkSession, dir: String): DataFrame = {
    val (withLang, _, _) = funnelFrames(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val scored = withLang.join(src, "doc_id").filter(col("quality").isNotNull)
    val grp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pred_lang"), col("source"))
    val w = grp.orderBy(col("quality"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(grp))
      .groupBy(col("pred_lang"), col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        max(when(col("rn") === ceil(col("n") * 0.25), col("quality"))).as("q25"),
        max(when(col("rn") === ceil(col("n") * 0.50), col("quality"))).as("q50"),
        max(when(col("rn") === ceil(col("n") * 0.75), col("quality"))).as("q75"))
  }

  private val p19Sql =
    s"""WITH $funnelCtes,
       |scq AS (
       |  SELECT l.pred_lang, d.source, l.quality, l.doc_id
       |  FROM langed l JOIN documents d USING (doc_id)
       |  WHERE l.quality IS NOT NULL),
       |r AS (
       |  SELECT pred_lang, source, quality,
       |    CAST(row_number() OVER (PARTITION BY pred_lang, source ORDER BY quality, doc_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY pred_lang, source) AS n
       |  FROM scq)
       |SELECT pred_lang, source, max(n) AS n_docs,
       |  max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN quality END) AS q25,
       |  max(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN quality END) AS q50,
       |  max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN quality END) AS q75
       |FROM r GROUP BY 1, 2""".stripMargin

  /** p20: quality-threshold retention sweep — for each cut in
    * {0.0, 0.1, …, 0.9}: documents and tokens surviving
    * `quality >= cut` — the curve a curator reads to pick the p02/p06
    * funnel's 0.45, trading corpus size against quality. One scan
    * buckets every doc by floor(quality·10) (clamped to [0,9]); the ten
    * suffix sums come from joining the ≤10-row bucket aggregate
    * (broadcast — aggregate-capped) against a literal 10-row threshold
    * frame, NOT from re-scanning per threshold or a global window.
    * Thresholds with nothing above them still emit (0, 0) rows.
    */
  private def p20(s: SparkSession, dir: String): DataFrame = {
    val (withLang, _, _) = funnelFrames(s, dir)
    val b = withLang.filter(col("quality").isNotNull)
      .select(
        least(greatest(floor(col("quality") * 10).cast("long"), lit(0L)), lit(9L)).as("bkt"),
        col("n_tokens"))
      .groupBy(col("bkt"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"))
    val th = s.range(0, 10).select(col("id").as("t"))
    th.join(broadcast(b), col("bkt") >= col("t"), "left")
      .groupBy(col("t"))
      .agg(
        coalesce(sum(col("nd")), lit(0L)).as("docs_kept"),
        coalesce(sum(col("nt")), lit(0L)).as("tokens_kept"))
      .select((col("t").cast("double") / 10.0).as("threshold"),
        col("docs_kept"), col("tokens_kept"))
  }

  private val p20Sql =
    s"""WITH $funnelCtes,
       |bq AS (
       |  SELECT least(greatest(CAST(floor(quality * 10) AS BIGINT), 0), 9) AS bkt,
       |    count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS nt
       |  FROM langed WHERE quality IS NOT NULL GROUP BY 1),
       |th AS (SELECT unnest(range(0, 10)) AS t)
       |SELECT CAST(t AS DOUBLE) / 10.0 AS threshold,
       |  CAST(coalesce(sum(nd), 0) AS BIGINT) AS docs_kept,
       |  CAST(coalesce(sum(nt), 0) AS BIGINT) AS tokens_kept
       |FROM th LEFT JOIN bq ON bq.bkt >= th.t
       |GROUP BY t""".stripMargin

  /** Deterministic erasure cohort: ~5% of users by the shared uhash
    * rule (salted independently of split/sample decisions).
    */
  private val EraseFrac = 0.05

  /** p21: user-erasure (right-to-be-forgotten) sweep — drop EVERY event
    * belonging to an erasure cohort and emit the per-type compliance
    * audit: rows before, rows after, rows erased, and a `residual`
    * column that re-counts cohort rows in the post-sweep output (must
    * be 0 — the proof an auditor asks for, computed from the swept
    * frame itself, not assumed). The cohort is a deterministic
    * uhash-derived user set standing in for the real deletion-request
    * table.
    *
    * Scale shape: membership is a row-local hash decision (no
    * request-table join at test scale; at 100 TB the cohort arrives as
    * a table and this becomes a broadcast anti-join — same plan class
    * as d11's span scrub); one (type) aggregate over the union of the
    * before/after frames, map-side combined.
    */
  private def p21(s: SparkSession, dir: String): DataFrame = {
    val erased = Sampling.uhash("erase_", col("user_id")) < EraseFrac
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    val before = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_before"))
    val swept = ev.filter(!erased)
    val after = swept.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_after"),
      sum(when(Sampling.uhash("erase_", col("user_id")) < EraseFrac, 1L).otherwise(0L))
        .as("residual"))
    before.join(after, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_erased"),
        coalesce(col("residual"), lit(0L)).as("residual"))
  }

  private val p21Sql = {
    val u = Sampling.uhashSql("erase_", "user_id")
    s"""WITH ev AS (SELECT event_type, user_id, $u AS u FROM events),
       |before AS (SELECT event_type, count(*) AS n_before FROM ev GROUP BY 1),
       |after AS (
       |  SELECT event_type, count(*) AS n_after,
       |    CAST(sum(CASE WHEN u < $EraseFrac THEN 1 ELSE 0 END) AS BIGINT) AS residual
       |  FROM ev WHERE NOT (u < $EraseFrac) GROUP BY 1)
       |SELECT b.event_type, b.n_before,
       |  coalesce(a.n_after, 0) AS n_after,
       |  b.n_before - coalesce(a.n_after, 0) AS n_erased,
       |  coalesce(a.residual, 0) AS residual
       |FROM before b LEFT JOIN after a USING (event_type)""".stripMargin
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("p01_profile", p01, Some(p01Sql)),
    QueryDef("p02_clean_corpus_pipeline", p02, Some(p02Sql)),
    QueryDef("p06_prod_prep_pipeline", p06, Some(p06Sql)),
    QueryDef("p07_histogram", p07, Some(p07Sql)),
    QueryDef("p08_constraint_check", p08, Some(p08Sql)),
    QueryDef("p11_mixing_report", p11, Some(p11Sql)),
    QueryDef("p12_label_balance", p12, Some(p12Sql)),
    QueryDef("p13_clean_chunk_pipeline", p13, Some(p13Sql)),
    QueryDef("p14_dedup_impact", p14, Some(p14Sql)),
    QueryDef("p16_skew_report", p16, Some(p16Sql)),
    QueryDef("p17_snapshot_diff", p17, Some(p17Sql)),
    QueryDef("p18_incremental_agg", p18, Some(p18Sql)),
    QueryDef("p19_quality_card", p19, Some(p19Sql)),
    QueryDef("p20_quality_sweep", p20, Some(p20Sql)),
    QueryDef("p21_erasure_sweep", p21, Some(p21Sql)),
    QueryDef("p22_length_outliers", p22, Some(p22Sql)),
    QueryDef("p23_fk_integrity", p23, Some(p23Sql)),
    QueryDef("p24_dup_quality", p24, Some(p24Sql)),
    QueryDef("p25_corpus_manifest", p25, Some(p25Sql)),
    QueryDef("p28_zorder_layout", p28, Some(p28Sql)),
  )

  /** p22: robust per-source length-outlier report — Tukey fences on
    * `n_chars` with DISCRETE quartiles (the value at rank ⌈n/4⌉ / ⌈3n/4⌉
    * in (n_chars, doc_id) order) and the 1.5×IQR rule kept in INTEGER
    * arithmetic: `2·x < 2·q1 − 3·IQR` ⇔ `x < q1 − 1.5·IQR` with no
    * float anywhere, so both engines flag identical docs. The
    * truncation/concatenation detector a corpus audit runs per source:
    * a scraper that clips pages shows up as an n_low spike, one that
    * glues pages as n_high.
    *
    * Scale shape: one hash(source) exchange serves the quartile window
    * AND its collapse to one (q1, q3) row per source (a conditional-max
    * aggregate — no filter-per-quartile re-scan), which then joins back
    * broadcast (≤ |sources| rows, aggregate-capped for the lint);
    * 0.25/0.75 are exact binary fractions so the ⌈·⌉ rank arithmetic is
    * float-error-free.
    */
  private def p22(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("source"), col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val g = Window.partitionBy(col("source"))
    val quartiles = d
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(g))
      .groupBy(col("source"))
      .agg(
        max(when(col("rn") === ceil(col("cnt") * 0.25), col("n_chars"))).as("q1"),
        max(when(col("rn") === ceil(col("cnt") * 0.75), col("n_chars"))).as("q3"))
    d.join(broadcast(quartiles), "source")
      .groupBy(col("source"), col("q1"), col("q3"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(lit(2) * col("n_chars") < lit(2) * col("q1") - lit(3) * (col("q3") - col("q1")), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(lit(2) * col("n_chars") > lit(2) * col("q3") + lit(3) * (col("q3") - col("q1")), 1L)
          .otherwise(0L)).as("n_high"))
      .select(col("source"), col("n_docs"), col("q1"), col("q3"),
        col("n_low"), col("n_high"))
  }

  private val p22Sql =
    """WITH r AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |    count(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |q1 AS (SELECT source, n_chars AS q1 FROM r WHERE rn = CAST(ceil(cnt * 0.25) AS BIGINT)),
      |q3 AS (SELECT source, n_chars AS q3 FROM r WHERE rn = CAST(ceil(cnt * 0.75) AS BIGINT))
      |SELECT d.source, count(*) AS n_docs, q1.q1, q3.q3,
      |  CAST(sum(CASE WHEN 2 * d.n_chars < 2 * q1.q1 - 3 * (q3.q3 - q1.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN 2 * d.n_chars > 2 * q3.q3 + 3 * (q3.q3 - q1.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM documents d JOIN q1 USING (source) JOIN q3 USING (source)
      |GROUP BY 1, 3, 4""".stripMargin

  /** p12: label-balance audit over the embeddings table — per label:
    * vector count, corpus share, multiple-of-average, a rare flag
    * (under 10% of the average — the under-represented-class signal a
    * sampling policy like p05 reads), and the corpus-level effective
    * class count total²/Σnᵢ² (inverse Simpson index — "how many
    * balanced classes is this imbalanced set worth"), repeated on every
    * row so the report stays one grain.
    *
    * Scale shape: ONE label-keyed exchange (map-side combined) produces
    * the ≤|labels| frame; the totals ride a single aggregate-capped
    * broadcast row. Overflow honesty at 10¹¹ vectors: Σnᵢ² is summed in
    * DECIMAL(38,0) (a long would overflow at n_i ≥ 2³²), and total² is
    * computed as double·double AFTER the exact counts are fixed — two
    * IEEE ops in mirrored order, no order-dependent float sum anywhere;
    * `is_rare` stays in pure integer arithmetic (n·k·10 < total).
    */
  private def p12(s: SparkSession, dir: String): DataFrame = {
    val byLabel = Tables.table(s, dir, "embeddings")
      .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val totals = byLabel.groupBy().agg(
      sum(col("n_vecs")).as("total"),
      sum(col("n_vecs").cast("decimal(18,0)") * col("n_vecs").cast("decimal(18,0)"))
        .cast("double").as("sum_sq"),
      count(lit(1)).as("n_labels"))
    byLabel.crossJoin(broadcast(totals))
      .select(col("label"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("total").cast("double")).as("share"),
        ((col("n_vecs").cast("double") * col("n_labels").cast("double")) /
          col("total").cast("double")).as("x_avg"),
        (col("n_vecs") * col("n_labels") * lit(10L) < col("total")).as("is_rare"),
        ((col("total").cast("double") * col("total").cast("double")) /
          col("sum_sq")).as("effective_classes"))
  }

  private val p12Sql =
    """WITH bl AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
      |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
      |  CAST(sum(CAST(n_vecs AS DECIMAL(18,0)) * CAST(n_vecs AS DECIMAL(18,0))) AS DOUBLE) AS sum_sq,
      |  count(*) AS n_labels FROM bl)
      |SELECT bl.label, bl.n_vecs,
      |  CAST(bl.n_vecs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
      |  (CAST(bl.n_vecs AS DOUBLE) * CAST(t.n_labels AS DOUBLE)) / CAST(t.total AS DOUBLE) AS x_avg,
      |  bl.n_vecs * t.n_labels * 10 < t.total AS is_rare,
      |  (CAST(t.total AS DOUBLE) * CAST(t.total AS DOUBLE)) / t.sum_sq AS effective_classes
      |FROM bl CROSS JOIN t""".stripMargin

  /** The audited FK edges: (edge name, child table, child key, parent
    * table, parent key) — one row per edge so the Spark and oracle
    * sides derive from the same list and cannot drift.
    */
  private val fkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))

  /** p23: referential-integrity profile — for every declared FK edge:
    * child row count, rows whose key matches a parent, ORPHAN rows
    * (non-null key with no parent — the broken-join mass every
    * downstream equi-join silently drops), and null-key rows. m08 runs
    * this audit for the docs↔embeddings pair; this is the relational
    * counterpart over the warehouse's own FK graph, the first report a
    * 100 TB ingest validates before trusting any join in q03–q07.
    *
    * Scale shape: per edge, the child is PRE-AGGREGATED to (key, count)
    * — the join moves |distinct keys| rows, not |child| rows — and the
    * parent side is reduced to its distinct key set at the scan; one
    * left join + one 1-row rollup per edge, unioned. All-integer.
    */
  private def p23(s: SparkSession, dir: String): DataFrame = {
    val reports = fkEdges.map { case (name, child, ck, parent, pk) =>
      val ch = Tables.table(s, dir, child)
        .groupBy(col(ck).as("k")).agg(count(lit(1)).as("n"))
      val par = Tables.table(s, dir, parent)
        .select(col(pk).as("k")).distinct().withColumn("hit", lit(1))
      ch.join(par, Seq("k"), "left_outer")
        .agg(
          sum(col("n")).as("n_child"),
          coalesce(sum(when(col("hit").isNotNull, col("n"))), lit(0L)).as("n_matched"),
          coalesce(sum(when(col("hit").isNull && col("k").isNotNull, col("n"))), lit(0L))
            .as("n_orphan"),
          coalesce(sum(when(col("k").isNull, col("n"))), lit(0L)).as("n_null_key"))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_matched"),
          col("n_orphan"), col("n_null_key"))
    }
    reports.reduce(_ unionAll _)
  }

  private val p23Sql = fkEdges.map { case (name, child, ck, parent, pk) =>
    s"""SELECT '$name' AS fk_edge,
       |  CAST(sum(n) AS BIGINT) AS n_child,
       |  CAST(coalesce(sum(CASE WHEN hit IS NOT NULL THEN n END), 0) AS BIGINT) AS n_matched,
       |  CAST(coalesce(sum(CASE WHEN hit IS NULL AND k IS NOT NULL THEN n END), 0) AS BIGINT) AS n_orphan,
       |  CAST(coalesce(sum(CASE WHEN k IS NULL THEN n END), 0) AS BIGINT) AS n_null_key
       |FROM (SELECT $ck AS k, count(*) AS n FROM $child GROUP BY 1) c
       |LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS hit FROM $parent) p USING (k)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "")

  /** p24: duplication × quality interaction — per duplicate-cluster-size
    * bucket (1 = unique, 2, 3, 4 = "4 or more"): document count and
    * exact mean/min/max of the t02 quality score. The curation question
    * behind every dedup budget — "is duplicated content better or worse
    * than unique content?" (mirrors/boilerplate usually score LOWER;
    * popular canonical text often scores higher) — answered from the
    * operators the pipeline already runs: d07's shared materialized CC
    * labels joined to the funnel's quality column.
    *
    * Determinism: the mean's sum is the s04 float→shortest-string→
    * DECIMAL(28,12) trick — exact and order-independent where a double
    * sum is neither; min/max are picked data values.
    *
    * Scale shape: labels are the label-once materialized frame (no new
    * CC run); one cluster_id count, one doc_id equi-join, one ≤4-row
    * rollup.
    */
  private def p24(s: SparkSession, dir: String): DataFrame = {
    val (withLang, _, _) = funnelFrames(s, dir)
    val quality = withLang.filter(col("quality").isNotNull)
      .select(col("doc_id"), col("quality"))
    val labels = graft.ops.Dedup.docClusterLabels(s, dir)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cs"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), least(col("cs"), lit(4L)).as("size_bucket"))
      .join(quality, "doc_id")
      .groupBy(col("size_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("quality").cast("string")
          .cast(org.apache.spark.sql.types.DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("mean_quality"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
  }

  private val p24Sql =
    s"""WITH RECURSIVE ${graft.ops.Dedup.d07Ctes},
       |$langedCtes,
       |cs AS (SELECT cluster_id, count(*) AS cs FROM labels GROUP BY 1),
       |sb AS (
       |  SELECT l.doc_id, least(cs.cs, 4) AS size_bucket
       |  FROM labels l JOIN cs USING (cluster_id)),
       |qv AS (SELECT doc_id, quality FROM langed WHERE quality IS NOT NULL)
       |SELECT sb.size_bucket, count(*) AS n_docs,
       |  CAST(sum(CAST(CAST(qv.quality AS VARCHAR) AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean_quality,
       |  min(qv.quality) AS min_quality,
       |  max(qv.quality) AS max_quality
       |FROM sb JOIN qv USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Per-table canonical row string for [[p25]]'s content digest —
    * (Spark column expr, DuckDB expr) pairs defined together so the two
    * engines hash identical bytes.
    */
  private val manifestRows: Seq[(String, Column, String)] = Seq(
    ("documents",
      concat_ws("|", col("doc_id"), md5(col("text"))),
      "CAST(doc_id AS VARCHAR) || '|' || md5(text)"),
    ("events",
      concat_ws("|", col("event_id"), unix_micros(col("ts")), col("event_type")),
      "CAST(event_id AS VARCHAR) || '|' || CAST(epoch_us(ts) AS VARCHAR) || '|' || event_type"),
    ("embeddings",
      concat_ws("|", col("vec_id"), col("label")),
      "CAST(vec_id AS VARCHAR) || '|' || CAST(label AS VARCHAR)"))

  /** p25: corpus manifest — the reproducibility fingerprint a training
    * run records next to its config: per table, the row count and an
    * ORDER-INDEPENDENT content digest (the exact DECIMAL(38,0) sum of
    * each row's 60-bit md5 fold). Re-running the manifest after any
    * silent mutation — a regenerated shard, a late upsert, one flipped
    * byte — changes the digest; partition order, file order and shuffle
    * order cannot (sums commute), which is what makes the digest
    * comparable across engines, clusters and runs. The md5 seam reuses
    * the repo-wide hash60 kernel.
    *
    * Scale shape: one scan per table with an all-integer map-side
    * combined aggregate; nothing shuffles but 1-row partials.
    */
  private def p25(s: SparkSession, dir: String): DataFrame =
    manifestRows.map { case (t, rowStr, _) =>
      // events MUST go through the normalizeEventTs seam: unix_micros
      // rejects TIMESTAMP_NTZ, and the driver's parquet encodes ts NTZ.
      (if (t == "events") Tables.events(s, dir) else Tables.table(s, dir, t))
        .select(Sampling.hash60(rowStr).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("content_digest"))
        .select(lit(t).as("table_name"), col("n_rows"),
          col("content_digest").cast("string").as("content_digest"))
    }.reduce(_ unionAll _)

  private val p25Sql = manifestRows.map { case (t, _, rowSql) =>
    s"""SELECT '$t' AS table_name, count(*) AS n_rows,
       |  CAST(sum(CAST(${OracleSql.hex60(s"($rowSql)")} AS DECIMAL(38,0))) AS VARCHAR) AS content_digest
       |FROM $t""".stripMargin
  }.mkString("", "\nUNION ALL\n", "")

  /** p08: declarative ingest-validation — every constraint evaluated in
    * ONE scan (a conditional sum per rule inside a single aggregate, the
    * p01 shape), then unpivoted to a row per rule. The violating-row
    * count is what a pipeline gates on before a 100 TB run; the
    * `_tight` rule is deliberately stricter than the data so non-zero
    * counting is exercised.
    */
  /** (rule name, Spark predicate, DuckDB predicate) — one row per rule
    * so the two engine-side conditions cannot drift out of sync with the
    * name list.
    */
  private val constraintRules: Seq[(String, Column, String)] = Seq(
    ("quantity_in_1_50", col("l_quantity").between(1, 50),
      "l_quantity BETWEEN 1 AND 50"),
    ("quantity_le_45_tight", col("l_quantity") <= 45,
      "l_quantity <= 45"),
    ("discount_in_0_0p1", col("l_discount").between(0.0, 0.1),
      "l_discount BETWEEN 0.0 AND 0.1"),
    ("tax_nonnegative", col("l_tax") >= 0.0,
      "l_tax >= 0.0"),
    ("returnflag_in_domain", col("l_returnflag").isin("A", "N", "R"),
      "l_returnflag IN ('A', 'N', 'R')"),
    ("linestatus_in_domain", col("l_linestatus").isin("O", "F"),
      "l_linestatus IN ('O', 'F')"),
    ("price_positive", col("l_extendedprice") > 0.0,
      "l_extendedprice > 0.0"),
    ("keys_nonnull", col("l_orderkey").isNotNull && col("l_linenumber").isNotNull,
      "l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL"))

  private def p08(s: SparkSession, dir: String): DataFrame = {
    val aggs = constraintRules.map { case (n, c, _) =>
      sum(when(c, 0L).otherwise(1L)).as(n)
    }
    val one = Tables.lineitem(s, dir).agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows: Seq[Column] = constraintRules.map { case (n, _, _) =>
      struct(lit(n).as("rule"), col("n_rows"), col(n).as("n_violations"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  private val p08Sql = constraintRules.map { case (n, _, cond) =>
    s"""SELECT '$n' AS rule, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN $cond THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
       |FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n")
}
