package graft.ops

import graft.core.Tables
import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * exact and approximate top-k (s01/s03/s06/s08/s09), near-dup pairs
  * (s02/s05/s15), k-means training and index audits (s10–s17), filtered,
  * tombstone-aware and trained-index search (s18–s22, s28/s29), the
  * serving and index-artifact lifecycle (s23, s24, s30–s36) and hybrid
  * retrieval (s25–s27).
  *
  * The searches are composed from five kernels, one implementation each
  * (the "search kernels" section): [[queryBatch]], [[cellCandidates]],
  * [[scoreTopK]], [[exactTopK]] and [[recall]]. docs/QUERIES.md lists
  * which kernels each query composes.
  *
  * Determinism: vectors are cast float→double up front; dot/norm are
  * sequential left-fold aggregates mirrored exactly in the DuckDB oracle,
  * so similarity values are bit-identical (docs/DETERMINISM.md). The
  * hyperplanes are md5-derived so BOTH engines can rebuild them exactly,
  * which lets s03's oracle mirror the whole pipeline.
  */
object Similarity extends QueryModule {

  private[graft] val Dim = 64

  /** embeddings with double-cast vector `v`, precomputed L2 norm `nrm`
    * and `label` — the one normalization contract (double cast, nrm,
    * nrm > 0 filter), defined once so label-aware consumers (s18, s28)
    * cannot drift from [[vecs]]. vec_dot is the native codegen
    * expression (graft.functions.DotProduct) — same sequential fold,
    * bit-identical to the composed form, ~100x less per-row overhead.
    *
    * Zero-norm (direction-less) vectors are EXCLUDED at this source:
    * cosine similarity is undefined for them, and the unguarded
    * `dot/(na*nb)` every consumer computes would throw DIVIDE_BY_ZERO
    * under ANSI on Spark while DuckDB's 0/0 = NaN silently passes a
    * `>= threshold` — the same divergence class the d08 pair stage
    * guarded explicitly. The oracle CTE applies the identical filter.
    * Dedup semantics are unaffected: d08 seeds clusters from the full
    * embeddings id set, so an excluded vector surfaces as its own kept
    * singleton rather than being dropped from the corpus.
    */
  // NOT spread at this seam (measured at sf0.1): ~25 consumers read
  // vecs, most through several small broadcast-side legs per query —
  // a blanket parallelism floor here paid one round-robin exchange PER
  // LEG of a 2000-row frame and measured s03/s04/s11/s18/s21 each
  // +0.2 s, while only the heavy corpus-side kernels gained. The spread
  // is applied at those heavy seams instead (s01/s02's streamed
  // cartesian side, bucketedNearDup, oneStepAssigned, s31's live
  // corpus, SemDedup.clustersOf).
  private[graft] def vecsWithLabel(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  /** The embeddings→(vec_id, v, nrm) normalization applied to an
    * arbitrary raw frame — the per-micro-batch form es26 runs at
    * ingest (row-local: cast, dot, zero-norm filter; no shuffle).
    */
  private[graft] def vecsOf(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)

  private[graft] def vecs(s: SparkSession, dir: String): DataFrame =
    vecsWithLabel(s, dir).drop("label")

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  // ---- the search kernels ---------------------------------------------
  //
  // Every s-query composes the same five steps (REPOSE's candidate
  // generation, local score-and-rank, global merge): a query batch, cell
  // candidates, score-and-rank, exact top-k and recall. Each has one
  // implementation below; the oracle SQL mirrors them with the stanzas
  // that follow (sqlDot/sqlCos, scoreSql, topSql, and the recall CTEs).

  /** The md5-order query batch: the `n` rows of `frame` first in md5
    * order of the `salt`-prefixed `id` (of the bare id when `salt` is
    * empty). Deterministic, rebuilt by the oracle's `ORDER BY md5(...)
    * LIMIT n`, and FIXED-SIZE: the side it broadcasts stays O(n) however
    * large the corpus grows, where a corpus fraction (`vec_id % m`)
    * would broadcast a corpus-sized share at 100 TB. Each consumer has
    * its own salt, so no batch is another's sample (PQ queries are not
    * the PQ codebook, s11's queries are not its centroids).
    */
  private def queryBatch(frame: DataFrame, salt: String, n: Int,
      id: String = "vec_id"): DataFrame = {
    val key = col(id).cast("string")
    frame.orderBy(md5(if (salt.isEmpty) key else concat(lit(salt), key))).limit(n)
  }

  /** A (vec_id, v, nrm) frame as the query leg (qid, va, na) or the
    * neighbor leg (nid, vb, nb) of a scored pair.
    */
  private def qLeg(base: DataFrame): DataFrame =
    base.select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))

  private def nLeg(base: DataFrame): DataFrame =
    base.select(col("vec_id").as("nid"), col("v").as("vb"), col("nrm").as("nb"))

  /** Exact cosine of a pair's legs: the shared left-to-right vec_dot
    * fold over double-cast vectors divided by norms (> 0 by the vecs()
    * filter) — bit-identical to the oracle's [[sqlCos]].
    */
  private def pairCos: Column =
    (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim")

  /** Cell candidates, the probe stage of every IVF search over a cell
    * ranking `ranked` (vec_id, crn, cid; crn 1 is the row's own cell,
    * 1..probes its probe list): the probe leg (every rank of the
    * `queries` batch — vec_id plus any extra key columns — or of every
    * ranked row), the member leg (rank 1, through `members`), and their
    * equi-join on the cell and the extra keys, self pairs dropped. A
    * filter such as s28's label therefore rides IN the join, never after
    * scoring. Each member lives in one cell and a query probes distinct
    * cells, so every (qid, nid) pair appears at most once: no dedup
    * shuffle (unlike multi-table LSH).
    */
  private def cellCandidates(ranked: DataFrame, queries: Option[DataFrame],
      members: DataFrame => DataFrame = identity): DataFrame = {
    val keys = queries.fold(Seq.empty[String])(_.columns.toSeq.filter(_ != "vec_id"))
    val probes = queries.fold(ranked)(q => ranked.join(broadcast(q), "vec_id"))
      .select(Seq(col("vec_id").as("qid"), col("cid").as("cell")) ++ keys.map(col): _*)
    val assign = members(membershipOf(ranked).select(col("vec_id").as("nid"), col("cell")))
    probes.join(assign, "cell" +: keys)
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
  }

  /** Score and rank: both legs of `base` joined onto the (qid, nid)
    * candidates by id, then [[topK]].
    */
  private def scoreTopK(cand: DataFrame, base: DataFrame, k: Int): DataFrame =
    topK(cand.join(qLeg(base), "qid").join(nLeg(base), "nid"), k)

  /** The per-query top-`k` of pairs carrying both legs: exact cosine,
    * ranked by (sim DESC, nid) — the oracle's [[topSql]] tiebreak.
    */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    pairs.select(col("qid"), col("nid"), pairCos)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Exact top-`k` (qid, nid, sim, rn): every pair of the query leg `qs`
    * (qid, va, na) and the neighbor leg `ns` (nid, vb, nb) — a cross
    * join, or an equi-join on the columns they share (s18's label) —
    * self pairs dropped, ranked through the bounded-memory TopKNeighbors
    * Aggregator: partial + final aggregation, ≤ k rows per query cross
    * the shuffle, never a window sort over the scored pairs. With a
    * fixed-size query batch the work is batch × corpus, linear.
    */
  private def exactTopK(qs: DataFrame, ns: DataFrame, k: Int): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    val on = qs.columns.toSeq.filter(ns.columns.contains)
    (if (on.isEmpty) qs.crossJoin(ns) else qs.join(ns, on))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), pairCos)
      .as[graft.functions.KnnRow]
      .groupByKey(_.qid)
      .agg(new graft.functions.TopKNeighbors(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.items.iterator.zipWithIndex.map { case (r, i) => (qid, r.nid, r.sim, (i + 1).toLong) }
      }
      .toDF("qid", "nid", "sim", "rn")
  }

  /** Per-query recall of an index's answer `ann` (qid, nid) against the
    * `exact` one: k (exact neighbors available), n_hits (how many of
    * them the index returned), recall = n_hits / k; a query the index
    * missed entirely keeps its row with n_hits 0. Per-query rows keep
    * the worst queries attributable — a report that only says "0.93
    * average" cannot name the queries the index lost.
    */
  private def recall(exact: DataFrame, ann: DataFrame): DataFrame = {
    val hits = exact.join(ann, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / col("k")).as("recall"))
  }

  // ---- the oracle's stanzas -------------------------------------------

  private[ops] val oracleVecs =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT * FROM (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
      |  WHERE nrm > 0)""".stripMargin

  /** DuckDB's mirror of vec_dot: the same left-to-right sum of the Dim
    * element products.
    */
  private[ops] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))"

  /** Cosine of two (v, nrm) row aliases — [[pairCos]]'s mirror. */
  private def sqlCos(x: String, y: String): String =
    s"${sqlDot(s"$x.v", s"$y.v")} / ($x.nrm * $y.nrm)"

  /** [[scoreTopK]]'s join-and-score half: CTE `name` scores the (qid,
    * nid) pairs of `cand` against the `qp` and `np` populations.
    */
  private def scoreSql(name: String, cand: String, qp: String, np: String): String =
    s"""$name AS (
       |  SELECT c.qid, c.nid,
       |    ${sqlCos("x", "y")} AS sim
       |  FROM $cand c JOIN $qp x ON c.qid = x.vec_id JOIN $np y ON c.nid = y.vec_id)""".stripMargin

  /** [[topK]]'s mirror: the top-5 of the scored pairs in `src`. */
  private def topSql(src: String): String =
    s"""SELECT qid, nid, sim, rn FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rn
       |  FROM $src)
       |WHERE rn <= 5""".stripMargin

  /** The recall audits' batch `smp`: [[queryBatch]] over `pop`. */
  private def smpSql(pop: String, salt: String): String =
    s"""smp AS (
       |  SELECT vec_id FROM $pop
       |  ORDER BY md5('$salt' || CAST(vec_id AS VARCHAR)) LIMIT $RecallQueries)""".stripMargin

  /** [[exactTopK]]'s mirror `ex`: the exact top-5 of each `smp` query
    * of `qp` against the `np` rows that satisfy `on`.
    */
  private def exSql(qp: String, np: String, on: String): String =
    s"""ex AS (
       |  SELECT qid, nid FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${sqlCos("a", "b")} DESC,
       |        b.vec_id) AS rn
       |    FROM $qp a JOIN smp USING (vec_id) JOIN $np b ON $on)
       |  WHERE rn <= 5)""".stripMargin

  /** The index's answer `ann`: the top-5 of the scored pairs `sc`, cut
    * to the `smp` queries.
    */
  private val annSql =
    """ann AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      |    FROM sc)
      |  WHERE rn <= 5 AND qid IN (SELECT vec_id FROM smp))""".stripMargin

  /** [[recall]]'s mirror: `ex` against the index's answer `ann`. */
  private def recallSql(ann: String): String =
    s"""h AS (
       |  SELECT ex.qid, count(*) AS n_hits
       |  FROM ex JOIN $ann ON ex.qid = $ann.qid AND ex.nid = $ann.nid
       |  GROUP BY 1)
       |SELECT ex.qid, count(*) AS k,
       |  coalesce(any_value(h.n_hits), 0) AS n_hits,
       |  coalesce(any_value(h.n_hits), 0) / count(*) AS recall
       |FROM ex LEFT JOIN h ON ex.qid = h.qid
       |GROUP BY 1""".stripMargin

  /** s01: exact cosine top-5 neighbors for every vector ([[exactTopK]]
    * over the whole corpus). The STREAMED cartesian side carries the
    * O(n²) dot-product work, so spread floors its parallelism (the
    * broadcast side stays as-is); measured 1.9 s → 0.7 s at sf0.1.
    */
  private def s01(s: SparkSession, dir: String): DataFrame =
    exactTopK(qLeg(Tables.spread(vecs(s, dir))), nLeg(vecs(s, dir)), 5)

  private val s01Sql =
    s"""WITH $oracleVecs,
       |p AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid,
       |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS sim
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id)
       |${topSql("p")}""".stripMargin

  /** s02: embedding-space near-duplicate pairs (cosine >= 0.4; this corpus
    * is random vectors, max pairwise cosine ~0.6). The exact quadratic
    * baseline — s05 is the bucketed variant.
    */
  private def s02(s: SparkSession, dir: String): DataFrame =
    Tables.spread(vecs(s, dir))
      .select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
      .crossJoin(vecs(s, dir).select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb")))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), pairCos)
      .filter(col("sim") >= 0.4)

  private val s02Sql =
    s"""WITH $oracleVecs
       |SELECT a.vec_id AS ida, b.vec_id AS idb,
       |  list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.4""".stripMargin

  // ---- hyperplane LSH machinery (shared by s03 and s05) ---------------

  /** First 60 bits of md5 as a long — the shared cross-engine hash
    * (DuckDB mirrors it by folding the 15 hex chars; see the oracles).
    */
  private[graft] def hexval15(str: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(str.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Deterministic pseudo-random hyperplanes, identical in both engines:
    * component j of plane (t, p) = hexval15(md5("t_p_j")) / 2^59 - 1,
    * i.e. uniform in [-1, 1). Exactness: both engines round the same
    * integer to the nearest double (IEEE), divide by an exact power of
    * two, and subtract 1 with the same IEEE rounding.
    */
  private[graft] def planeComponent(table: Int, plane: Int, j: Int): Double =
    hexval15(s"${table}_${plane}_${j}").toDouble / math.pow(2, 59) - 1.0

  private[graft] def planesDf(s: SparkSession, nTables: Int, nPlanes: Int): DataFrame = {
    import s.implicits._
    (for {
      t <- 0 until nTables
      p <- 0 until nPlanes
    } yield (t, p, (0 until Dim).map(j => planeComponent(t, p, j)).toArray))
      .toDF("tbl", "plane", "pvec")
  }

  /** Per-(vector, table) sign-bit bucket: bit p = sign(v . plane_tp),
    * assembled with integer shifts (exactly mirrored in SQL as 1<<p).
    * The hyperplanes are carried as data (a broadcast-joined plane
    * table), not as unrolled expressions — tables x planes x 64 dims
    * inlined into one projection was a plan-compilation blowup.
    * Output is narrow (vec_id, tbl, bucket): the fat vectors do NOT ride
    * through the bucketing shuffle — re-scoring joins them back by id,
    * once per surviving candidate.
    */
  private[graft] def signBuckets(base: DataFrame, planes: DataFrame): DataFrame =
    base
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("tbl"),
        when(dot(col("v"), col("pvec")) > 0,
          expr("shiftleft(cast(1 as bigint), plane)")).otherwise(lit(0L)).as("bit"))
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(col("bit")).as("bucket"))

  /** Multi-probe expansion: per (vector, table), in addition to the home
    * bucket, probe the bucket reached by flipping the LEAST-CONFIDENT
    * sign bit (the plane with the smallest |projection| — the bit most
    * likely to differ for a true neighbor straddling that hyperplane).
    * Classic multi-probe LSH: extra recall at the cost of `probes`×
    * candidate volume, WITHOUT adding tables (each extra table costs a
    * full signature pass over the corpus; a probe only re-addresses the
    * query side). Probe rows join against home buckets only, so each
    * pair is found via (probe, home) or (home, home) membership.
    */
  private[graft] def withFlipProbe(base: DataFrame, planes: DataFrame): (DataFrame, DataFrame) = {
    val proj = base
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("tbl"), col("plane"),
        dot(col("v"), col("pvec")).as("d"))
    val home = proj
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(when(col("d") > 0, expr("shiftleft(cast(1 as bigint), plane)"))
        .otherwise(lit(0L))).as("bucket"))
    val wConf = Window.partitionBy(col("vec_id"), col("tbl"))
      .orderBy(abs(col("d")), col("plane"))
    val flipped = proj
      .withColumn("cr", row_number().over(wConf))
      .filter(col("cr") === 1)
      .select(col("vec_id"), col("tbl"), col("plane"))
      .join(home, Seq("vec_id", "tbl"))
      .select(col("vec_id"), col("tbl"),
        col("bucket").bitwiseXOR(expr("shiftleft(cast(1 as bigint), plane)")).as("bucket"))
    (home, home.select(col("vec_id"), col("tbl"), col("bucket")).unionAll(flipped))
  }

  /** Raw (pre-dedup) bucket-collision pairs, ida < idb — the candidate
    * stream whose volume is the thing LSH bounds. Exposed for the
    * fanout assertions in SimilaritySpec/OpsSpec.
    */
  private[graft] def bucketCandidates(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))

  /** Bucketed threshold near-dup: candidates from sign-LSH buckets, then
    * exact cosine verification — s02's semantics with no CartesianProduct
    * in the plan. The 100 TB shape: shuffle on (table, bucket), verify
    * only within buckets.
    */
  private[graft] def bucketedNearDup(s: SparkSession, base: DataFrame,
      nPlanes: Int, nTables: Int, threshold: Double): DataFrame = {
    // only the sign-fold kernel gets the parallelism floor — the
    // join-back legs hash-shuffle by ida/idb anyway, so spreading them
    // would add two more exchanges for nothing
    val banded = signBuckets(Tables.spread(base), planesDf(s, nTables, nPlanes)).persist()
    val pairs = bucketCandidates(banded).dropDuplicates("ida", "idb")
    pairs
      .join(base.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na")), "ida")
      .join(base.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb")), "idb")
      .select(col("ida"), col("idb"), pairCos)
      .filter(col("sim") >= threshold)
  }

  // ---- s03: ANN top-k -------------------------------------------------

  private val NumPlanes = 16
  private val NumTables = 8

  /** s03: sign-bit (random hyperplane) LSH over `NumTables` independent
    * tables of `NumPlanes` bits each: bucket join per table, union
    * candidates, exact cosine re-score, top-5 per query. Approximate by
    * design (candidates ⊆ all pairs) — the oracle is therefore a full
    * DuckDB mirror of the SAME pipeline (planes, buckets, candidates,
    * re-score, top-5), which cross-checks every stage end-to-end; recall
    * vs the exact s01 is measured separately in OpsSpec.
    */
  private def s03(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir)
    val banded = signBuckets(base, planesDf(s, NumTables, NumPlanes)).persist()
    val cand = banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
      .dropDuplicates("qid", "nid")
    scoreTopK(cand, base, 5)
  }

  /** Oracle: the same LSH pipeline rebuilt in DuckDB from the base
    * tables — md5-derived planes, sign-bit buckets, bucket join, exact
    * re-score, top-5. Matching hashes mean both engines agree on every
    * stage (plane values, dot signs, candidate set, scores, tiebreaks).
    */
  private val s03Sql =
    s"""WITH $oracleVecs,
       |$lshCtes
       |${topSql("sc")}""".stripMargin

  /** s03's planes, sign buckets, bucket-collision candidates `cand` and
    * re-scored pairs `sc` — shared verbatim by s12's ANN leg.
    */
  private lazy val lshCtes =
    s"""pl AS (
       |  SELECT t AS tbl, p AS plane, list_transform(range(0, $Dim), j ->
       |    CAST(list_reduce(list_transform(list_transform(range(1, 16),
       |        i -> substr(md5(t || '_' || p || '_' || j), i, 1)),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS DOUBLE)
       |      / 576460752303423488.0 - 1) AS pvec
       |  FROM (SELECT unnest(range(0, $NumTables)) AS t)
       |  CROSS JOIN (SELECT unnest(range(0, $NumPlanes)) AS p)),
       |proj AS (
       |  SELECT n.vec_id, pl.tbl, pl.plane,
       |    ${sqlDot("n.v", "pl.pvec")} AS dot
       |  FROM n CROSS JOIN pl),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(plane AS INT)) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |${scoreSql("sc", "cand", "n", "n")}""".stripMargin

  // ---- s05: bucketed threshold near-dup -------------------------------

  /** s05 LSH profile. Honest scale note: bucketed LSH beats brute force
    * when qualifying pairs sit far above the background similarity (real
    * near-dup corpora: threshold ~0.9 → ~16 planes/table, a handful of
    * tables, orders-of-magnitude candidate reduction — the profile the
    * synthetic planted-near-dup test exercises). THIS corpus is uniform
    * random vectors and the declared threshold (0.4, matching s02) sits
    * barely above background, the regime where any recall-1.0 candidate
    * generator necessarily approaches all-pairs volume; 6 planes x 128
    * tables is tuned so every qualifying pair collides somewhere (worst
    * pair first collides at table 91 at sf0.1 — measured, margin 37) and
    * the plan shape (bucket equi-join, no CartesianProduct) is the thing
    * the declared query demonstrates.
    */
  private val NearDupPlanes    = 6
  private val NearDupTables    = 128
  private val NearDupThreshold = 0.4

  /** s05: s02's exact near-dup semantics through the bucketed path.
    * Oracle = a full DuckDB mirror of the SAME pipeline (planes, sign
    * buckets, bucket-collision candidates, threshold verify), so the
    * gate checks the machinery structurally on ANY corpus; that the
    * result also equals s02's exact brute-force set (recall 1.0 of this
    * tuned profile here) is asserted separately in SimilaritySpec at
    * sf0.01 and sf0.1.
    */
  private def s05(s: SparkSession, dir: String): DataFrame =
    bucketedNearDup(s, vecs(s, dir), NearDupPlanes, NearDupTables, NearDupThreshold)

  /** Structural mirror of [[bucketedNearDup]] at the s05 profile: the
    * planes, sign buckets and candidates of s03's oracle with a
    * threshold verify in place of the per-query top-k — factored so
    * s15's leakage audit composes the LITERAL same stages (the p13
    * shared-CTE rule).
    */
  private val s05Ctes =
    s"""pl AS (
       |  SELECT t AS tbl, p AS plane, list_transform(range(0, $Dim), j ->
       |    CAST(${OracleSql.hex60("t || '_' || p || '_' || j")} AS DOUBLE)
       |      / 576460752303423488.0 - 1) AS pvec
       |  FROM (SELECT unnest(range(0, $NearDupTables)) AS t)
       |  CROSS JOIN (SELECT unnest(range(0, $NearDupPlanes)) AS p)),
       |proj AS (
       |  SELECT n.vec_id, pl.tbl, pl.plane,
       |    ${sqlDot("n.v", "pl.pvec")} AS dot
       |  FROM n CROSS JOIN pl),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN dot > 0 THEN (1::BIGINT << CAST(plane AS INT)) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |verified AS (
       |  SELECT ida, idb, sim FROM (
       |    SELECT c.ida, c.idb,
       |      ${sqlCos("x", "y")} AS sim
       |    FROM cand c JOIN n x ON c.ida = x.vec_id JOIN n y ON c.idb = y.vec_id)
       |  WHERE sim >= $NearDupThreshold)""".stripMargin

  private val s05Sql =
    s"""WITH $oracleVecs,
       |$s05Ctes
       |SELECT ida, idb, sim FROM verified""".stripMargin

  // ---- shared cell-assignment kernel ----------------------------------

  /** The one-row broadcastable centroid-array frame: every centroid
    * struct collapsed into a single cid-sorted `cents` array. All cell
    * assignment in this module happens as a row-local fold/sort over
    * this array — never as a corpus×K row explosion ranked through a
    * `Window.partitionBy(vec_id)` exchange (that shape shuffles K× the
    * corpus just to pick per-row winners). Struct fields must lead with `cid` so the array sort is
    * cid-ordered.
    */
  private def centArray(cents: DataFrame, fields: Column*): DataFrame =
    cents.agg(array_sort(collect_list(struct(fields: _*))).as("cents"))

  /** The per-row key-ascending centroid ranking as ONE array value:
    * each centroid becomes a (k, cid) struct (k from `key`, an ASCENDING
    * rank key — L2 distance for the k-means metric; a NEGATED cosine for
    * similarity ranking, an exact IEEE sign flip so ties stay ties) and
    * the struct sort breaks key ties on the smallest cid — exactly the
    * oracle's `ORDER BY key, cid` window, computed without any exchange.
    * Callers slice/extract from this: element 1 is the argmin.
    */
  private def rankedCells(key: Column => Column): Column =
    array_sort(transform(col("cents"),
      c => struct(key(c).as("k"), c.getField("cid").as("cid"))))

  /** Row-local top-`probes` cell ranking, exploded to (vec_id, crn, cid)
    * — the s10 argmin fold generalized to top-P. Replaces the
    * crossJoin + `row_number() OVER (PARTITION BY vec_id)` assignment
    * stage: the plan is scan → broadcast → project → generate, with
    * crn = 1..probes emitted row-locally and only corpus×probes rows
    * ever existing (probes ≪ K; nothing shuffles on vec_id).
    */
  private def rankCells(base: DataFrame, centArr: DataFrame,
      key: Column => Column, probes: Int): DataFrame =
    base.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        posexplode(slice(rankedCells(key), 1, probes)).as(Seq("p0", "kc")))
      .select(col("vec_id"), (col("p0") + 1).as("crn"), col("kc.cid").as("cid"))

  /** Append the argmin cell as `outCol`, keeping every base column — the
    * probes=1 face of the kernel for consumers that carry the row
    * payload through assignment (s10's means, s11's re-score vectors).
    */
  private def assignCell(base: DataFrame, centArr: DataFrame,
      key: Column => Column, outCol: String): DataFrame =
    base.crossJoin(broadcast(centArr))
      .withColumn(outCol, try_element_at(rankedCells(key), lit(1)).getField("cid"))
      .filter(col(outCol).isNotNull) // empty codebook ≡ the oracle's empty rn=1 window
      .drop("cents")

  /** Squared L2 distance from the row's `v` to a centroid vector, in
    * the s10 three-sum expansion (each term the shared left-to-right
    * dot fold — bit-equal to the oracle's mirror).
    */
  private def l2To(cv: Column): Column =
    dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cv) + dot(cv, cv)

  /** The k-means rank key over a centroid struct. */
  private def l2Key(c: Column): Column = l2To(c.getField("cv"))

  /** The similarity rank key: NEGATED cosine of the row's (v, nrm)
    * against the centroid's (cv, cnrm) — ascending-sorts as csim DESC
    * with the struct's cid field breaking ties ascending, exactly the
    * oracle's ORDER BY csim DESC, cid.
    */
  private def cosKey(c: Column): Column =
    -(dot(col("v"), c.getField("cv")) / (col("nrm") * c.getField("cnrm")))

  // ---- s06: IVF-flat ANN ---------------------------------------------

  private val IvfCells  = 16
  private val IvfProbes = 4

  /** s06: IVF-flat ANN — the inverted-file counterpart to s03's LSH (the
    * two standard ANN scale paths). Coarse centroids here are a
    * deterministic md5-ordered sample of the corpus itself (so DuckDB
    * can rebuild them bit-for-bit; a production system would swap in
    * k-means-trained centroids — everything downstream is unchanged).
    * Every vector is assigned to its nearest centroid's cell; a query
    * probes its `IvfProbes` nearest cells and scores only vectors in
    * them; exact re-score, top-5.
    *
    * 100 TB shape: the K centroids collapse to ONE broadcast array row
    * so assignment AND probe selection are a row-local sort over that
    * array ([[rankCells]]) — no corpus×K row explosion, no vec_id
    * exchange; the probe join shuffles on the cell id with fanout
    * bounded by cell occupancy (n/K), and nprobe/K tunes the
    * recall/cost point.
    */
  private def s06(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir).persist()
    val centArr = centArray(cosCents(base, IvfCells), col("cid"), col("cv"), col("cnrm"))
    val ranked = rankCells(base, centArr, cosKey, IvfProbes)
    scoreTopK(cellCandidates(ranked, None), base, 5)
  }

  /** The s06 coarse quantizer: an unsalted md5-order sample of `cells`
    * corpus rows as (cid, cv, cnrm) centroids — shared by s06, s11 and
    * s14 (oracle: [[ivfAssignCtes]]).
    */
  private def cosCents(base: DataFrame, cells: Int): DataFrame =
    queryBatch(base, "", cells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Oracle: full DuckDB mirror of the IVF pipeline (centroid sample,
    * assignment argmax with the same tiebreak, probe list, in-cell
    * scoring, top-5) — cross-checks every stage.
    */
  private val s06Sql =
    s"""WITH $oracleVecs,
       |${ivfAssignCtes(IvfCells)},
       |probes AS (SELECT vec_id AS qid, cid AS cell FROM rk WHERE crn <= $IvfProbes),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE p.qid <> a.vec_id),
       |${scoreSql("sc", "cand", "n", "n")}
       |${topSql("sc")}""".stripMargin

  /** The s06 quantizer's oracle: centroid sample `c`, every (row,
    * centroid) cosine `sims`, the per-row cell ranking `rk` (csim DESC,
    * cid — the Spark side's array sort) and rank-1 membership `assign`;
    * shared by s06, s11 and s14.
    */
  private def ivfAssignCtes(cells: Int): String =
    s"""c AS (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $cells),
       |sims AS (
       |  SELECT n.vec_id, c.cid,
       |    ${sqlDot("n.v", "c.cv")} / (n.nrm * c.cnrm) AS csim
       |  FROM n CROSS JOIN c),
       |rk AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
       |  FROM sims),
       |assign AS (SELECT vec_id, cid AS cell FROM rk WHERE crn = 1)""".stripMargin

  /** s04: per-label centroid components — embedding analytics (cluster
    * means, per-class prototypes). Emitted as exact decimal sums + counts
    * per (label, position); the mean is the consumer's one division
    * (DETERMINISM.md rule 3). posexplode keeps this one shuffle on
    * (label, pos) regardless of vector count.
    */
  private def s04(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .groupBy(col("label"), (col("pos0") + 1).cast("long").as("pos"))
      .agg(
        // float -> shortest string -> decimal: both engines print the same
        // shortest round-trip repr (<=9 sig digits), so the scale-12 parse
        // is exact — a direct double->decimal cast ties at the rounding
        // digit between Spark (rounds the string) and DuckDB (rounds the
        // binary) roughly once per thousand sums
        sum(col("x").cast("string").cast(DecimalType(28, 12))).cast("double").as("sx"),
        count(lit(1)).as("n"))

  private val s04Sql =
    """SELECT label, CAST(i AS BIGINT) AS pos,
      |  CAST(sum(CAST(xs AS DECIMAL(28,12))) AS DOUBLE) AS sx,
      |  count(*) AS n
      |FROM (SELECT label,
      |        unnest(range(1, len(embedding)+1)) AS i,
      |        unnest(list_transform(embedding, x -> CAST(x AS VARCHAR))) AS xs
      |      FROM embeddings)
      |GROUP BY label, i""".stripMargin

  // ---- s07: int8 scalar quantization + quantized search ---------------

  private val QuantQueries = 24 // fixed-size query batch (md5-order sample)
  private val QuantK       = 5

  /** s07: int8 scalar quantization of the embedding corpus (per-dimension
    * min/max affine codes 0..255 — the memory-4x compression step before
    * an ANN index) plus a quantized top-k search for a query batch.
    *
    * Determinism: codes come from `floor(affine + 0.5)` — floor is exact
    * on both engines (no round()-tie hazard, DETERMINISM.md) — and the
    * quantized dot product is pure INTEGER arithmetic, so scores are
    * exact whatever the summation order. That is the practical draw of
    * quantized scoring at 100 TB: bit-reproducible rankings across
    * engines, retries, and partitionings, which float dots cannot give.
    *
    * Scale shape: the stats pass is one 64-row aggregate; quantization is
    * a map-side projection under a broadcast 1-row stats frame (no
    * shuffle); the query batch is a [[queryBatch]] of `QuantQueries`
    * rows (the stand-in for the external query set a real deployment
    * supplies). Scoring under the broadcast is embarrassingly parallel;
    * only the final per-query top-k ranks — swap row_number for the
    * TopKNeighbors Aggregator if the batch is huge.
    */
  private def s07(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val stats = base
      .select(posexplode(col("v")).as(Seq("d0", "x")))
      .groupBy(col("d0"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("d0"), col("mn"), col("mx")))).as("st"))
      .select(transform(col("st"), x => x.getField("mn")).as("mns"),
        transform(col("st"), x => x.getField("mx")).as("mxs"))
      // 1-row frame consumed by BOTH the corpus and the query-batch
      // quantization branches; without persist each branch re-runs the
      // full stats scan+aggregate (no exchange reuse across the two
      // broadcasts — measured 4 parquet scans, 3 with persist)
      .persist()
    val quant = base.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        transform(col("v"), (x, i) => {
          val mn = element_at(col("mns"), i + lit(1))
          val mx = element_at(col("mxs"), i + lit(1))
          when(mx > mn,
            least(greatest(floor((x - mn) / (mx - mn) * 255 + 0.5), lit(0.0)), lit(255.0)))
            .otherwise(lit(0.0)).cast("long")
        }).as("q"))
    // O(k) query batch: GlobalLimit caps the broadcast side by
    // construction (PlanSpec asserts the limit sits under the broadcast)
    val qids = queryBatch(base.select(col("vec_id")), "", QuantQueries)
    val queries = quant.join(broadcast(qids), "vec_id")
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qdot").desc, col("vec_id"))
    quant.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        // native codegen integer dot (exact, order-free) — the composed
        // aggregate(zip_with(...)) form is interpreted and breaks
        // whole-stage codegen (PlanSpec asserts this stays native)
        graft.functions.VectorFunctions.vec_dot_long(col("qa"), col("q")).as("qdot"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= QuantK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("qdot"))
  }

  /** Oracle: element-level mirror — same min/max stats, same
    * floor(affine + 0.5) codes, integer dot via a dim join (order-free
    * because integer addition is exact), same rank tiebreak.
    */
  private val s07Sql =
    s"""WITH elems AS (
       |  SELECT e.vec_id, x.i AS dim, CAST(e.embedding[x.i] AS DOUBLE) AS x
       |  FROM embeddings e, LATERAL (SELECT unnest(range(1, ${Dim + 1})) AS i) x),
       |stats AS (
       |  SELECT dim, min(x) AS mn, max(x) AS mx FROM elems GROUP BY 1),
       |q AS (
       |  SELECT vec_id, dim,
       |    CASE WHEN mx > mn
       |      THEN CAST(least(greatest(floor((x - mn) / (mx - mn) * 255 + 0.5), 0), 255) AS BIGINT)
       |      ELSE 0 END AS qi
       |  FROM elems JOIN stats USING (dim)),
       |qs AS (SELECT * FROM q WHERE vec_id IN (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $QuantQueries)),
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, CAST(sum(a.qi * b.qi) AS BIGINT) AS qdot
       |  FROM qs a JOIN q b USING (dim)
       |  WHERE a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, qdot,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rk
       |  FROM dots)
       |SELECT query_id, rk, vec_id, qdot FROM ranked WHERE rk <= $QuantK""".stripMargin

  // ---- s08: product quantization + ADC search --------------------------

  private val PqM       = 8          // subspaces
  private val PqSub     = Dim / PqM  // dims per subspace
  private val PqK       = 16         // codebook size per subspace
  private val PqQueries = 16         // fixed query batch (md5-order sample)
  private val PqTopK    = 5

  /** PQ encode, factored for reuse by the flat path (s08/s09) and the
    * IVF-PQ composition (s22): returns (centSub, codes) — the per-
    * subspace codebook slices and the corpus's 8-code rows.
    */
  private def pqParts(base: DataFrame): (DataFrame, DataFrame) = {
    val cents = queryBatch(base, "", PqK).select(col("vec_id").as("cid"), col("v").as("cv"))
      .persist() // tiny; feeds the rank join and the subspace explode
    // dense 0..PqK-1 code index by id rank (join-count, not a window)
    val cidx = cents.select(col("cid"))
      .join(cents.select(col("cid").as("cid2")), col("cid2") <= col("cid"))
      .groupBy(col("cid")).agg((count(lit(1)) - 1).cast("int").as("cidx"))
    val centSub = cents.join(cidx, "cid")
      .select(col("cidx"), explode(sequence(lit(0), lit(PqM - 1))).as("j"), col("cv"))
      .select(col("cidx"), col("j"), slice(col("cv"), col("j") * PqSub + 1, lit(PqSub)).as("cs"))
    val vecSub = base
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("j"), col("v"))
      .select(col("vec_id"), col("j"), slice(col("v"), col("j") * PqSub + 1, lit(PqSub)).as("xs"))
    // encode: argmin_c ||xs - cs||^2, expanded as xx - 2*xc + cc so each
    // of the three sums is the shared left-to-right dot reduction
    val wCode = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("d").asc, col("cidx"))
    val codes = vecSub.join(broadcast(centSub), "j")
      .select(col("vec_id"), col("j"), col("cidx"),
        (dot(col("xs"), col("xs")) - lit(2.0) * dot(col("xs"), col("cs"))
          + dot(col("cs"), col("cs"))).as("d"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("j"), col("cidx")))).as("jc"))
      .select(col("vec_id"), transform(col("jc"), x => x.getField("cidx")).as("codes"))
    (centSub, codes)
  }

  /** The PQ query batch: SALTED md5 order — the unsalted ordering is
    * the codebook sample's, and PqQueries == PqK would make every query
    * one of its own centroids; the batch must exercise out-of-codebook
    * queries.
    */
  private def pqQids(base: DataFrame): DataFrame =
    queryBatch(base.select(col("vec_id")), "pqq_", PqQueries)

  /** Per-query ADC tables: contrib[j][c] = <query subvector, centroid>,
    * flattened to a 128-slot array in (j, cidx) order — one capped-
    * broadcast row per batch query.
    */
  private def adcTables(base: DataFrame, centSub: DataFrame, qids: DataFrame): DataFrame =
    base.join(broadcast(qids), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(centSub))
      .select(col("query_id"), col("j"), col("cidx"),
        dot(slice(col("qv"), col("j") * PqSub + 1, lit(PqSub)), col("cs")).as("contrib"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("j"), col("cidx"), col("contrib")))).as("e"))
      .select(col("query_id"), transform(col("e"), x => x.getField("contrib")).as("tbl"))

  /** ADC score: fixed-order fold over j — a sum of PqM exact lookups.
    * Reads `tbl` and `codes` columns from the enclosing frame.
    */
  private def adcScore: Column =
    aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("tbl"), j * PqK + element_at(col("codes"), j + 1) + 1))

  /** The PQ pipeline through ADC ranking, shared by s08 (shortlist IS the
    * answer) and s09 (shortlist feeds an exact re-rank): returns the
    * persisted normalized corpus and the full ADC-ranked candidate frame
    * (query_id, vec_id, adc, rk) BEFORE any top-k cut.
    */
  private def pqAdcRanked(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = vecs(s, dir).persist()
    val (centSub, codes) = pqParts(base)
    val tbl = adcTables(base, centSub, pqQids(base))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val ranked = codes.crossJoin(broadcast(tbl))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), adcScore.as("adc"))
      .withColumn("rk", row_number().over(w).cast("long"))
    (base, ranked)
  }

  /** s08: product quantization + asymmetric-distance (ADC) search — the
    * FAISS-style memory-compression ANN path: each vector becomes PqM
    * 4-bit codes (8 bytes vs 256 for Dim floats, 32×), and a query scores
    * a candidate by summing PqM precomputed table lookups instead of a
    * Dim-wide dot. At 100 TB this is what makes the index FIT — the
    * coded corpus rides in executor memory while the floats stay in cold
    * storage for re-scoring.
    *
    * Codebooks are the per-subspace slices of a deterministic md5-order
    * sample (the s06 stand-in for k-means — everything downstream is
    * training-free); dense code indexes come from a join-count rank over
    * the 16-row sample, not a window, so no unpartitioned window exists.
    * Determinism: every float reduction (encode distances, table
    * entries, the ADC score) is the SAME left-to-right sum in both
    * engines (vec_dot / aggregate-fold vs list_sum), each term a single
    * exact product or lookup, and every argmin/top-k tie breaks on the
    * id — so the oracle hash-matches bit-exactly.
    *
    * Scale shape: encoding is a map-side projection under a broadcast
    * 128-row codebook (one groupBy(vec_id) to assemble codes); the query
    * batch and its 2048-entry tables are LIMIT-capped broadcasts (the
    * s07 contract); scoring is corpus × 16 broadcast rows, linear in the
    * corpus; only the final per-query top-k ranks.
    */
  private def s08(s: SparkSession, dir: String): DataFrame = {
    val (_, ranked) = pqAdcRanked(s, dir)
    ranked.filter(col("rk") <= PqTopK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adc"))
  }

  private val PqShort  = 20  // stage-1 ADC shortlist size per query
  private val RerankK  = 5   // stage-2 exact top-k

  /** s09: two-stage retrieval — ADC shortlist, then exact cosine re-rank.
    * The production ANN serving pattern (FAISS `IndexIVFPQ` + refine;
    * Jégou et al. 2011 §V): stage 1 scans the 8-byte PQ codes and keeps
    * PqShort candidates per query (cheap, linear, approximate); stage 2
    * fetches ONLY those candidates' float vectors and re-scores them
    * exactly, fixing ADC's quantization-induced rank inversions. At
    * 100 TB the economics are the point: the exact pass touches
    * PqQueries × PqShort vectors — a constant — while the corpus-wide
    * work stays on the compressed codes.
    *
    * Scale shape: the shortlist (≤ PqQueries × PqShort rows by
    * construction) broadcasts into a hash join against the persisted
    * corpus to fetch candidate vectors — the corpus side streams, never
    * shuffles or broadcasts; the PqQueries query vectors ride a second
    * capped broadcast. Determinism: the re-rank sim is s01's exact
    * cosine (the same left-to-right vec_dot fold over double-cast
    * vectors, norms > 0 by the vecs() source filter), ties break on
    * vec_id — bit-identical to the oracle's list_sum mirror.
    */
  private def s09(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = pqAdcRanked(s, dir)
    val short = ranked.filter(col("rk") <= PqShort)
      .select(col("query_id"), col("vec_id"))
    // fetch: corpus streams against the two tiny capped sides
    val cand = base.join(broadcast(short), "vec_id")
      .select(col("query_id"), col("vec_id"), col("v").as("cv"), col("nrm").as("cn"))
    val qv = base
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(short.select(col("query_id")).distinct()), "query_id")
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    cand.join(broadcast(qv), "query_id")
      .select(col("query_id"), col("vec_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= RerankK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** The PQ encode + per-query ADC-table CTEs WITHOUT the `n` prefix or
    * the full-corpus ranking tail — composable after any CTE chain that
    * already defines `n` (s22 splices this after the s20 trained-IVF
    * chain). Mirrors [[pqParts]] + [[pqQids]] + [[adcTables]].
    */
  private val pqCodeCtes =
    s"""cent AS (
       |  SELECT vec_id AS cid, v AS cv FROM n
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $PqK),
       |cx AS (
       |  SELECT a.cid, CAST(count(*) - 1 AS INTEGER) AS cidx
       |  FROM cent a JOIN cent b ON b.cid <= a.cid GROUP BY a.cid),
       |cs AS (
       |  SELECT cx.cidx, jj.j, cent.cv[(jj.j * $PqSub + 1):(jj.j * $PqSub + $PqSub)] AS cs
       |  FROM cent JOIN cx USING (cid),
       |    LATERAL (SELECT unnest(range(0, $PqM)) AS j) jj),
       |vs AS (
       |  SELECT n.vec_id, jj.j, n.v[(jj.j * $PqSub + 1):(jj.j * $PqSub + $PqSub)] AS xs
       |  FROM n, LATERAL (SELECT unnest(range(0, $PqM)) AS j) jj),
       |dist AS (
       |  SELECT vs.vec_id, vs.j, cs.cidx,
       |    list_sum(list_transform(range(1, ${PqSub + 1}), i -> vs.xs[i] * vs.xs[i]))
       |      - 2.0 * list_sum(list_transform(range(1, ${PqSub + 1}), i -> vs.xs[i] * cs.cs[i]))
       |      + list_sum(list_transform(range(1, ${PqSub + 1}), i -> cs.cs[i] * cs.cs[i])) AS d
       |  FROM vs JOIN cs ON vs.j = cs.j),
       |code AS (
       |  SELECT vec_id, j, cidx FROM (
       |    SELECT vec_id, j, cidx,
       |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cidx) AS rn
       |    FROM dist) WHERE rn = 1),
       |codes AS (SELECT vec_id, array_agg(cidx ORDER BY j) AS codes FROM code GROUP BY 1),
       |qids AS (
       |  SELECT vec_id FROM n
       |  ORDER BY md5('pqq_' || CAST(vec_id AS VARCHAR)) LIMIT $PqQueries),
       |tb AS (
       |  SELECT q.vec_id AS query_id, cs.j, cs.cidx,
       |    list_sum(list_transform(range(1, ${PqSub + 1}),
       |      i -> q.v[cs.j * $PqSub + i] * cs.cs[i])) AS contrib
       |  FROM n q JOIN qids USING (vec_id) CROSS JOIN cs),
       |tbl AS (SELECT query_id, array_agg(contrib ORDER BY j, cidx) AS tbl FROM tb GROUP BY 1)""".stripMargin

  /** Oracle: full stage-by-stage mirror — same md5 sample, same
    * join-count code indexes, the same three-sum expanded distances,
    * table entries, fixed-order ADC fold, and tiebreaks. The CTE block
    * through the ADC ranking is shared by the s08 and s09 oracles,
    * mirroring the Spark-side pqAdcRanked split.
    */
  private val pqCte =
    s"""$oracleVecs,
       |$pqCodeCtes,
       |sc AS (
       |  SELECT t.query_id, c.vec_id,
       |    list_sum(list_transform(range(0, $PqM),
       |      j -> t.tbl[j * $PqK + c.codes[j + 1] + 1])) AS adc
       |  FROM codes c CROSS JOIN tbl t WHERE t.query_id <> c.vec_id),
       |pqranked AS (
       |  SELECT query_id, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS BIGINT) AS rk
       |  FROM sc)""".stripMargin

  private val s08Sql =
    s"""WITH $pqCte
       |SELECT query_id, rk, vec_id, adc FROM pqranked WHERE rk <= $PqTopK""".stripMargin

  /** s09 oracle: the shared PQ CTEs, the rk <= PqShort shortlist, then
    * s01's exact-cosine mirror (same fixed-order list_sum fold, same
    * vec_id tiebreak) over only the shortlisted pairs.
    */
  private val s09Sql =
    s"""WITH $pqCte,
       |short AS (SELECT query_id, vec_id FROM pqranked WHERE rk <= $PqShort),
       |rr AS (
       |  SELECT s.query_id, s.vec_id,
       |    ${sqlCos("q", "c")} AS sim
       |  FROM short s JOIN n q ON q.vec_id = s.query_id JOIN n c ON c.vec_id = s.vec_id)
       |SELECT query_id, rk, vec_id, sim FROM (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
       |  FROM rr) WHERE rk <= $RerankK""".stripMargin

  // ---- s10: one Lloyd (k-means) iteration — IVF index training --------

  private val KmK = 16 // centroid count for the training step

  /** s10: one distributed Lloyd iteration — the k-means training step
    * behind every IVF-family ANN index (s06/s08 use a deterministic
    * SAMPLE as their codebook stand-in; a real FAISS-style deployment
    * trains that codebook with exactly this step, iterated): assign each
    * vector to its nearest of [[KmK]] seed centroids, then recompute
    * each centroid as the mean of its assigned vectors. Output is one
    * row per (centroid, dimension): the exact component sum, the cell
    * population, and the new mean — the driver of the next iteration
    * (and the cell-size balance check an index builder reads first).
    *
    * Scale shape: the textbook 100 TB k-means step. Seeds are a
    * LIMIT-capped md5-order sample (KmK rows, collapsed to a single
    * broadcast row holding the cid-sorted centroid array — the s06/s07
    * capped-broadcast contract); assignment is a row-local fold over
    * that array (corpus never shuffles for it, and no corpus x K row
    * explosion ever exists — the distances live in a per-row array);
    * the recompute is the plan's ONE corpus-fed shuffle, on (cid, pos)
    * with map-side partial aggregation — bytes crossing the wire are
    * O(KmK · Dim · partitions), independent of corpus size. Iterating
    * re-runs the same plan with the emitted means as the next broadcast.
    *
    * Determinism: distances are the s08 three-sum expansion (each term
    * the shared left-to-right dot fold), argmin ties break on cid (the
    * first min-hitting entry of the cid-sorted array — exactly the
    * oracle's ORDER BY d, cid under bit-equal distances); the
    * component sums use the s04 float→shortest-string→DECIMAL(28,12)
    * trick — exact and ORDER-INDEPENDENT, so the shuffle's arrival
    * order can't flip a bit; the mean is one IEEE division of the
    * exact-cast sum by the exact count (DETERMINISM.md rules 3/12).
    */
  private def s10(s: SparkSession, dir: String): DataFrame =
    kmeansMeans(vecs(s, dir).persist()) // persist feeds seed sample + assignment

  /** The [[KmK]] k-means seed centroids (cid, cv): the "km_" md5-order
    * sample shared by s10, s16/s26 and s17 (oracle: [[kmSeedCtes]]).
    */
  private def kmSeeds(base: DataFrame): DataFrame =
    queryBatch(base, "km_", KmK).select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The s10 Lloyd step over an arbitrary (vec_id, v, nrm) frame,
    * factored so s20 can feed its trained means into the s06-style IVF
    * search — the "centroids swappable, everything downstream
    * unchanged" composition the s06 doc promises.
    */
  private def kmeansMeans(base: DataFrame): DataFrame = {
    val cents = kmSeeds(base)
    // the K centroids as ONE broadcast row holding a cid-sorted array, so
    // the argmin is a row-local sort over the array ([[assignCell]]) — NOT
    // a per-(vec,cent) row explosion followed by a corpus-wide window on
    // vec_id (that shape shuffles corpus x K rows; this one shuffles
    // nothing before the recompute aggregate)
    val assign = assignCell(base, centArray(cents, col("cid"), col("cv")), l2Key, "cid")
    assign
      .select(col("cid"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("cid"), (col("pos0") + 1).cast("long").as("pos"))
      .agg(
        sum(col("x").cast("string").cast(DecimalType(28, 12))).cast("double").as("sx"),
        count(lit(1)).as("n"))
      .select(col("cid"), col("pos"), col("sx"), col("n"),
        (col("sx") / col("n")).as("mean_x"))
  }

  /** [[kmSeeds]]' mirror `cent` plus every (row, seed) squared L2
    * distance as CTE `dist`.
    */
  private def kmSeedCtes(dist: String): String =
    s"""cent AS (
       |  SELECT vec_id AS cid, v AS cv FROM n
       |  ORDER BY md5('km_' || CAST(vec_id AS VARCHAR)) LIMIT $KmK),
       |${l2DistSql(dist, "cent")}""".stripMargin

  /** CTE `name`: the s10 three-sum squared L2 distance `d` from every
    * `n` row to every centroid of `cents` (cid, cv).
    */
  private def l2DistSql(name: String, cents: String): String =
    s"""$name AS (
       |  SELECT n.vec_id, $cents.cid,
       |    ${sqlDot("n.v", "n.v")}
       |      - 2.0 * ${sqlDot("n.v", s"$cents.cv")}
       |      + ${sqlDot(s"$cents.cv", s"$cents.cv")} AS d
       |  FROM n CROSS JOIN $cents)""".stripMargin

  /** The s10 CTE chain (seed sample → L2 distances → argmin assignment
    * → exploded components) — shared by s10's mean report and s20's
    * trained-centroid search.
    */
  private val kmMeansCtes =
    s"""${kmSeedCtes("d")},
       |asg AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM d) WHERE rn = 1),
       |px AS (
       |  SELECT asg.cid, unnest(range(1, len(n.v)+1)) AS pos,
       |         unnest(list_transform(n.v, x -> CAST(x AS VARCHAR))) AS xs
       |  FROM n JOIN asg USING (vec_id))""".stripMargin

  private val s10Sql =
    s"""WITH $oracleVecs,
       |$kmMeansCtes
       |SELECT cid, CAST(pos AS BIGINT) AS pos,
       |  CAST(sum(CAST(xs AS DECIMAL(28,12))) AS DOUBLE) AS sx,
       |  count(*) AS n,
       |  CAST(sum(CAST(xs AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean_x
       |FROM px GROUP BY cid, pos""".stripMargin

  // ---- s20: trained, corpus-scaled IVF search (s10 ∘ d08 ∘ s06) ------

  private val KmSteps        = 2 // Lloyd iterations training the codebook
  private val KmSearchGroups = 2 // coarse groups probed per query at search

  /** Exact-decimal per-(cell, pos) component means of an assigned corpus
    * (must carry `v` plus the cell id in `cidCol`), reassembled into a
    * codebook (cid, cv) with pos-ordered vectors — one corpus exchange
    * on (cid, pos) with map-side combine (the s10 contract), then a
    * K-sized rollup. Shared by s16's second pass and s20's trainer.
    */
  private def meansCodebook(assigned: DataFrame, cidCol: String): DataFrame =
    assigned
      .select(col(cidCol).as("cid"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("cid"), (col("pos0") + 1).cast("long").as("pos"))
      .agg((sum(col("x").cast("string").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("mx"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        e => e.getField("mx")).as("cv"))

  /** The codebook as ONE broadcast row of a TWO-LEVEL nested array:
    * coarse groups — the codebook rows `isCoarse` marks (d08's "coarse
    * subset of the same hash order" rule, so no second count is ever
    * needed; a dead coarse cell simply drops out of later steps) — each
    * carrying the cid-sorted member array of the fine centroids
    * assigned to it under `key` (the same rank-key contract as
    * [[assignCell]]; each fine centroid plays the ROW during its own
    * coarse assignment, so `key`'s col("v")/col("nrm") reads see the
    * centroid's own cv/cnrm). Codebooks without a cnrm column are
    * padded with 0.0 so ONE nested struct shape (cid, cv, cnrm) serves
    * both metrics. All work here is K-sized (centroids only; the
    * corpus is never touched).
    */
  private[graft] def groupArray(code: DataFrame, isCoarse: Column => Column,
      key: Column => Column): DataFrame = {
    val padded =
      if (code.columns.contains("cnrm")) code
      else code.withColumn("cnrm", lit(0.0))
    val coarse = padded.filter(isCoarse(col("cid")))
    val fineG = assignCell(
      padded.select(col("cid").as("fcid"), col("cv").as("v"), col("cnrm").as("nrm")),
      centArray(coarse, col("cid"), col("cv"), col("cnrm")), key, "gid")
    fineG.groupBy(col("gid"))
      .agg(array_sort(collect_list(struct(col("fcid").as("cid"),
        col("v").as("cv"), col("nrm").as("cnrm")))).as("members"))
      .join(coarse.select(col("cid").as("gid"), col("cv").as("gv"),
        col("cnrm").as("gnrm")), "gid")
      .agg(array_sort(collect_list(struct(col("gid"), col("gv"), col("gnrm"),
        col("members")))).as("groups"))
  }

  /** Row-local TWO-LEVEL cell ranking under the nested broadcast:
    * nearest `coarseProbes` groups by (key, gid), then those groups'
    * members ranked by (key, cid), exploded to (vec_id, crn, cid) with
    * crn = 1..probes. Per-row work is O(Kc + coarseProbes·K/Kc) ≈
    * O(√K) — what keeps a corpus-scaled codebook affordable — and
    * still ZERO exchanges: assignment and probing never shuffle the
    * corpus ([[rankCells]]'s contract at the next scale tier).
    *
    * The per-row selection runs in the NATIVE
    * [[graft.functions.TwoLevelRankCells]] kernel: the HOF composition
    * (array_sort over transform-built structs, twice) paid an
    * interpreted lambda dispatch + struct allocation per centroid per
    * row, which at corpus-scaled K dominated the s20-family bench; the
    * kernel runs the identical (key, id) selection — same arithmetic,
    * same SQL double comparison, same tiebreaks, oracle hash-matched —
    * as primitive loops. `metric` is "l2" (l2Key) or "negcos"
    * (SemDedup.negGuardedCos).
    */
  private[graft] def rankCellsTwoLevel(base: DataFrame, groupArr: DataFrame,
      metric: String, coarseProbes: Int, probes: Int): DataFrame =
    base.crossJoin(broadcast(groupArr))
      .select(col("vec_id"),
        posexplode(graft.functions.RankFunctions.rank_cells_two_level(
          col("v"), col("nrm"), col("groups"), metric, coarseProbes, probes))
          .as(Seq("p0", "cid")))
      .select(col("vec_id"), (col("p0") + 1).as("crn"), col("cid"))

  /** Append the two-level argmin cell keeping every base column — the
    * training face (the per-step means need the row vector alongside
    * its cell). Empty codebook ≡ the oracle's empty rn=1 window (the
    * kernel's empty array → try_element_at null → filtered).
    */
  private[graft] def assignCellTwoLevel(base: DataFrame, groupArr: DataFrame,
      metric: String, outCol: String): DataFrame =
    base.crossJoin(broadcast(groupArr))
      .withColumn(outCol, try_element_at(
        graft.functions.RankFunctions.rank_cells_two_level(
          col("v"), col("nrm"), col("groups"), metric, 1, 1), lit(1)))
      .filter(col(outCol).isNotNull)
      .drop("groups")

  /** The trained-index front half shared by s20 (search) and s21
    * (recall audit): the persisted corpus and the persisted two-level
    * ranking (vec_id, crn, cid) — crn 1 is membership, 1..IvfProbes
    * the probe list.
    */
  private def trainedRanked(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (_, ranked) = sharedIndex(s, dir, split = false)
    (vecs(s, dir).persist(), ranked)
  }

  // ---- train ONCE per run: the shared index-artifact store -------------

  /** The d22/es24 arrival-split convention (`vec_id % 10` is the Δ),
    * defined once so the store's corpus-split population can never
    * drift from the queries that consume it.
    */
  private[graft] def isDeltaVec: Column = col("vec_id") % 10 === 0

  /** Train once, serve many: the trained chain —
    * codebook + the corpus's (vec_id, crn, cid) two-level ranking — is
    * built ONCE per (process, dir, population) and persisted through
    * the real [[IndexArtifact]] write path; every consumer loads the
    * stored artifact (Graph.materializedOnce's discipline — one bench
    * measured the identical deterministic chain retraining at 10 call
    * sites, ~35 s of the 268 s bench). Two populations, keyed apart:
    * the full corpus (s20/s21/s22/s23/s28/s29) and the d22-convention
    * corpus split (s23/s24/s30/s31/s32/es26/es29). The fingerprint key
    * (length+mtime) catches an input rewritten under the same path
    * within one process; ranks 1..[[IvfProbes]] are stored so probes=1
    * consumers just filter crn = 1 (the ranking is prefix-stable in
    * probe depth). Returns the artifact path.
    */
  private[graft] def sharedIndexPath(s: SparkSession, dir: String, split: Boolean): String = {
    val key = s"trained|$dir|$split|" +
      graft.core.Tables.fileFingerprint(s, s"$dir/embeddings.parquet")
    graft.core.ProcessStore.once(key) { p =>
      val pop = if (split) vecs(s, dir).filter(!isDeltaVec) else vecs(s, dir)
      val (base, gArr) = trainedGroupArray(pop)
      // ONE two-level ranking pass serves both faces of the index:
      // rank 1 is the membership cell, ranks 1..IvfProbes the probe
      // list — corpus×probes rows, written once, read by every
      // consumer with crn pushdown
      val ranked = rankCellsTwoLevel(base, gArr, "l2", KmSearchGroups, IvfProbes)
      IndexArtifact.write(s, p.getAbsolutePath, gArr, ranked, IvfProbes, KmSearchGroups)
      base.unpersist() // the build's training cache — consumers read parquet
    }
  }

  /** (codebook, ranking) loaded from the store — the consumer face. */
  private[graft] def sharedIndex(s: SparkSession, dir: String,
                                 split: Boolean): (DataFrame, DataFrame) =
    IndexArtifact.load(s, sharedIndexPath(s, dir, split), IvfProbes, KmSearchGroups)

  /** The membership leg of a stored ranking: crn = 1 is the cell the
    * quantizer assigned each corpus row to (parquet-pushdown cheap).
    */
  private[graft] def membershipOf(ranked: DataFrame): DataFrame =
    ranked.filter(col("crn") === 1).select(col("vec_id"), col("cid").as("cell"))

  /** The training half alone: persist the population, run the seed cut
    * + [[KmSteps]] Lloyd steps, and return (population, nested group
    * array of the TRAINED codebook). Factored from [[trainedRankedOf]]
    * so s24/es26 can train on the corpus and assign a DIFFERENT
    * population (the frozen-index ingest path).
    */
  private[graft] def trainedGroupArray(base0: DataFrame): (DataFrame, DataFrame) = {
    val base = base0.persist()
    // the ONE driver action: n drives K/Kc and both hash thresholds,
    // mirrored by the oracle's (SELECT count(*) FROM n) — d08's contract
    val n = base.count()
    val k  = SemDedup.cellCount(n)
    val kc = SemDedup.coarseCount(k)
    def seedHash(c: Column): Column =
      Sampling.hash60(concat(lit("km_"), c.cast("string")))
    def isCoarse(cid: Column): Column = seedHash(cid) < SemDedup.hashThreshold(kc, n)
    val seeds = base.filter(seedHash(col("vec_id")) < SemDedup.hashThreshold(k, n))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // each step's codebook is persisted: a K-row frame whose lineage is a
    // full corpus aggregate — groupArray reads it twice (coarse filter +
    // fine grouping), and without the cache each read re-runs the
    // corpus pass of every EARLIER step too (geometric re-evaluation).
    // Each step is FORCED as soon as it is built (its corpus aggregate
    // runs exactly once either way — forcing only moves the when), so
    // the superseded predecessor can be released on the spot instead of
    // pinning KmSteps codebooks for the query's whole lifetime (the
    // Graph `release` discipline; step 1's input is the unpersisted
    // `seeds` filter, which unpersist() no-ops on). Only the FINAL
    // codebook, `base`, and `ranked` stay cached for the query tail —
    // those are swept by Sessions.sweepPersistedState after the run.
    val trained = (1 to KmSteps).foldLeft(seeds) { (code, _) =>
      val next = meansCodebook(
        assignCellTwoLevel(base, groupArray(code, isCoarse, l2Key), "l2", "cell"),
        "cell").persist()
      next.count()
      code.unpersist()
      next
    }
    (base, groupArray(trained, isCoarse, l2Key))
  }

  /** Assign `rows` to the frozen trained index (membership only): the
    * same two-level rank-1 fold every trained-family query uses, so a
    * delta batch costs |Δ| row-local folds under one nested broadcast —
    * the cheap ingest path whose drift s23 monitors.
    */
  private[graft] def frozenAssign(rows: DataFrame, gArr: DataFrame): DataFrame =
    rankCellsTwoLevel(rows, gArr, "l2", KmSearchGroups, 1)
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))

  /** s20: IVF search over a TRAINED, CORPUS-SCALED quantizer — the full
    * composition of the module's training machinery: the codebook is
    * seeded by d08's corpus-scaled rule (K = max(16, ceil(n/64)) from
    * ONE count(), membership by salted hash60 threshold — a map-side
    * filter, no top-K heaps — [[SemDedup.cellCount]]/[[SemDedup.hashThreshold]],
    * one definition), trained for [[KmSteps]] Lloyd iterations (each:
    * two-level assignment → s10's exact-decimal means), then searched
    * s06-style: ONE two-level ranking pass — [[KmSearchGroups]] nearest
    * coarse groups, then the [[IvfProbes]] nearest fine cells inside
    * them — serves both faces of the index (rank 1 is the membership
    * cell, ranks 1..IvfProbes the probe list), and candidates re-score
    * exact-cosine top-5.
    *
    * Scale shape: every assignment — training, indexing, probing — is a
    * row-local fold under ONE nested broadcast (coarse groups → member
    * cells), so per-row work is O(√K) and the corpus NEVER shuffles
    * for assignment (no corpus×K rows exist anywhere, at corpus-scaled
    * K too). Each training step costs the corpus one (cid, pos) map-side-
    * combined aggregate; the search tail shuffles only the occupancy-
    * bounded candidate set (~IvfProbes·TargetCellRows rows per query
    * independent of corpus size, BECAUSE K scales with n).
    *
    * Determinism: seed/coarse membership are hash60-threshold integer
    * compares; distances are the s10 three-sum L2 over the shared fold;
    * every rank ties on the struct's cid/gid field == the oracle's
    * ORDER BY; means are exact-decimal sums divided once by counts.
    */
  private def s20(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = trainedRanked(s, dir)
    scoreTopK(cellCandidates(ranked, None), base, 5)
  }

  private def sqlL2(av: String, bv: String): String =
    s"(${sqlDot(av, av)} - 2.0 * ${sqlDot(av, bv)} + ${sqlDot(bv, bv)})"

  private def coarsePredSql(cidExpr: String, nn: String = "n"): String =
    s"${OracleSql.hex60(s"'km_' || CAST($cidExpr AS VARCHAR)")} < ${SemDedup.threshSql(SemDedup.kcSqlExprOn(nn), nn)}"

  /** One oracle Lloyd step (the mirror of [[groupArray]] +
    * [[assignCellTwoLevel]] + [[meansCodebook]]): coarse subset g$t of
    * the input codebook, fine→group map fa$t, row→group rg$t,
    * two-level cell a$t, exploded components px$t, means codebook c$t.
    * `nn` is the population CTE (s23 trains a second chain on a subset)
    * and `x` suffixes every CTE name so two chains can coexist.
    */
  private def kmStepSql(in: String, t: Int, nn: String = "n", x: String = ""): String =
    s"""g$t$x AS (SELECT cid AS gid, cv AS gv FROM $in WHERE ${coarsePredSql("cid", nn)}),
       |fa$t$x AS (SELECT cid, gid FROM (
       |  SELECT f.cid, g.gid,
       |    row_number() OVER (PARTITION BY f.cid ORDER BY ${sqlL2("f.cv", "g.gv")}, g.gid) AS rn
       |  FROM $in f CROSS JOIN g$t$x g) WHERE rn = 1),
       |rg$t$x AS (SELECT vec_id, gid FROM (
       |  SELECT $nn.vec_id, g.gid,
       |    row_number() OVER (PARTITION BY $nn.vec_id ORDER BY ${sqlL2(s"$nn.v", "g.gv")}, g.gid) AS rn
       |  FROM $nn CROSS JOIN g$t$x g) WHERE rn = 1),
       |a$t$x AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT r.vec_id, f.cid,
       |    row_number() OVER (PARTITION BY r.vec_id ORDER BY ${sqlL2("x.v", "f.cv")}, f.cid) AS rn
       |  FROM rg$t$x r JOIN $nn x ON r.vec_id = x.vec_id
       |    JOIN fa$t$x fm ON fm.gid = r.gid
       |    JOIN $in f ON f.cid = fm.cid) WHERE rn = 1),
       |px$t$x AS (SELECT a.cell, unnest(range(1, len($nn.v)+1)) AS pos,
       |    unnest(list_transform($nn.v, x -> CAST(x AS VARCHAR))) AS xs
       |  FROM $nn JOIN a$t$x a USING (vec_id)),
       |c$t$x AS (SELECT cell AS cid, list(mx ORDER BY pos) AS cv FROM (
       |  SELECT cell, pos, CAST(sum(CAST(xs AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx
       |  FROM px$t$x GROUP BY 1, 2) GROUP BY 1)""".stripMargin

  /** The codebook chain alone (seed cut c0 → Lloyd steps → final
    * codebook's coarse groups g / fine→group map fa) — the trained
    * index an arbitrary population can rank against.
    */
  private def codebookChainSql(nn: String, x: String): String = {
    val steps = (1 to KmSteps)
      .map(t => kmStepSql(if (t == 1) s"c0$x" else s"c${t - 1}$x", t, nn, x)).mkString(",\n")
    val fin = s"c$KmSteps$x"
    val t = KmSteps + 1
    s"""c0$x AS (SELECT vec_id AS cid, v AS cv FROM $nn
       |  WHERE ${OracleSql.hex60("'km_' || CAST(vec_id AS VARCHAR)")} < ${SemDedup.threshSql(SemDedup.kSqlExprOn(nn), nn)}),
       |$steps,
       |g$t$x AS (SELECT cid AS gid, cv AS gv FROM $fin WHERE ${coarsePredSql("cid", nn)}),
       |fa$t$x AS (SELECT cid, gid FROM (
       |  SELECT f.cid, g.gid,
       |    row_number() OVER (PARTITION BY f.cid ORDER BY ${sqlL2("f.cv", "g.gv")}, g.gid) AS rn
       |  FROM $fin f CROSS JOIN g$t$x g) WHERE rn = 1)""".stripMargin
  }

  /** The population-ranking stanzas (coarse cut pg → two-level prall,
    * ranks 1..[[IvfProbes]]) for `pop` against the `x`-suffixed chain;
    * `y` further suffixes the stanza names so TWO populations can rank
    * against ONE trained chain (s30/es29's serving shape: the corpus
    * provides membership, the arrivals provide probe lists).
    */
  private def rankStanzaSql(pop: String, x: String, y: String): String = {
    val fin = s"c$KmSteps$x"
    val t = KmSteps + 1
    s"""pg$x$y AS (SELECT vec_id, gid FROM (
       |  SELECT $pop.vec_id, g.gid,
       |    row_number() OVER (PARTITION BY $pop.vec_id ORDER BY ${sqlL2(s"$pop.v", "g.gv")}, g.gid) AS rn
       |  FROM $pop CROSS JOIN g$t$x g) WHERE rn <= $KmSearchGroups),
       |prall$x$y AS (SELECT vec_id, cid, rn FROM (
       |  SELECT r.vec_id, f.cid,
       |    row_number() OVER (PARTITION BY r.vec_id ORDER BY ${sqlL2("x.v", "f.cv")}, f.cid) AS rn
       |  FROM pg$x$y r JOIN $pop x ON r.vec_id = x.vec_id
       |    JOIN fa$t$x fm ON fm.gid = r.gid
       |    JOIN $fin f ON f.cid = fm.cid) WHERE rn <= $IvfProbes)""".stripMargin
  }

  /** The full trained-pipeline CTE chain (seed cut → Lloyd steps → index
    * membership aidx / probe list pr → candidate scores sc) — shared by
    * s20's top-5 tail and s21's recall tail.
    */
  private def s20CtesOn(nn: String, x: String, assignPop: String = null): String = {
    // `nn` trains the codebook; `ap` (defaults to nn) is the population
    // the pg/prall/aidx/sc stanzas rank against it — s24/es26 train on
    // the corpus and assign the delta
    val ap = Option(assignPop).getOrElse(nn)
    s"""${codebookChainSql(nn, x)},
       |${rankStanzaSql(ap, x, "")},
       |aidx$x AS (SELECT vec_id, cid AS cell FROM prall$x WHERE rn = 1),
       |pr$x AS (SELECT vec_id AS qid, cid AS cell FROM prall$x),
       |cnd$x AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM pr$x p JOIN aidx$x a USING (cell)
       |  WHERE p.qid <> a.vec_id),
       |${scoreSql(s"sc$x", s"cnd$x", ap, ap)}""".stripMargin
  }

  private lazy val s20Ctes = s"$oracleVecs,\n" + s20CtesOn("n", "")

  /** Full structural mirror of the trained pipeline: seed threshold cut,
    * [[KmSteps]] Lloyd step CTE blocks, then index membership (aidx),
    * the [[KmSearchGroups]]×[[IvfProbes]] two-level probe list (pg/pr),
    * candidates, exact re-score, top-5.
    */
  private lazy val s20Sql =
    s"""WITH $s20Ctes
       |${topSql("sc")}""".stripMargin

  /** s21: recall@5 audit of the TRAINED corpus-scaled index — s12's
    * contract (fixed [[RecallQueries]]-query batch, per-query k /
    * n_hits / recall, worst queries attributable) run against s20's
    * quantizer instead of s03's LSH planes. This is the number an
    * index-training loop actually watches: s16 says whether k-means
    * converged, s17 where distortion lives, THIS says what the search
    * quality is — rebuild/retrain decisions trade its recall against
    * s14-style cell balance.
    *
    * Scale shape: the exact leg is [[exactTopK]] over batch × corpus
    * (linear — the s12 lesson); the ANN leg probes ONLY the batch
    * queries against the shared persisted ranking (the s20 front half,
    * computed once) through [[cellCandidates]] and [[scoreTopK]], so the
    * audit adds a batch-bounded candidate join, never a second corpus
    * pass. Batch salt "trc_".
    */
  private def s21(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = trainedRanked(s, dir)
    val sampled = queryBatch(base, "trc_", RecallQueries)
    // persisted: the recall tail reads the exact leg TWICE (hit join +
    // per-query k), and unlike s12's cheap LSH sibling the recompute
    // here is the batch × corpus object-aggregation pass — the 320-row
    // top-5 result caches instead (bench: the double evaluation was
    // the query's whole variance budget)
    val exact = exactTopK(qLeg(sampled), nLeg(base), 5).persist()
    // the trained index's own answer, probing only the batch queries
    val ann = scoreTopK(cellCandidates(ranked, Some(sampled.select(col("vec_id")))), base, 5)
      .select(col("qid"), col("nid"))
    recall(exact, ann)
  }

  /** Oracle: the LITERAL s20 CTE chain (so a hash match re-certifies
    * the whole trained pipeline) + s12's exact-leg and recall tail cut
    * to the "trc_" batch.
    */
  private lazy val s21Sql =
    s"""WITH $s20Ctes,
       |${smpSql("n", "trc_")},
       |${exSql("n", "n", "a.vec_id <> b.vec_id")},
       |$annSql,
       |${recallSql("ann")}""".stripMargin

  // ---- s28: filtered search through the TRAINED index ------------------

  /** s28: s18's metadata predicate composed with s20's trained-IVF
    * probe — the production vector-store default ("nearest neighbors
    * WHERE label = ?") run against the corpus-scaled trained quantizer
    * instead of s18's flat scan. The predicate rides IN the search:
    * the candidate join matches on (cell, label) TOGETHER, so a corpus
    * row whose label disagrees with the query's never reaches the
    * distance work — in-search filtering, not post-filtering (which
    * under-fills top-k under selective predicates), and never a
    * post-scoring Filter (PlanSpec pins the shape).
    *
    * Scale shape: s20's exactly — training/membership/probing are
    * row-local folds under the one nested broadcast; the label join
    * adds one broadcast-joined corpus column; per-query candidates
    * shrink by the label's selectivity (~1/|labels| here) BEFORE
    * scoring. The query batch is a [[FqQueries]]-row md5-order sample
    * (salt "fts_", independent of every other batch salt).
    *
    * Determinism: the trained chain is s20's (hash-threshold seeds,
    * shared L2 fold, cid ties); the batch cut ties on md5; the top-5
    * ties on (sim DESC, nid) — all mirrored verbatim in the oracle,
    * which splices the LITERAL s20 CTE chain so a hash match
    * re-certifies the whole composition.
    */
  private def s28(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = trainedRanked(s, dir)
    val labels = vecsWithLabel(s, dir).select(col("vec_id").as("nid"), col("label"))
    val q = queryBatch(vecsWithLabel(s, dir), "fts_", FqQueries).select(col("vec_id"), col("label"))
    // the filter IS a join key: (cell, label) equi-join, so non-matching
    // corpus rows never pay a dot product
    scoreTopK(cellCandidates(ranked, Some(q), _.join(labels, "nid")), base, 5)
  }

  /** Oracle: the literal s20 CTE chain + the label leg and batch cut —
    * candidates must match the probe cell AND the query's label before
    * any similarity is computed, exactly as the Spark join does.
    */
  private lazy val s28Sql =
    s"""WITH $s20Ctes,
       |lb AS (SELECT vec_id, label FROM embeddings),
       |qb AS (
       |  SELECT n.vec_id AS qid, l.label AS qlabel
       |  FROM n JOIN lb l ON n.vec_id = l.vec_id
       |  ORDER BY md5('fts_' || CAST(n.vec_id AS VARCHAR)) LIMIT $FqQueries),
       |cf AS (
       |  SELECT q.qid, a.vec_id AS nid
       |  FROM qb q
       |  JOIN pr p ON p.qid = q.qid
       |  JOIN aidx a ON a.cell = p.cell
       |  JOIN lb bl ON bl.vec_id = a.vec_id AND bl.label = q.qlabel
       |  WHERE q.qid <> a.vec_id),
       |${scoreSql("scf", "cf", "n", "n")}
       |${topSql("scf")}""".stripMargin

  // ---- s29: tombstone-aware search through the TRAINED index -----------

  /** s29: s19's deletions composed with s20's trained-IVF probe — the
    * OTHER production serving predicate, same composition discipline as
    * s28's label filter. The index was trained and membership assigned
    * BEFORE the erasure sweep (the serving reality s19 names: tombstoned
    * entries sit in the index until the next rebuild), so the trained
    * chain is s20's VERBATIM over the full corpus; the exclusion rides
    * the INDEX leg of the candidate join — a membership row whose
    * vec_id is tombstoned never becomes a candidate, so deleted vectors
    * never pay distance work and can never resurface in a result list
    * (in-search exclusion, not post-filtering, which under-fills top-k
    * near heavily-deleted cells). Queries are a [[FqQueries]]-row
    * md5-order batch drawn from LIVE rows only (a deleted vector does
    * not query).
    *
    * Scale shape: s20's exactly; the exclusion is s19's row-local hash
    * predicate standing in for the deletion-request table (the p21
    * contract) — with a real table it becomes a broadcast anti-join at
    * the same spot (requests ≪ corpus), either way composed before any
    * similarity is computed. The query batch salt ("ttq_") is
    * independent of every other batch salt.
    *
    * Determinism: the trained chain is s20's (hash-threshold seeds,
    * shared L2 fold, cid ties); the tombstone cohort is the exact
    * integer uhash compare; the batch cut ties on md5; the top-5 ties
    * on (sim DESC, nid) — all mirrored verbatim in the oracle, which
    * splices the LITERAL s20 CTE chain.
    */
  private def s29(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = trainedRanked(s, dir)
    def isLive(c: Column): Column = Sampling.uhash("del_", c) >= DelFrac
    val q = queryBatch(base.filter(isLive(col("vec_id"))), "ttq_", FqQueries).select(col("vec_id"))
    // the tombstone check rides the index leg, BEFORE candidates exist
    scoreTopK(cellCandidates(ranked, Some(q), _.filter(isLive(col("nid")))), base, 5)
  }

  /** Oracle: the literal s20 CTE chain + the live predicate on BOTH the
    * query batch and the index membership leg, exactly where the Spark
    * joins place them.
    */
  private lazy val s29Sql =
    s"""WITH $s20Ctes,
       |qb AS (
       |  SELECT vec_id AS qid FROM n
       |  WHERE ${Sampling.uhashSql("del_", "vec_id")} >= $DelFrac
       |  ORDER BY md5('ttq_' || CAST(vec_id AS VARCHAR)) LIMIT $FqQueries),
       |ct AS (
       |  SELECT q.qid, a.vec_id AS nid
       |  FROM qb q
       |  JOIN pr p ON p.qid = q.qid
       |  JOIN aidx a ON a.cell = p.cell
       |  WHERE ${Sampling.uhashSql("del_", "a.vec_id")} >= $DelFrac
       |    AND q.qid <> a.vec_id),
       |${scoreSql("sct", "ct", "n", "n")}
       |${topSql("sct")}""".stripMargin

  // ---- s11: IVF range (radius) search ---------------------------------

  private val RsCells   = 16   // coarse cells (md5-order sample, s06 contract)
  private val RsProbes  = 4    // cells probed per query
  private val RsQueries = 32   // fixed query batch (salted md5-order sample)
  private val RsTau     = 0.25 // cosine radius

  /** s11: range (radius) search — the OTHER vector-store query shape:
    * not "the k nearest" (s03/s06/s08) but "EVERY neighbor with cosine
    * >= [[RsTau]]" for a query batch, the primitive behind
    * duplicate-radius audits and recall-at-threshold evaluations where
    * the answer set's SIZE is the signal and a top-k cut would bias it.
    * IVF-pruned: each corpus vector is assigned to its nearest of
    * [[RsCells]] coarse cells, a query probes its [[RsProbes]] nearest
    * cells, and only vectors in probed cells are scored exactly.
    *
    * Scale shape: ZERO corpus shuffles. The centroid sample rides one
    * broadcast row holding a cid-sorted array (the s10 contract), so
    * cell assignment is a row-local argmax fold — no corpus x K row
    * explosion, no window; the probe list (RsQueries x RsProbes rows)
    * and the query vectors (RsQueries rows) are LIMIT-capped broadcasts
    * into the corpus stream. The whole query is one pass over the
    * corpus: scan -> row-local assign -> two broadcast hash joins ->
    * filter; output is bounded by the probed-cell occupancy, which
    * nprobe/K tunes.
    *
    * Determinism: csim and sim are the shared left-to-right dot fold
    * over double-cast vectors divided by norms (> 0 by the vecs()
    * filter), bit-identical to the oracle's list_sum mirror, so the
    * `>= RsTau` cut and the argmax's first-min-hitting-entry tiebreak
    * (cid-sorted array == ORDER BY csim DESC, cid) cannot diverge.
    */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir).persist() // feeds centroid sample, query batch, corpus stream
    val cents = cosCents(base, RsCells)
    val centArr = centArray(cents, col("cid"), col("cv"), col("cnrm"))
    // row-local nearest-cell assignment, carrying the vector for the
    // exact re-score so candidates never have to re-join the corpus
    val assign = assignCell(base, centArr, cosKey, "cell")
      .select(col("vec_id").as("nid"), col("v").as("vb"), col("nrm").as("nb"), col("cell"))
    // SALTED query sample: independent of the centroid sample's md5
    // order, so the batch is not just the centroids themselves
    val qids = queryBatch(base.select(col("vec_id")), "rsq_", RsQueries)
    val qv = qLeg(base.join(broadcast(qids), "vec_id"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cid"))
    val probes = qv.crossJoin(broadcast(cents)) // RsQueries x RsCells rows
      .select(col("qid"), col("cid"),
        (dot(col("va"), col("cv")) / (col("na") * col("cnrm"))).as("csim"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= RsProbes)
      .select(col("qid"), col("cid").as("cell"))
    assign.join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("nid"))
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("nid"), pairCos)
      .filter(col("sim") >= RsTau)
  }

  /** Oracle: full stage mirror — same centroid sample, the window-rank
    * assignment equivalent of the Spark side's array-argmax (bit-equal
    * csims make ORDER BY csim DESC, cid pick the same cell), same salted
    * query batch, probe list, exact re-score, and radius cut.
    */
  private val s11Sql =
    s"""WITH $oracleVecs,
       |${ivfAssignCtes(RsCells)},
       |q AS (
       |  SELECT vec_id FROM n
       |  ORDER BY md5('rsq_' || CAST(vec_id AS VARCHAR)) LIMIT $RsQueries),
       |probes AS (
       |  SELECT rk.vec_id AS qid, rk.cid AS cell
       |  FROM rk JOIN q USING (vec_id) WHERE crn <= $RsProbes),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE p.qid <> a.vec_id)
       |SELECT * FROM (
       |  SELECT c.qid, c.nid,
       |    ${sqlCos("x", "y")} AS sim
       |  FROM cand c JOIN n x ON c.qid = x.vec_id JOIN n y ON c.nid = y.vec_id)
       |WHERE sim >= $RsTau""".stripMargin

  // ---- s12: ANN recall audit ------------------------------------------

  private val RecallQueries = 64 // fixed audit batch — NOT a corpus fraction

  /** s12: recall@5 audit of the s03 LSH index against exact search, on a
    * deterministic FIXED-SIZE query batch — the operator a production
    * ANN deployment runs after every index build: "is the index still
    * finding what brute force finds?". The fixed batch is the whole
    * point of the scale shape: exact search runs batch × corpus (64·n,
    * linear — a FRACTIONAL sample would make the audit (n/c)·n, i.e.
    * quadratic again, which the first cut of this operator got wrong and
    * the 10× tripwire caught), and the ANN side is the index's own
    * candidate pipeline cut to the batch queries. Composes
    * [[queryBatch]] (salt "rec_"), [[exactTopK]] and [[recall]]; the
    * corpus-wide mean is one trivial aggregation the consumer runs.
    */
  private def s12(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir).persist()
    val sampled = qLeg(queryBatch(base, "rec_", RecallQueries))
    // the index's answer, cut to the sampled queries
    val ann = s03(s, dir).select(col("qid"), col("nid"))
      .join(sampled.select(col("qid")), Seq("qid"))
    recall(exactTopK(sampled, nLeg(base), 5), ann)
  }

  /** Oracle: exact side is the sample × corpus top-5 (s01's formula with
    * the sample predicate); ANN side is the full s03 pipeline mirror cut
    * to the sample; recall joins the two — so a hash match re-certifies
    * every s03 stage AND the recall arithmetic in one query.
    */
  private val s12Sql =
    s"""WITH $oracleVecs,
       |${smpSql("n", "rec_")},
       |${exSql("n", "n", "a.vec_id <> b.vec_id")},
       |$lshCtes,
       |$annSql,
       |${recallSql("ann")}""".stripMargin

  // ---- s13: embedding ingest audit ------------------------------------

  /** Fixed-point scale for the quantized norm² sum: floor(nrm² · 2²⁰) is
    * exact integer arithmetic on a bit-identical double, so the per-label
    * SUM is order-independent where a double sum is not.
    */
  private val NormQ = 1L << 20

  /** s13: embedding-quality ingest audit — the validation gate an ANN
    * index build runs BEFORE trusting a vector column: per label,
    * vector count, wrong-dimension count, zero-norm count, min/max norm,
    * and a fixed-point-exact norm² sum (magnitude drift detector). Every
    * s0x op silently assumes dim-64 nonzero vectors (vecs() filters
    * nrm > 0); this op COUNTS the violations instead of hiding them, so
    * a bad producer is caught at ingest rather than as a recall cliff.
    *
    * Determinism: norm² is the shared left-to-right vec_dot fold over
    * double-cast floats (bit-identical cross-engine, the s01/s03 rule);
    * min/max over identical doubles are exact; the only aggregate SUM
    * runs on floor(nrm² · 2²⁰) — exact longs, order-independent —
    * because a double norm sum would be arrival-order-dependent and the
    * s04 float→string→decimal trick only round-trips FLOAT reprs, not
    * the 17-digit doubles a norm is.
    *
    * Scale shape: one row-local scan projection + one hash aggregate on
    * label — linear, no joins, no broadcasts; the audit costs one pass
    * at any corpus size.
    */
  private def s13(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"),
        size(col("embedding")).as("dim"),
        graft.functions.VectorFunctions.vec_dot(
          transform(col("embedding"), x => x.cast("double")),
          transform(col("embedding"), x => x.cast("double"))).as("nsq"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= Dim, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("nsq") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        min(sqrt(col("nsq"))).as("min_norm"),
        max(sqrt(col("nsq"))).as("max_norm"),
        sum(floor(col("nsq") * NormQ).cast("long")).as("nsq_q20_sum"))

  private val s13Sql =
    s"""WITH e AS (
       |  SELECT label, CAST(len(embedding) AS INTEGER) AS dim,
       |    list_sum(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |      x -> x * x)) AS nsq
       |  FROM embeddings)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN dim <> $Dim THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
       |  CAST(sum(CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       |  min(sqrt(nsq)) AS min_norm,
       |  max(sqrt(nsq)) AS max_norm,
       |  CAST(sum(CAST(floor(nsq * $NormQ) AS BIGINT)) AS BIGINT) AS nsq_q20_sum
       |FROM e GROUP BY 1""".stripMargin

  // ---- s14: IVF index-balance audit -----------------------------------

  /** s14: IVF cell-balance audit — the index-quality report an ANN
    * deployment reads before trusting its probe budget: per coarse cell
    * (the s06 centroid contract), the assigned vector count INCLUDING
    * empty cells (a dead cell wastes every probe that lands on it), the
    * corpus share, the multiple-of-average load, and a ≥4×-average hot
    * flag (a hot cell makes every probe touching it scan far more than
    * n/K candidates — the signal to retrain centroids or split cells).
    * Completes the ANN audit trio: s12 measures recall, s13 input
    * quality, s14 index balance.
    *
    * Scale shape: the s10/s11 contract — centroids ride ONE broadcast
    * row as a cid-sorted array, assignment is a row-local argmax fold
    * (no corpus×K explosion, no vec_id window), and the only corpus-fed
    * exchange is the per-cell count aggregate; totals ride a 1-row
    * broadcast (p11 contract).
    */
  private def s14(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir).persist()
    val cents = cosCents(base, IvfCells)
    val centArr = centArray(cents, col("cid"), col("cv"), col("cnrm"))
    val assign = assignCell(base, centArr, cosKey, "cell").select(col("cell"))
    val byCell = assign.groupBy(col("cell")).agg(count(lit(1)).as("nv"))
    val full = cents.select(col("cid").as("cell"))
      .join(byCell, Seq("cell"), "left_outer")
      .select(col("cell"), coalesce(col("nv"), lit(0L)).as("n_vecs"))
    val tot = full.groupBy().agg(sum(col("n_vecs")).as("tot"))
    val xAvg = (col("n_vecs").cast("double") * lit(IvfCells.toDouble)) /
      col("tot").cast("double")
    full.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("tot").cast("double")).as("share"),
        xAvg.as("x_avg"),
        (xAvg > lit(4.0)).as("is_hot"))
  }

  private val s14Sql =
    s"""WITH $oracleVecs,
       |${ivfAssignCtes(IvfCells)},
       |bc AS (SELECT cell, count(*) AS nv FROM assign GROUP BY 1),
       |fc AS (
       |  SELECT c.cid AS cell, CAST(coalesce(bc.nv, 0) AS BIGINT) AS n_vecs
       |  FROM c LEFT JOIN bc ON bc.cell = c.cid),
       |tot AS (SELECT sum(n_vecs) AS tot FROM fc)
       |SELECT cell, n_vecs,
       |  CAST(n_vecs AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
       |  (CAST(n_vecs AS DOUBLE) * $IvfCells.0) / CAST(tot AS DOUBLE) AS x_avg,
       |  ((CAST(n_vecs AS DOUBLE) * $IvfCells.0) / CAST(tot AS DOUBLE)) > 4.0 AS is_hot
       |FROM fc CROSS JOIN tot""".stripMargin

  // ---- s15: cross-split leakage audit ---------------------------------

  /** s15: train/test LEAKAGE audit at the EMBEDDING level — near-dup
    * pairs (the s05 bucketed pipeline, verbatim) whose members land in
    * DIFFERENT p03 splits: a test document semantically near-identical
    * to a training document inflates eval scores exactly like the
    * verbatim n-gram contamination d11 catches, but survives n-gram
    * checks after paraphrase. The split is THE p03 rule (same salt, same
    * thresholds — [[Sampling.uhash]]/[[Sampling.splitOf]], defined
    * once), keyed on vec_id, which shares the documents' id domain
    * (m04's record-assembly contract). Output: each leaking pair with
    * its similarity and the two split labels — the rows a release gate
    * either quarantines or re-splits.
    *
    * Scale shape: inherited wholesale from s05 (bucket equi-join, never
    * all-pairs) plus two hash joins against the row-local split
    * projection. The oracle composes the literal s05 CTE block with the
    * p03 split CASE — the p13 rule, so the stages cannot drift.
    */
  private def s15(s: SparkSession, dir: String): DataFrame = {
    val pairs = bucketedNearDup(s, vecs(s, dir),
      NearDupPlanes, NearDupTables, NearDupThreshold)
    val splits = Tables.embeddings(s, dir).select(col("vec_id"),
      Sampling.splitOf(Sampling.uhash("split_", col("vec_id"))).as("split"))
    pairs
      .join(splits.select(col("vec_id").as("ida"), col("split").as("split_a")), "ida")
      .join(splits.select(col("vec_id").as("idb"), col("split").as("split_b")), "idb")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("ida"), col("idb"), col("sim"), col("split_a"), col("split_b"))
  }

  private val s15Sql =
    s"""WITH $oracleVecs,
       |$s05Ctes,
       |sp AS (
       |  SELECT vec_id, ${Sampling.splitCaseSql} AS split
       |  FROM (SELECT vec_id, ${Sampling.uhashSql("split_", "vec_id")} AS u FROM embeddings))
       |SELECT v.ida, v.idb, v.sim, sa.split AS split_a, sb.split AS split_b
       |FROM verified v
       |JOIN sp sa ON v.ida = sa.vec_id
       |JOIN sp sb ON v.idb = sb.vec_id
       |WHERE sa.split <> sb.split""".stripMargin

  // ---- s19: tombstone-aware (deletion-filtered) search ----------------

  private val TsQueries = 32   // fixed query batch (salted md5-order sample)
  private val DelFrac   = 0.05 // deterministic tombstone cohort share

  /** s19: tombstone-aware top-k — ANN under DELETIONS, the vector-store
    * serving reality s01–s18 ignore: after an erasure sweep (p21's
    * right-to-be-forgotten, applied here to vectors) the index still
    * holds tombstoned entries until the next rebuild, and every query
    * must exclude them AT SEARCH TIME or deleted content resurfaces.
    * Top-5 exact cosine for a 32-query batch over the live corpus only;
    * the tombstone set is a deterministic uhash cohort standing in for
    * the deletion-request table (the p21 contract).
    *
    * Scale shape: exclusion is a row-local hash predicate here; with a
    * real deletion table it becomes a broadcast ANTI-join at the scan —
    * either way it composes BEFORE scoring, so deleted vectors never
    * pay distance work. Query batch LIMIT-capped onto one broadcast
    * (the s07 contract), corpus streams, TopKNeighbors keeps ≤k rows
    * per query crossing the shuffle.
    */
  private def s19(s: SparkSession, dir: String): DataFrame = {
    val live = vecs(s, dir).filter(Sampling.uhash("del_", col("vec_id")) >= DelFrac)
    exactTopK(broadcast(qLeg(queryBatch(live, "tq_", TsQueries))), nLeg(live), 5)
  }

  private val s19Sql =
    s"""WITH $oracleVecs,
       |live AS (SELECT * FROM n
       |  WHERE ${Sampling.uhashSql("del_", "vec_id")} >= $DelFrac),
       |q AS (
       |  SELECT vec_id AS qid, v AS vq, nrm AS nq FROM live
       |  ORDER BY md5('tq_' || CAST(vec_id AS VARCHAR)) LIMIT $TsQueries),
       |p AS (
       |  SELECT q.qid, c.vec_id AS nid,
       |    ${sqlDot("q.vq", "c.v")} / (q.nq * c.nrm) AS sim
       |  FROM q CROSS JOIN live c WHERE q.qid <> c.vec_id)
       |${topSql("p")}""".stripMargin

  /** s22: IVF-PQ — the full production ANN index, composed from parts
    * the gate already certifies one by one: the TRAINED corpus-scaled
    * coarse quantizer (s20's [[trainedRanked]]) prunes the corpus to
    * each query's probed cells; stage 1 ranks ONLY those candidates by
    * asymmetric distance over the 8-byte PQ codes (s08's encode +
    * tables, raw-vector variant — FAISS `IndexIVFPQ` with
    * `by_residual=false`); stage 2 re-scores the top-[[PqShort]]
    * shortlist with exact cosine (s09's refine). This is the index
    * architecture a 100 TB deployment actually serves: the coarse
    * index bounds WHAT is scanned, PQ bounds the BYTES per scanned
    * candidate, the refine pass bounds the error — and each knob is
    * audited by its own sibling entry (s14 balance, s17 distortion,
    * s21 recall).
    *
    * Scale shape: assignment/probing are the s20 row-local fold (zero
    * corpus exchanges at any K); the candidate set is occupancy-
    * bounded (~IvfProbes · cell size per query); ADC fetches candidate
    * codes by equi-join (the corpus-side codes stream — only the
    * [[PqQueries]]-row table set broadcasts); the exact pass touches
    * PqQueries × PqShort vectors, a constant. No stage ever
    * materializes corpus×K rows or an un-broadcast product.
    *
    * Determinism: every float reduction is the shared left-to-right
    * fold (encode distances, table entries, the PqM-lookup ADC sum,
    * the refine cosine); every rank ties on the id column. The oracle
    * splices the literal s20 CTE chain with the literal PQ CTE block —
    * a hash match certifies the COMPOSITION, training through refine.
    */
  private def s22(s: SparkSession, dir: String): DataFrame = {
    val (base, ranked) = trainedRanked(s, dir)
    val (centSub, codes) = pqParts(base)
    val qids = pqQids(base)
    val tbl = adcTables(base, centSub, qids)
    val cand = cellCandidates(ranked, Some(qids))
      .select(col("qid").as("query_id"), col("nid").as("cand_id"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("cand_id"))
    val short = cand
      .join(codes.select(col("vec_id").as("cand_id"), col("codes")), "cand_id")
      .join(broadcast(tbl), "query_id")
      .select(col("query_id"), col("cand_id"), adcScore.as("adc"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= PqShort)
      .select(col("query_id"), col("cand_id"))
    val qv = base
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(qids.select(col("vec_id").as("query_id"))), "query_id")
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    short
      .join(base.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn")), "cand_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("cand_id").as("vec_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rk", row_number().over(w2).cast("long"))
      .filter(col("rk") <= RerankK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** The composed mirror: the whole trained-IVF chain (c22 restricts
    * its candidate CTE to the PQ query batch), the whole PQ encode
    * block, then ADC-over-candidates → shortlist → exact refine.
    */
  private lazy val s22Sql =
    s"""WITH $s20Ctes,
       |$pqCodeCtes,
       |c22 AS (
       |  SELECT qid AS query_id, nid AS cand_id FROM cnd
       |  WHERE qid IN (SELECT vec_id FROM qids)),
       |adcs AS (
       |  SELECT c.query_id, c.cand_id,
       |    list_sum(list_transform(range(0, $PqM),
       |      j -> t.tbl[j * $PqK + cd.codes[j + 1] + 1])) AS adc
       |  FROM c22 c JOIN codes cd ON cd.vec_id = c.cand_id
       |  JOIN tbl t ON t.query_id = c.query_id),
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS rn
       |    FROM adcs) WHERE rn <= $PqShort),
       |rr AS (
       |  SELECT s.query_id, s.cand_id,
       |    ${sqlCos("x", "y")} AS sim
       |  FROM short s JOIN n x ON x.vec_id = s.query_id JOIN n y ON y.vec_id = s.cand_id)
       |SELECT query_id, rk, vec_id, sim FROM (
       |  SELECT query_id, cand_id AS vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rk
       |  FROM rr) WHERE rk <= $RerankK""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("s01_cosine_knn", s01, Some(s01Sql)),
    QueryDef("s02_cosine_neardup", s02, Some(s02Sql)),
    QueryDef("s03_ann_lsh", s03, Some(s03Sql)),
    QueryDef("s04_label_centroid", s04, Some(s04Sql)),
    QueryDef("s05_bucketed_neardup", s05, Some(s05Sql)),
    QueryDef("s06_ann_ivf", s06, Some(s06Sql)),
    QueryDef("s07_quantized_knn", s07, Some(s07Sql)),
    QueryDef("s08_pq_ann", s08, Some(s08Sql)),
    QueryDef("s09_two_stage_ann", s09, Some(s09Sql)),
    QueryDef("s10_kmeans_step", s10, Some(s10Sql)),
    QueryDef("s11_range_search", s11, Some(s11Sql)),
    QueryDef("s12_ann_recall", s12, Some(s12Sql)),
    QueryDef("s13_embedding_audit", s13, Some(s13Sql)),
    QueryDef("s14_ivf_balance", s14, Some(s14Sql)),
    QueryDef("s15_split_leakage", s15, Some(s15Sql)),
    QueryDef("s16_kmeans_converge", s16, Some(s16Sql)),
    QueryDef("s17_quantization_error", s17, Some(s17Sql)),
    QueryDef("s18_filtered_search", s18, Some(s18Sql)),
    QueryDef("s19_tombstone_search", s19, Some(s19Sql)),
    QueryDef("s20_trained_ivf", s20, Some(s20Sql)),
    QueryDef("s21_trained_recall", s21, Some(s21Sql)),
    QueryDef("s22_ivfpq_search", s22, Some(s22Sql)),
    QueryDef("s23_index_maintenance", s23, Some(s23Sql)),
    QueryDef("s24_frozen_assign", s24, Some(s24Sql)),
    QueryDef("s25_hybrid_rrf", s25, Some(s25Sql)),
    QueryDef("s26_cluster_cards", s26, Some(s26Sql)),
    QueryDef("s27_mined_pairs", s27, Some(s27Sql)),
    QueryDef("s28_filtered_trained", s28, Some(s28Sql)),
    QueryDef("s29_tombstone_trained", s29, Some(s29Sql)),
    QueryDef("s30_serve_arrivals", s30, Some(s30Sql)),
    QueryDef("s31_serving_recall", s31, Some(s31Sql)),
    QueryDef("s32_artifact_serve", s32, Some(s30Sql)),
    QueryDef("s33_index_publish", s33, Some(s33Sql)),
    QueryDef("s34_generation_serve", s34, Some(s30Sql)),
    QueryDef("s35_maintain_append", s35, Some(s33Sql)),
    QueryDef("s36_maintain_retrain", s36, Some(s36Sql)),
  )

  // ---- s24: frozen-index delta assignment (the cheap ingest path) -----

  /** s24: the day's arrivals assigned to the FROZEN corpus-trained
    * index — the production ingest path between retrains (d13/d22's
    * analogue for the trained index): the codebook trains on the corpus
    * split, then every delta row takes ONE two-level rank-1 fold under
    * the nested broadcast — per-arrival work O(√K), no corpus
    * exchange, no retraining. s23 is the monitor that decides when this
    * path's drift justifies a retrain; THIS is the path it protects.
    * (A deployment trains the codebook once and stores it; the gate
    * retrains per run only because it is stateless — the Δ-proportional
    * claim is about the ASSIGNMENT stage.)
    *
    * Oracle: the parameterized s20 chain — codebook CTEs on the corpus
    * subset, assignment stanzas over the delta subset — so the hash
    * match certifies training and frozen assignment end to end. The
    * live twin is es26 (same oracle, micro-batched arrivals).
    */
  private def s24(s: SparkSession, dir: String): DataFrame = {
    val (gArr, _) = sharedIndex(s, dir, split = true)
    frozenAssign(vecs(s, dir).filter(isDeltaVec), gArr)
  }

  private[graft] lazy val s24Sql =
    s"""WITH $oracleVecs,
       |nc AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |nd AS (SELECT * FROM n WHERE vec_id % 10 = 0),
       |${s20CtesOn("nc", "_c", "nd")}
       |SELECT vec_id, cell FROM aidx_c""".stripMargin

  // ---- s30: serve the arrivals through the frozen index ---------------

  /** The tombstone-filtered serving INDEX: corpus membership under the
    * frozen codebook (s24's rank-1 fold), dead entries dropped, the
    * member vectors carried alongside so serving never re-joins the
    * corpus. This is the table a serving node actually holds, built
    * once per index generation.
    */
  private[graft] def liveIndex(corpus: DataFrame, gArr: DataFrame): DataFrame =
    liveIndexFrom(corpus, frozenAssign(corpus, gArr))

  /** [[liveIndex]] from an ALREADY-ASSIGNED membership frame (vec_id,
    * cell) — the stored-artifact path: the store's crn=1 leg replaces
    * the in-plan assignment fold, so serving never re-ranks the corpus.
    */
  private[graft] def liveIndexFrom(corpus: DataFrame, membership: DataFrame): DataFrame =
    membership
      .filter(Sampling.uhash("del_", col("vec_id")) >= DelFrac)
      .join(corpus.select(col("vec_id"), col("v").as("vb"), col("nrm").as("nb")), "vec_id")
      .select(col("vec_id").as("nid"), col("cell"), col("vb"), col("nb"))

  /** One serving pass: each query row takes the two-level probe fold
    * (row-local, O(√K) under the frozen broadcast), candidates come
    * from the cell-keyed [[liveIndex]] equi-join (occupancy-bounded)
    * already carrying the member vectors, and [[topK]] re-scores and
    * ranks them (top-5, ties on nid). Shared verbatim by the
    * s30 batch entry and es29's per-micro-batch transform, so the live
    * twin cannot drift from the gated semantics.
    */
  private[graft] def serveBatch(qs: DataFrame, index: DataFrame, gArr: DataFrame): DataFrame = {
    val probes = rankCellsTwoLevel(qs, gArr, "l2", KmSearchGroups, IvfProbes)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    topK(probes.join(index, "cell").join(qLeg(qs), "qid"), 5)
  }

  /** s30: SERVE the arrivals — the query side of the ingest loop s24
    * assigns and s23 monitors: every arriving (delta) vector is a
    * QUERY against the frozen corpus-trained index, answered top-5
    * exact-cosine from live (non-tombstoned) corpus rows only. The
    * "related items for every new arrival" / dedup-recommend-at-ingest
    * shape a production vector store runs continuously, composing the
    * round's two serving predicates: the index is FROZEN (s24 — train
    * once, apply per arrival) and deletions are excluded IN-SEARCH on
    * the index leg (s29 — a tombstoned row never pays a dot product).
    *
    * Scale shape: per-arrival work is one row-local O(√K) probe fold
    * under the nested broadcast plus an occupancy-bounded candidate
    * equi-join against the cell-keyed live index — no corpus exchange,
    * no arrival×corpus product, work ∝ |Δ| at any corpus size. The
    * live twin is es29 (same oracle, micro-batched arrivals).
    *
    * Oracle: the dual-population chain — ONE codebook trained on the
    * corpus split, the corpus ranking (membership leg, tombstones
    * dropped) and the delta ranking (probe leg) riding the same chain —
    * so a hash match certifies train + index + probe + exclusion + rank
    * end to end.
    */
  private def s30(s: SparkSession, dir: String): DataFrame = {
    val (gArr, ranked) = sharedIndex(s, dir, split = true)
    val corpus = vecs(s, dir).filter(!isDeltaVec)
    serveBatch(vecs(s, dir).filter(isDeltaVec),
      liveIndexFrom(corpus, membershipOf(ranked)), gArr)
  }

  private[graft] lazy val s30Sql =
    s"""WITH $oracleVecs,
       |nc AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |nd AS (SELECT * FROM n WHERE vec_id % 10 = 0),
       |${codebookChainSql("nc", "")},
       |${rankStanzaSql("nc", "", "")},
       |${rankStanzaSql("nd", "", "q")},
       |aidx AS (SELECT vec_id, cid AS cell FROM prall WHERE rn = 1),
       |prq AS (SELECT vec_id AS qid, cid AS cell FROM prallq),
       |cnd AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM prq p JOIN aidx a USING (cell)
       |  WHERE ${Sampling.uhashSql("del_", "a.vec_id")} >= $DelFrac),
       |${scoreSql("sc", "cnd", "nd", "nc")}
       |${topSql("sc")}""".stripMargin

  // ---- s31: recall audit of the SERVING path ---------------------------

  /** s31: recall@5 of s30's served answers — the audit the serving
    * family was missing (every index here ships one: s12 for LSH, s21
    * for the trained index, THIS for the arrival-serving path). For a
    * capped md5-order batch of arrivals (salt "svr_"), the ground
    * truth is exact top-5 cosine over the LIVE corpus — tombstones
    * excluded, because a deleted row is not an answer the deployment
    * owes its callers and counting it as a miss would charge the
    * quantizer for the erasure policy — and the served answer is the
    * SAME [[serveBatch]] kernel s30/es29 run, so the audit measures
    * production code, not a reimplementation.
    *
    * Scale shape: the exact leg is [[exactTopK]] over batch × live
    * corpus (5·batch rows cross the shuffle, never a per-query window
    * over the scored corpus); the serving leg probes only the batch
    * (row-local fold + the occupancy-bounded cell join); [[recall]]
    * joins the two. Batch salt "svr_".
    */
  private def s31(s: SparkSession, dir: String): DataFrame = {
    val (gArr, ranked) = sharedIndex(s, dir, split = true)
    // the exact-recall cartesian streams this corpus under the 50-query
    // broadcast — spread floors the dot-product stage's parallelism
    val corpus = Tables.spread(vecs(s, dir).filter(!isDeltaVec)).persist()
    val index = liveIndexFrom(corpus, membershipOf(ranked))
    val arrivals = vecs(s, dir).filter(isDeltaVec)
    val sampled = queryBatch(arrivals, "svr_", RecallQueries)
    val live = corpus.filter(Sampling.uhash("del_", col("vec_id")) >= DelFrac)
    // arrivals and corpus are disjoint populations, so the kernel's
    // self-pair cut never fires here
    val exact = exactTopK(qLeg(sampled), nLeg(live), 5)
      .persist() // read twice: hit join + per-query k (the s21 rule)
    val served = serveBatch(
        arrivals.join(broadcast(sampled.select(col("vec_id"))), "vec_id"), index, gArr)
      .select(col("qid"), col("nid"))
    recall(exact, served)
  }

  /** Oracle: the dual-population chain (s30's) + the exact live-corpus
    * leg and s21's recall tail, cut to the "svr_" batch.
    */
  private lazy val s31Sql =
    s"""WITH $oracleVecs,
       |nc AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |nd AS (SELECT * FROM n WHERE vec_id % 10 = 0),
       |${codebookChainSql("nc", "")},
       |${rankStanzaSql("nc", "", "")},
       |${rankStanzaSql("nd", "", "q")},
       |lidx AS (
       |  SELECT vec_id, cid AS cell FROM prall
       |  WHERE rn = 1 AND ${Sampling.uhashSql("del_", "vec_id")} >= $DelFrac),
       |${smpSql("nd", "svr_")},
       |srv AS (
       |  SELECT qid, nid FROM (
       |    SELECT c.qid, c.nid,
       |      row_number() OVER (PARTITION BY c.qid ORDER BY
       |        ${sqlCos("x", "y")} DESC,
       |        c.nid) AS rn
       |    FROM (
       |      SELECT p.vec_id AS qid, a.vec_id AS nid
       |      FROM prallq p JOIN lidx a ON a.cell = p.cid
       |      WHERE p.vec_id IN (SELECT vec_id FROM smp)) c
       |    JOIN nd x ON c.qid = x.vec_id JOIN nc y ON c.nid = y.vec_id)
       |  WHERE rn <= 5),
       |${exSql("nd", "nc", s"${Sampling.uhashSql("del_", "b.vec_id")} >= $DelFrac")},
       |${recallSql("srv")}""".stripMargin

  // ---- s32: serve FROM the stored index artifact -----------------------

  /** s32: the artifact LIFECYCLE certified end to end — load the
    * persisted trained index ([[IndexArtifact.load]] with the manifest
    * integrity check on) and answer s30's serving workload from the
    * STORED codebook and membership, never re-training and never
    * re-assigning the corpus. The oracle is s30's SQL verbatim: the
    * stored index must serve exactly what the in-plan index serves —
    * that hash match, plus the Round14Spec round-trip pins, is the
    * write/load/verify story a production deployment runs (train once
    * nightly, publish the artifact, serving nodes load it; d23's
    * append law covers the incremental adds between publishes).
    *
    * Scale shape: load is two parquet scans (codebook one row; the
    * membership leg crn-pruned at the scan); serving is s30's — a
    * row-local O(√K) probe fold per arrival under the loaded-codebook
    * broadcast plus the occupancy-bounded cell equi-join.
    */
  private def s32(s: SparkSession, dir: String): DataFrame = {
    val (gArr, ranked) = IndexArtifact.load(
      s, sharedIndexPath(s, dir, split = true),
      IvfProbes, KmSearchGroups, verifyCounts = true)
    val corpus = vecs(s, dir).filter(!isDeltaVec)
    serveBatch(vecs(s, dir).filter(isDeltaVec),
      liveIndexFrom(corpus, membershipOf(ranked)), gArr)
  }

  // ---- s33: publish the next index generation (append, no retrain) ----

  /** The process-scoped generations ROOT for `tag`: a pointer store
    * ([[IndexGenerations]]) whose generation 1 — the corpus-trained
    * artifact, the store's own immutable content — is published through
    * the REAL publish path (write → verify → pointer swap) on first
    * request. Each gate entry publishes into its OWN tagged root, so
    * repeated runs and the gate's alphabetical ordering can never
    * couple entries through shared pointer state (an s33 publish must
    * not change what s34 serves).
    */
  private def generationsRoot(s: SparkSession, dir: String, tag: String): String = {
    val key = s"genroot|$tag|$dir|" +
      graft.core.Tables.fileFingerprint(s, s"$dir/embeddings.parquet")
    graft.core.ProcessStore.once(key) { p =>
      val (gArr, ranked) = sharedIndex(s, dir, split = true)
      IndexGenerations.publish(s, p.getAbsolutePath, gArr, ranked,
        IvfProbes, KmSearchGroups)
    }
  }

  /** s33: the INCREMENTAL PUBLISH between retrains — d23's append law
    * applied to the stored artifact: load generation 1 (the published
    * corpus-trained index), rank the day's arrivals against its FROZEN
    * codebook (s24's row-local fold — work ∝ |Δ|, the corpus is never
    * re-read), append the arrival ranking to the stored membership and
    * PUBLISH it as the next generation through [[IndexGenerations]] —
    * write, verify, atomic `_current` pointer swap, predecessor
    * reclaim (a scratch write alone would prove the artifact grows
    * exactly without naming it the serving generation). The emitted membership is read back THROUGH the
    * pointer (integrity check on). This closes the artifact lifecycle
    * arc: s32 proves a stored index SERVES exactly, s33 proves it
    * GROWS exactly and lands atomically — the nightly publish a
    * production vector store runs until s23's drift report calls for
    * a retrain (s35/s36 are that decision).
    *
    * The appended membership is always computed from the IMMUTABLE
    * gen-1 store content, never from the pointer — so re-running the
    * entry publishes a fresh generation with identical content
    * (pointer advances, output is deterministic) instead of
    * compounding Δ on Δ.
    *
    * Oracle: one codebook chain trained on the corpus split, BOTH
    * populations' rank stanzas riding it — the published membership
    * must equal corpus ∪ Δ membership under the frozen codebook,
    * row for row, after the round trip through disk and pointer.
    *
    * Scale shape: load is two parquet scans; the only ranking work is
    * |Δ| row-local folds under the loaded-codebook broadcast; the
    * publish write is membership-sized (corpus×probes rows), a plain
    * columnar append-rewrite with no corpus exchange; the pointer swap
    * is one rename.
    */
  private def s33(s: SparkSession, dir: String): DataFrame = {
    val (gArr, ranked) = IndexArtifact.load(
      s, sharedIndexPath(s, dir, split = true), IvfProbes, KmSearchGroups)
    val delta = vecs(s, dir).filter(isDeltaVec)
    val deltaRanked = rankCellsTwoLevel(delta, gArr, "l2", KmSearchGroups, IvfProbes)
    val root = generationsRoot(s, dir, "publish")
    IndexGenerations.publish(s, root, gArr, ranked.unionByName(deltaRanked),
      IvfProbes, KmSearchGroups)
    val (_, m2) = IndexGenerations.loadCurrent(s, root, IvfProbes, KmSearchGroups,
      verifyCounts = true)
    membershipOf(m2)
  }

  private lazy val s33Sql =
    s"""WITH $oracleVecs,
       |nc AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |nd AS (SELECT * FROM n WHERE vec_id % 10 = 0),
       |${codebookChainSql("nc", "")},
       |${rankStanzaSql("nc", "", "")},
       |${rankStanzaSql("nd", "", "q")}
       |SELECT vec_id, cid AS cell FROM prall WHERE rn = 1
       |UNION ALL
       |SELECT vec_id, cid AS cell FROM prallq WHERE rn = 1""".stripMargin

  // ---- s34: serve through the generation pointer -----------------------

  /** s34: a serving node's actual read path — resolve the `_current`
    * pointer ([[IndexGenerations.loadCurrent]], integrity check on) and
    * answer s30's serving workload from the generation it names. s32
    * certified serving from A stored artifact; THIS certifies serving
    * through the pointer a live publish swings: the artifact a reader
    * resolves mid-publish is always a complete, verified generation
    * (the pointer swap is atomic, and [[IndexGenerations.publish]]
    * verifies before it swaps). Oracle: s30's SQL verbatim — the
    * pointer must serve exactly what the in-plan index serves.
    *
    * Scale shape: pointer resolution is one tiny file read; the rest is
    * s32's — two parquet scans (codebook one row, membership crn-pruned)
    * and the row-local probe fold + occupancy-bounded cell equi-join.
    */
  private def s34(s: SparkSession, dir: String): DataFrame = {
    val root = generationsRoot(s, dir, "serve")
    val (gArr, ranked) = IndexGenerations.loadCurrent(
      s, root, IvfProbes, KmSearchGroups, verifyCounts = true)
    val corpus = vecs(s, dir).filter(!isDeltaVec)
    serveBatch(vecs(s, dir).filter(isDeltaVec),
      liveIndexFrom(corpus, membershipOf(ranked)), gArr)
  }

  // ---- s35/s36: the drift-triggered retrain decision -------------------

  /** Corpus migration rate between two memberships of the same rows:
    * the fraction of matched vec_ids whose cell changed — the scalar
    * s23's cell-flow matrix aggregates to, and the drift signal the
    * maintenance decision thresholds on. One vec_id equi-join of two
    * (vec_id, cell) frames + one avg; Δ rows (no old cell) don't vote —
    * they measure arrival LOAD, not codebook drift.
    */
  private[graft] def migrationRate(oldM: DataFrame, newM: DataFrame): Double = {
    val r = newM.withColumnRenamed("cell", "new_cell")
      .join(oldM.withColumnRenamed("cell", "old_cell"), "vec_id")
      .agg(avg(when(col("old_cell") =!= col("new_cell"), 1.0d).otherwise(0.0d)))
      .head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** The RETRAIN-FREE drift signal:
    * total-variation distance between the arrival population's cell
    * distribution UNDER THE FROZEN CODEBOOK and the stored corpus
    * membership's cell distribution — `0.5 · Σ_c |pΔ(c) − pC(c)|`,
    * in [0, 1] by construction. This is [[Compaction.basisDrift]]'s
    * shape applied to the index: measure how far the NEW data falls
    * outside the frozen artifact's geometry using only the frozen
    * artifact itself. In-distribution arrivals land across cells in
    * the corpus's own proportions (TV ≈ sampling noise); drifted
    * arrivals pile into few (or edge) cells the corpus barely uses
    * (TV → 1). Nothing here trains: the decision [[maintainIndex]]
    * thresholds this costs |Δ| row-local assignment folds under the
    * stored codebook broadcast plus two cell-histogram aggregates
    * (≤ K rows each) — the census a nightly decision pass can afford
    * at 100 TB, where the old metric ([[migrationRate]] against a
    * FRESH retrain) made the decision cost the very retrain it was
    * deciding about.
    *
    * Relation to [[migrationRate]], honestly: migration under a fresh
    * retrain mixes two effects — drift that the arrivals CAUSED, and
    * retrain instability (K scales with n, the seed cut re-rolls, so
    * even in-distribution growth migrates many rows; the gate corpus
    * measures ~0.62 with Δ drawn from the same distribution). The TV
    * proxy isolates the first effect: Round16Spec certifies it reads
    * ≈ 0 on planted in-distribution arrivals and ≈ 1 on planted
    * out-of-distribution arrivals, exactly the two regimes where a
    * retrain is (respectively) wasted and justified — while s23's
    * cell-flow REPORT still carries the full migration picture for
    * the maintainer who wants it.
    */
  private[graft] def arrivalDrift(deltaCells: DataFrame,
                                  corpusMembership: DataFrame): Double = {
    val dh = deltaCells.groupBy(col("cell")).agg(count(lit(1)).cast("double").as("nd"))
    val ch = corpusMembership.groupBy(col("cell")).agg(count(lit(1)).cast("double").as("nc"))
    // K-sized frames from here on: the totals and the TV sum are
    // driver-cheap actions over at most K rows each
    val dt = dh.agg(sum(col("nd"))).head
    val ct = ch.agg(sum(col("nc"))).head
    if (dt.isNullAt(0) || ct.isNullAt(0)) return 0.0
    val r = dh.join(ch, Seq("cell"), "full_outer")
      .agg(sum(abs(
        coalesce(col("nd"), lit(0.0)) / lit(dt.getDouble(0)) -
          coalesce(col("nc"), lit(0.0)) / lit(ct.getDouble(0))))).head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0) / 2.0
  }

  /** The drift-triggered MAINTENANCE DECISION — compactWhere's breach rule
    * applied to the index lifecycle: measure how far the arrivals have
    * outgrown the frozen generation ([[arrivalDrift]] — the
    * total-variation occupancy divergence of Δ, assigned under the
    * STORED codebook, against the STORED corpus membership); a breach
    * (rate > threshold) publishes a RETRAINED generation (codebook +
    * ranking trained on corpus ∪ Δ — the split=false chain); no breach
    * publishes s33's APPEND generation (frozen codebook, Δ ranked
    * row-locally, membership appended). Either branch lands through
    * [[IndexGenerations.publish]] — write, verify, atomic commit —
    * and the returned membership is read back THROUGH the commit log,
    * so both branches certify the publish path, not just the decision.
    *
    * Scale shape: NO training happens to decide — unconditionally
    * (measuring [[migrationRate]] against a fresh retrain instead, so at production scale
    * deciding whether to retrain cost a full retrain; the proxy needs
    * only the stored artifact + Δ, the same retrain-free shape as the
    * layout twin [[Compaction.basisDrift]]). The decision is |Δ|
    * row-local assignment folds + two K-sized histogram aggregates;
    * the append branch costs |Δ| row-local folds; the retrain branch
    * costs one full train — the price the drift just justified.
    */
  private[graft] def maintainIndex(s: SparkSession, dir: String, root: String,
                                   threshold: Double): DataFrame = {
    val (frozenArr, frozenRanked) = sharedIndex(s, dir, split = true)
    val deltaCells = frozenAssign(vecs(s, dir).filter(isDeltaVec), frozenArr)
    val rate = arrivalDrift(deltaCells, membershipOf(frozenRanked))
    if (rate > threshold) {
      val (gArr, ranked) = sharedIndex(s, dir, split = false)
      IndexGenerations.publish(s, root, gArr, ranked, IvfProbes, KmSearchGroups)
    } else {
      val (gArr, ranked) = sharedIndex(s, dir, split = true)
      val deltaRanked = rankCellsTwoLevel(
        vecs(s, dir).filter(isDeltaVec), gArr, "l2", KmSearchGroups, IvfProbes)
      IndexGenerations.publish(s, root, gArr, ranked.unionByName(deltaRanked),
        IvfProbes, KmSearchGroups)
    }
    membershipOf(IndexGenerations.loadCurrent(
      s, root, IvfProbes, KmSearchGroups, verifyCounts = true)._2)
  }

  /** s35: the decision operator in its APPEND-ONLY deployment
    * configuration (threshold 1.0 — [[arrivalDrift]] is a
    * total-variation distance in [0, 1] and the breach test strict, so
    * NOTHING breaches, total divergence included: the never-retrain
    * config): the nightly config of a store that retrains on a
    * schedule, not on drift. Must publish exactly s33's generation —
    * same oracle. The data-driven middle of the decision (a planted
    * drift flipping the branch) is pinned in Round15Spec; the planted
    * in/out-of-distribution certification of the proxy itself is in
    * Round16Spec; the gate certifies each branch's published output.
    */
  private def s35(s: SparkSession, dir: String): DataFrame =
    maintainIndex(s, dir, generationsRoot(s, dir, "maintain-append"), 1.0)

  /** s36: the decision operator in its RETRAIN configuration
    * (threshold 0.0 — ANY arrival-occupancy divergence breaches; the
    * gate Δ is a 10% same-distribution sample, whose TV against the
    * corpus occupancy is pure sampling noise but strictly positive —
    * Round15Spec pins the measured rate inside (0.02, 0.9), so the
    * branch is deterministic by a wide margin): the "codebook is
    * stale, rebuild it" branch. Publishes the corpus ∪ Δ retrained
    * generation; the oracle is the full-population trained chain's
    * membership, so the hash match certifies retrain + publish +
    * commit-log round trip end to end.
    */
  private def s36(s: SparkSession, dir: String): DataFrame =
    maintainIndex(s, dir, generationsRoot(s, dir, "maintain-retrain"), 0.0)

  private lazy val s36Sql =
    s"""WITH $s20Ctes
       |SELECT vec_id, cell FROM aidx""".stripMargin

  // ---- s23: trained-index maintenance (retrain drift report) ----------

  /** s23: the TRAINED-index answer to d23's append law. The banded
    * sketch index obeys an exact append law (banded(C ∪ Δ) ≡ banded(C)
    * ∪ banded(Δ) — d23 certifies it row-for-row); a trained quantizer
    * does NOT: re-training on corpus+Δ moves centroids and rows migrate
    * cells. What a production index pipeline needs instead of a law is
    * the DRIFT REPORT that triggers retraining: train the s20 pipeline
    * on the corpus split, train it again on corpus+Δ (the d22/es24
    * `vec_id % 10` split convention), and emit the cell-flow matrix —
    * one row per (old_cell, new_cell) with the member count, old_cell
    * NULL for Δ arrivals. The off-diagonal mass is the migration rate
    * an index maintainer alerts on; the NULL row mass is the arrival
    * load the frozen index absorbed.
    *
    * Scale shape: two trained-assignment passes (each the s20 front
    * half — row-local two-level folds under one nested broadcast, zero
    * corpus exchanges, probes=1 so no probe-list blowup), one vec_id
    * equi-join of two (vec_id, cell) frames, one sparse K×K-bounded
    * aggregate. Nothing here exceeds what s20 already pays twice.
    *
    * Determinism: both chains are the LITERAL s20 machinery (same seed
    * hash cut rebuilt per population, same Lloyd steps, same two-level
    * rank); the oracle splices the s20 CTE chain twice — once on `n`,
    * once on the `nc` subset — so a hash match re-certifies the full
    * training pipeline on BOTH populations.
    */
  private def s23(s: SparkSession, dir: String): DataFrame = {
    // both chains from the store (membership = crn 1 of the stored
    // ranking — prefix-stable in probe depth, so the probes=1 chain
    // this query used to train itself is exactly this filter)
    val oldA = membershipOf(sharedIndex(s, dir, split = true)._2)
      .withColumnRenamed("cell", "old_cell")
    val newA = membershipOf(sharedIndex(s, dir, split = false)._2)
      .withColumnRenamed("cell", "new_cell")
    newA.join(oldA, Seq("vec_id"), "left")
      .groupBy(col("old_cell"), col("new_cell"))
      .agg(count(lit(1)).as("n_rows"))
  }

  private lazy val s23Sql =
    s"""WITH $s20Ctes,
       |nc AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
       |${s20CtesOn("nc", "_c")}
       |SELECT c.cell AS old_cell, f.cell AS new_cell, count(*) AS n_rows
       |FROM aidx f LEFT JOIN aidx_c c USING (vec_id)
       |GROUP BY 1, 2""".stripMargin

  // ---- s16: second Lloyd iteration + migration audit ------------------

  /** The one-Lloyd-step assignment shared by s16 (convergence audit)
    * and s26 (cluster cards): seed codebook (md5-order KmK sample) →
    * assign (cid1) → exact-decimal means → re-assign (cid2). Returns
    * the corpus with BOTH generations' cell ids; the intermediate
    * `assigned` is persisted because the means aggregate and the final
    * assignment both read it.
    */
  private def oneStepAssigned(base0: DataFrame): DataFrame = {
    val base = Tables.spread(base0) // K l2 distances per row, twice
    val centArr = centArray(kmSeeds(base), col("cid"), col("cv"))
    val assigned = assignCell(base, centArr, l2Key, "cid1").persist()
    val cv2 = meansCodebook(assigned, "cid1")
    val cv2Arr = centArray(cv2, col("cid"), col("cv"))
    assignCell(assigned, cv2Arr, l2Key, "cid2")
  }

  /** The matching oracle CTE chain (cent → … → a2), spliced by s16Sql
    * and s26Sql so the two entries' training text cannot drift (the
    * p13 shared-declaration rule). Expects `n` in scope.
    */
  private lazy val oneStepCtes =
    s"""${kmSeedCtes("d1")},
       |a1 AS (SELECT vec_id, cid AS cid1 FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM d1) WHERE rn = 1),
       |px AS (
       |  SELECT a1.cid1, unnest(range(1, len(n.v)+1)) AS pos,
       |         unnest(list_transform(n.v, x -> CAST(x AS VARCHAR))) AS xs
       |  FROM n JOIN a1 USING (vec_id)),
       |m AS (
       |  SELECT cid1, pos,
       |    CAST(sum(CAST(xs AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx
       |  FROM px GROUP BY 1, 2),
       |cv2 AS (
       |  SELECT cid1 AS cid,
       |    list_transform(list_sort(list(struct_pack(pos := pos, mx := mx))),
       |                   e -> e.mx) AS cv
       |  FROM m GROUP BY 1),
       |${l2DistSql("d2", "cv2")},
       |a2 AS (SELECT vec_id, cid AS cid2 FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM d2) WHERE rn = 1)""".stripMargin

  /** s16: k-means convergence velocity — run s10's Lloyd step, recompute
    * the centroids as the assigned means, REASSIGN, and report per final
    * cell: population and how many members arrived from a different
    * seed cell. The "is it converging / are cells collapsing" diagnostic
    * an IVF index builder (s06/s08) reads between training iterations —
    * iteration count is tuned by WHEN migration flattens, not by a fixed
    * loop bound. Dead cells (no members after pass 1) drop out of the
    * pass-2 codebook, the standard Lloyd treatment.
    *
    * Scale shape: both assignments are row-local folds under ONE
    * broadcast row each (seed array / mean array — K·Dim doubles,
    * corpus-independent); the corpus is scanned twice and shuffled
    * twice, both with map-side combine: once on (cid, pos) for the
    * means (wire bytes O(K·Dim·partitions)), once on (cid2, cid1) for
    * the migration matrix rollup (≤ K² rows per partition). No join of
    * corpus against corpus anywhere.
    *
    * Determinism: s10's contract throughout — three-sum distance
    * expansion over the shared left-to-right dot fold, argmin ties on
    * the cid-sorted array == ORDER BY d, cid, means from exact
    * float→string→DECIMAL(28,12) sums divided once in IEEE doubles.
    */
  private def s16(s: SparkSession, dir: String): DataFrame =
    oneStepAssigned(vecs(s, dir))
      .groupBy(col("cid2").as("cid"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("cid1") =!= col("cid2"), 1L).otherwise(0L)).as("n_migrated"))

  private lazy val s16Sql =
    s"""WITH $oracleVecs,
       |$oneStepCtes
       |SELECT a2.cid2 AS cid, count(*) AS n_members,
       |  CAST(sum(CASE WHEN a1.cid1 <> a2.cid2 THEN 1 ELSE 0 END) AS BIGINT) AS n_migrated
       |FROM a1 JOIN a2 USING (vec_id)
       |GROUP BY 1""".stripMargin

  /** s17: quantization-error audit — per k-means cell (the s10 seed
    * codebook): member count, mean and max SQUARED distance from member
    * to its centroid. The distortion table an IVF/PQ index builder
    * (s06/s08) reads next to s14's balance report: a cell with high
    * mean residual quantizes its members badly (recall loss localized
    * to that cell — split it or train longer); the corpus-wide mean is
    * the k-means objective itself, so iterating s10/s16 should push it
    * down — this op is how you SEE that.
    *
    * Determinism: distances are s10's three-sum expansion (bit-equal
    * across engines by the shared fold contract), then QUANTIZED to
    * exact integers by floor(d·2²⁰) — a power-of-two scale, so the
    * multiply is exact and floor is integer arithmetic in both engines;
    * sums aggregate the quantized longs in DECIMAL(38,0) (order-proof,
    * overflow-proof at 10¹¹ members); the mean is one division of
    * exact values (the e12 contract).
    *
    * Scale shape: assignment is the s10 row-local fold under ONE capped
    * broadcast row (no corpus×K explosion); the ONLY corpus exchange is
    * the final cid hash aggregate with map-side combine.
    */
  private def s17(s: SparkSession, dir: String): DataFrame = {
    val base = vecs(s, dir)
    val centArr = centArray(kmSeeds(base), col("cid"), col("cv"))
    // the argmin struct carries BOTH fields: the cell (cid) and its
    // residual (k, the min squared distance) — one kernel evaluation
    base.crossJoin(broadcast(centArr))
      .withColumn("best", element_at(rankedCells(l2Key), 1))
      .select(col("best.cid").as("cid"),
        floor(col("best.k") * lit(1048576.0)).cast("long").as("q"))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_members"),
        (sum(col("q").cast(DecimalType(38, 0))).cast("double") /
          count(lit(1))).as("mean_err_q"),
        max(col("q")).as("max_err_q"))
  }

  private lazy val s17Sql =
    s"""WITH $oracleVecs,
       |${kmSeedCtes("d")},
       |a AS (
       |  SELECT vec_id, cid, CAST(floor(d * 1048576.0) AS BIGINT) AS q FROM (
       |    SELECT vec_id, cid, d,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM d) WHERE rn = 1)
       |SELECT cid, count(*) AS n_members,
       |  CAST(sum(CAST(q AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS mean_err_q,
       |  max(q) AS max_err_q
       |FROM a GROUP BY 1""".stripMargin

  // ---- s18: filtered (metadata-constrained) vector search -------------

  private val FqQueries = 32 // fixed query batch (salted md5-order sample)

  /** s18: FILTERED top-k retrieval — every production vector store's
    * second query shape after plain ANN: "nearest neighbors WHERE
    * metadata predicate" (here: same `label` as the query — the
    * tenant/language/category filter). Naive post-filtering of an
    * unfiltered top-k under-fills when the predicate is selective; the
    * correct plan applies the predicate IN the search. Here the
    * predicate is an equality, so it becomes the JOIN KEY: the
    * query-batch ⋈ corpus join is an equi-join on label — the filter is
    * pushed into the join itself and non-matching corpus rows never
    * score. Per-query top-5 by exact cosine with vec_id tiebreak.
    *
    * Scale shape: the [[FqQueries]]-row batch is LIMIT-capped onto one
    * broadcast; the corpus side streams through the label equi-join
    * (scoring work |corpus|·batch/|labels| in expectation, not
    * |corpus|·batch); the top-k runs through the bounded-memory
    * TopKNeighbors Aggregator — ≤k rows per query cross the shuffle,
    * never the scored pair set. At higher selectivity the per-label IVF
    * refinement (s06's cells built per label) drops in without changing
    * this operator's contract.
    */
  private def s18(s: SparkSession, dir: String): DataFrame = {
    val base = vecsWithLabel(s, dir)
    // the label is the one column both legs carry: the join key
    val q = queryBatch(base, "fq_", FqQueries)
      .select(col("vec_id").as("qid"), col("label"), col("v").as("va"), col("nrm").as("na"))
    exactTopK(broadcast(q),
      base.select(col("vec_id").as("nid"), col("label"), col("v").as("vb"), col("nrm").as("nb")), 5)
  }

  private val s18Sql =
    s"""WITH vl AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nl AS (SELECT * FROM (
       |  SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM vl)
       |  WHERE nrm > 0),
       |q AS (
       |  SELECT vec_id AS qid, label, v AS vq, nrm AS nq FROM nl
       |  ORDER BY md5('fq_' || CAST(vec_id AS VARCHAR)) LIMIT $FqQueries),
       |p AS (
       |  SELECT q.qid, c.vec_id AS nid,
       |    ${sqlDot("q.vq", "c.v")} / (q.nq * c.nrm) AS sim
       |  FROM q JOIN nl c ON q.label = c.label AND q.qid <> c.vec_id)
       |${topSql("p")}""".stripMargin

  // ---- s25: hybrid retrieval — BM25 + cosine, reciprocal-rank fused ----

  private val HybQueries = 8   // fixed query-doc batch (md5-order sample)
  private val HybTerms   = 8   // query terms per query doc (top-tf, len >= 5)
  private val HybDfPct   = 90  // ubiquity cap: query terms in <= 90% of docs
  private val HybListK   = 20  // per-list depth feeding the fusion
  private val HybK       = 10  // fused results per query
  private val HybRrfK    = 60  // the standard RRF dampening constant

  /** The two ranked neighbor lists (lexical, semantic) shared by s25
    * (fusion) and s27 (training-pair mining): each (query_id, cand_id,
    * lrank/srank) with rank <= [[HybListK]]. Retrieved ONCE per
    * (process, corpus) through the store — the retrieval system runs
    * one pass and every consumer (the fused ranking, the mined
    * training pairs) reads the same materialized lists, the d07-labels
    * discipline applied to retrieval output; without the store the
    * bench paid the full BM25 + exact-cosine pass per entry per sample.
    */
  private def hybridLists(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = s"hybrid_lists|$dir|" +
      graft.core.Tables.fileFingerprint(s, s"$dir/documents.parquet") + "|" +
      graft.core.Tables.fileFingerprint(s, s"$dir/embeddings.parquet")
    val p = graft.core.ProcessStore.once(key) { f =>
      val (lex, sem) = buildHybridLists(s, dir)
      lex.write.mode("overwrite").parquet(s"$f/lex")
      sem.write.mode("overwrite").parquet(s"$f/sem")
    }
    (Tables.readParquet(s, s"$p/lex"), Tables.readParquet(s, s"$p/sem"))
  }

  private[graft] def buildHybridLists(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = vecs(s, dir)
    // query batch: md5-order sample of ids live on BOTH sides (text +
    // usable embedding), so each query has a lexical AND a semantic face
    val qids = queryBatch(base.select(col("vec_id").as("query_id"))
      .join(docs.select(col("doc_id").as("query_id")), "query_id"), "hyb_", HybQueries, "query_id")

    // lexical list: per-query-doc BM25 over the shared-term equi-join
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("qtf").desc, col("word"))
    val qterms = tf.join(broadcast(qids), tf("doc_id") === qids("query_id"))
      .filter(length(col("word")) >= 5)
      .join(dfreq, "word")
      .crossJoin(broadcast(tot))
      // exact integer ubiquity cap: df <= HybDfPct% of docs (a RELATIVE
      // cap — an absolute one is vacuous on a small-vocab corpus and
      // over-eager on a web-scale one)
      .filter(col("df") * 100 <= col("n_docs") * HybDfPct)
      .select(col("query_id"), col("word"), col("tf").as("qtf"), col("df"))
      .withColumn("trn", row_number().over(wq))
      .filter(col("trn") <= HybTerms)
      .select(col("query_id"), col("word"), col("df"))
    val matched = tf.join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("query_id"), col("doc_id").as("cand_id"), col("word"),
        TextAnalysis.bm25Sc.as("sc"))
    // the rank window sorts the per-query candidate set (<= HybTerms
    // posting lists), never the corpus (the t16 window rule)
    val wl = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("cand_id"))
    val lexTop = matched.groupBy(col("query_id"), col("cand_id"))
      .agg(array_sort(collect_list(struct(col("word"), col("sc")))).as("ts"))
      .select(col("query_id"), col("cand_id"),
        expr("aggregate(ts, CAST(0.0 AS DOUBLE), (a, x) -> a + x.sc)").as("score"))
      .withColumn("lrank", row_number().over(wl).cast("long"))
      .filter(col("lrank") <= HybListK)
      .select(col("query_id"), col("cand_id"), col("lrank"))

    // semantic list: corpus vs broadcast query batch, bounded top-k agg
    val qv = qLeg(base.join(broadcast(qids), base("vec_id") === qids("query_id")))
    val semTop = exactTopK(broadcast(qv), nLeg(base), HybListK)
      .select(col("qid").as("query_id"), col("nid").as("cand_id"), col("rn").as("srank"))
    (lexTop, semTop)
  }

  /** s25: HYBRID retrieval — the query-by-document shape RAG curation
    * and retrieval-based decontamination actually run: each query doc's
    * lexical neighbors (per-doc BM25 — t15's exact formula via the
    * shared [[TextAnalysis.bm25Sc]], query = the doc's top-[[HybTerms]]
    * informative terms) and semantic neighbors (exact cosine over the
    * embedding, vec_id == doc_id by m04's record-assembly contract) are
    * FUSED by reciprocal-rank fusion: rrf = Σ_lists 1/([[HybRrfK]] +
    * rank). RRF needs no score calibration between BM25 and cosine —
    * only ranks cross the fusion — which is why it is the production
    * default for sparse+dense ensembles.
    *
    * Scale shape: the query batch is a constant-size md5-order sample
    * (the pqq_/fq_ rule), so BOTH query frames ride capped broadcasts.
    * Lexical candidates are an inverted-index equi-join on word — the
    * classic sparse-retrieval shape, never all-pairs: the per-query
    * term set is bounded by [[HybTerms]] and terms in > [[HybDfPct]]%
    * of documents are dropped (a RELATIVE ubiquity cap — absolute df
    * caps are vacuous on small vocabularies and over-eager on
    * web-scale ones). Posting-list fanout for the surviving terms is
    * the inherent cost of sparse retrieval; at index scale the
    * standard refinement is impact-ordered/WAND pruning, which slots
    * into the same join without changing the contract. Semantic candidates run the corpus ONCE against
    * the broadcast query batch and keep top-[[HybListK]] through the
    * bounded-memory TopKNeighbors Aggregator (<= k rows per query
    * cross the shuffle — the s01 contract; swap in the s20 trained
    * probe for sub-linear scan at 100 TB). The fusion full-outer join
    * touches <= 2·HybListK rows per query. No stage is corpus×corpus.
    *
    * Determinism: BM25 is t15's quantized-idf formula (defined once);
    * per-pair totals fold over term-SORTED matches (the q41/s08 rule);
    * cosine is the shared vec_dot fold; rrf terms are exact double
    * divisions 1/(60+rank) summed in fixed lexical-then-semantic
    * order; every rank ties on the id column.
    */
  private def s25(s: SparkSession, dir: String): DataFrame = {
    val (lexTop, semTop) = hybridLists(s, dir)
    // reciprocal-rank fusion over the two capped lists
    val wf = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("cand_id"))
    lexTop.join(semTop, Seq("query_id", "cand_id"), "full_outer")
      .select(col("query_id"), col("cand_id"),
        (coalesce(lit(1.0) / (lit(HybRrfK).cast("double") + col("lrank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(HybRrfK).cast("double") + col("srank").cast("double")), lit(0.0)))
          .as("rrf"))
      .withColumn("rk", row_number().over(wf).cast("long"))
      .filter(col("rk") <= HybK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("rrf"))
  }

  /** The oracle CTE chain producing the two ranked lists `lt`
    * (lexical) and `st` (semantic) — spliced by s25Sql and s27Sql so
    * the mined pairs and the fused ranking certify the SAME lists.
    * Expects `n` (the normalized embeddings) in scope.
    */
  private lazy val hybridListCtes =
    s"""tk AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> len(x) > 0)) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
       |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |tot AS (SELECT count(*) AS n_docs, sum(dl) AS tot_tokens FROM dl),
       |q AS (
       |  SELECT n.vec_id AS query_id FROM n JOIN documents d ON d.doc_id = n.vec_id
       |  ORDER BY md5('hyb_' || CAST(n.vec_id AS VARCHAR)) LIMIT $HybQueries),
       |qt AS (
       |  SELECT query_id, word, df FROM (
       |    SELECT q.query_id, tf.word, dfq.df,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY tf.tf DESC, tf.word) AS trn
       |    FROM tf JOIN q ON tf.doc_id = q.query_id
       |    JOIN dfq USING (word) CROSS JOIN tot
       |    WHERE len(tf.word) >= 5 AND dfq.df * 100 <= tot.n_docs * $HybDfPct)
       |  WHERE trn <= $HybTerms),
       |m AS (
       |  SELECT qt.query_id, tf.doc_id AS cand_id, tf.word,
       |    ${TextAnalysis.bm25ScDuck("tf.tf", "qt.df", "dl.dl")} AS sc
       |  FROM tf JOIN qt USING (word) JOIN dl USING (doc_id) CROSS JOIN tot
       |  WHERE tf.doc_id <> qt.query_id),
       |lx AS (
       |  SELECT query_id, cand_id,
       |    list_sum(list_transform(list_sort(list(struct_pack(word := word, sc := sc))),
       |                            x -> x.sc)) AS score
       |  FROM m GROUP BY 1, 2),
       |lt AS (
       |  SELECT query_id, cand_id, lrank FROM (
       |    SELECT query_id, cand_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS BIGINT) AS lrank
       |    FROM lx)
       |  WHERE lrank <= $HybListK),
       |sp AS (
       |  SELECT q.query_id, b.vec_id AS cand_id,
       |    ${sqlCos("a", "b")} AS sim
       |  FROM q JOIN n a ON a.vec_id = q.query_id
       |  JOIN n b ON b.vec_id <> q.query_id),
       |st AS (
       |  SELECT query_id, cand_id, srank FROM (
       |    SELECT query_id, cand_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS BIGINT) AS srank
       |    FROM sp)
       |  WHERE srank <= $HybListK)""".stripMargin

  private lazy val s25Sql =
    s"""WITH $oracleVecs,
       |$hybridListCtes,
       |f AS (
       |  SELECT query_id, cand_id,
       |    coalesce(1.0 / ($HybRrfK.0 + CAST(lrank AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / ($HybRrfK.0 + CAST(srank AS DOUBLE)), 0.0) AS rrf
       |  FROM lt FULL JOIN st USING (query_id, cand_id))
       |SELECT query_id, rk, cand_id, rrf FROM (
       |  SELECT query_id, cand_id, rrf,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS BIGINT) AS rk
       |  FROM f)
       |WHERE rk <= $HybK""".stripMargin

  // ---- s26: cluster cards — the corpus map ----------------------------

  private val CardTerms = 5 // distinctive terms shown per cluster card

  /** s26: CLUSTER CARDS — the corpus-map deliverable a curation team
    * reads before deciding mixtures: each embedding-space cluster (the
    * s16 one-Lloyd-step assignment, shared via [[oneStepAssigned]])
    * summarized as member count, total characters, and its
    * [[CardTerms]] most DISTINCTIVE terms. Distinctiveness is
    * cluster-tf × t15's integer-quantized idf-bits — an all-integer
    * weight (exact in any engine) — over terms of length ≥ 5 (the
    * idf factor, not a hard df cap, demotes ubiquitous terms: the
    * term side joins on doc_id, so there is no posting-list fanout
    * for a cap to bound). This is the op that joins the engine's two
    * worlds: WHERE documents sit in embedding space and WHAT words
    * put them there.
    *
    * Scale shape: assignment is s16's (seed/means broadcast as one
    * array row, corpus never shuffles for it); the term side is one
    * (doc, word) tf shuffle + an id equi-join to the assignment; the
    * (cid, word) aggregate map-side combines; the per-cluster top-5
    * window sorts the ALREADY-AGGREGATED term table (≤ K·vocab rows —
    * t18's global-vocab ranking precedent, not a corpus-sized sort). Cards assemble with one
    * K-row join. At 100 TB: two linear scans, two hash shuffles, and
    * a K-row output.
    *
    * Determinism: the training chain is s16's (shared CTE text); term
    * weights are pure integers; the top-5 ties on word; the card
    * string is the rank-ordered array_join (q33's ordered-string-agg
    * rule); sum_chars is an exact long sum.
    */
  private def s26(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val asg = oneStepAssigned(vecs(s, dir)).select(col("vec_id"), col("cid2").as("cid"))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val tot = tf.select(col("doc_id")).distinct().agg(count(lit(1)).as("n_docs"))
    // integer distinctiveness: cluster-tf x idf-bits (t15's quantized idf)
    val ct = tf.join(asg, tf("doc_id") === asg("vec_id"))
      .filter(length(col("word")) >= 5)
      .groupBy(col("cid"), col("word"))
      .agg(sum(col("tf")).as("ctf"))
      .join(dfreq, "word")
      .crossJoin(broadcast(tot))
      .select(col("cid"), col("word"),
        (length(bin(greatest(expr("(2 * n_docs - 2 * df + 1) div (2 * df + 1)"), lit(1L))))
          .cast("long") * col("ctf")).as("w"))
    val wt = Window.partitionBy(col("cid")).orderBy(col("w").desc, col("word"))
    val terms = ct.withColumn("trn", row_number().over(wt))
      .filter(col("trn") <= CardTerms)
      .groupBy(col("cid"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("trn"), col("word")))),
          e => e.getField("word")), ",").as("top_terms"))
    val mem = asg.join(docs.select(col("doc_id"), col("n_chars")),
        asg("vec_id") === docs("doc_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("n_chars")).as("sum_chars"))
    mem.join(terms, Seq("cid"), "left_outer")
      .select(col("cid"), col("n_members"), col("sum_chars"),
        coalesce(col("top_terms"), lit("")).as("top_terms"))
  }

  private lazy val s26Sql =
    s"""WITH $oracleVecs,
       |$oneStepCtes,
       |tk AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> len(x) > 0)) AS word
       |  FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY 1, 2),
       |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |tot AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       |ct AS (
       |  SELECT a2.cid2 AS cid, tf.word, sum(tf.tf) AS ctf
       |  FROM tf JOIN a2 ON tf.doc_id = a2.vec_id
       |  WHERE len(tf.word) >= 5
       |  GROUP BY 1, 2),
       |cw AS (
       |  SELECT ct.cid, ct.word,
       |    CAST(length(bin(greatest((2 * tot.n_docs - 2 * dfq.df + 1) // (2 * dfq.df + 1),
       |                             CAST(1 AS BIGINT)))) AS BIGINT) * ct.ctf AS w
       |  FROM ct JOIN dfq USING (word) CROSS JOIN tot),
       |tp AS (
       |  SELECT cid, word, trn FROM (
       |    SELECT cid, word, row_number() OVER (PARTITION BY cid ORDER BY w DESC, word) AS trn
       |    FROM cw)
       |  WHERE trn <= $CardTerms),
       |tj AS (
       |  SELECT cid,
       |    array_to_string(list_transform(list_sort(list(struct_pack(trn := trn, word := word))),
       |                                   x -> x.word), ',') AS top_terms
       |  FROM tp GROUP BY 1),
       |mem AS (
       |  SELECT a2.cid2 AS cid, count(*) AS n_members,
       |    CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
       |  FROM a2 JOIN documents d ON d.doc_id = a2.vec_id
       |  GROUP BY 1)
       |SELECT mem.cid, mem.n_members, mem.sum_chars,
       |  coalesce(tj.top_terms, '') AS top_terms
       |FROM mem LEFT JOIN tj USING (cid)""".stripMargin

  // ---- s27: contrastive training-pair mining ---------------------------

  private val HybNegK = 4 // hard negatives mined per anchor

  /** s27: CONTRASTIVE PAIR MINING — the training-data product built
    * from s25's two lists (shared via [[hybridLists]], so the pairs
    * and the fused ranking certify the SAME lists): per anchor (query
    * doc), ONE positive — the semantic top-1, the standard
    * unsupervised proxy when no relevance labels exist — and
    * [[HybNegK]] HARD negatives: the BM25-closest candidates that do
    * NOT appear in the semantic top-[[HybListK]]. Lexically plausible
    * but embedding-distant is exactly the negative a dense retriever
    * must learn to push away (the DPR/BM25-negatives recipe); random
    * negatives are too easy and teach nothing.
    *
    * Scale shape: inherited wholesale from s25 — both lists are
    * already <= [[HybListK]] rows per anchor, so the anti-join and the
    * per-anchor re-rank touch a constant set; the mining stage adds
    * ZERO corpus passes. At 100 TB the anchor batch scales to millions
    * of rows and everything stays list-local per anchor.
    *
    * Determinism: the lists are s25's (one definition); the negative
    * re-rank orders by (lrank, cand_id) — lrank is already unique per
    * anchor; roles are string literals; union order is pinned by the
    * gate's multiset hash.
    */
  private def s27(s: SparkSession, dir: String): DataFrame = {
    val (lexTop, semTop) = hybridLists(s, dir)
    val pos = semTop.filter(col("srank") === 1)
      .select(col("query_id"), lit("positive").as("role"),
        lit(1L).as("rnk"), col("cand_id"))
    val wn = Window.partitionBy(col("query_id")).orderBy(col("lrank"))
    val negs = lexTop.join(semTop, Seq("query_id", "cand_id"), "left_anti")
      .withColumn("rnk", row_number().over(wn).cast("long"))
      .filter(col("rnk") <= HybNegK)
      .select(col("query_id"), lit("hard_negative").as("role"),
        col("rnk"), col("cand_id"))
    pos.unionByName(negs)
  }

  private lazy val s27Sql =
    s"""WITH $oracleVecs,
       |$hybridListCtes,
       |pos AS (
       |  SELECT query_id, 'positive' AS role, CAST(1 AS BIGINT) AS rnk, cand_id
       |  FROM st WHERE srank = 1),
       |hn AS (
       |  SELECT query_id, 'hard_negative' AS role,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lrank) AS BIGINT) AS rnk,
       |    cand_id
       |  FROM lt
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM st
       |    WHERE st.query_id = lt.query_id AND st.cand_id = lt.cand_id))
       |SELECT query_id, role, rnk, cand_id FROM pos
       |UNION ALL
       |SELECT query_id, role, rnk, cand_id FROM hn WHERE rnk <= $HybNegK""".stripMargin
}
