package graft.ops

import graft.core.Tables
import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d08: semantic (embedding-space) dedup, SemDeDup-style (Abbas et al.
  * 2023, arXiv:2303.09540): partition the corpus into coarse cells,
  * find cosine-similar pairs ONLY within cells, cluster the pairs, keep
  * one representative per cluster.
  *
  * Composition of machinery this library already has: IVF cell
  * assignment (s06's broadcast-centroid argmax), in-cell threshold
  * verification (s05's narrow-candidates-then-join-vectors shape), and
  * connected components (d07's Graph kernel). Centroids are the rows
  * whose 60-bit md5 prefix falls under a deterministic count-derived
  * threshold (a map-side filter — no top-K heaps, no K-row driver
  * merge), so the DuckDB oracle mirrors the WHOLE pipeline
  * structurally — cells, pairs, clusters — with no data-dependent
  * recall assumption.
  *
  * 100 TB shape: the cell count K SCALES WITH THE CORPUS
  * (max(MinCells, ceil(n / TargetCellRows)), from one cheap count) so
  * per-cell candidate fanout stays ~TargetCellRows² however large the
  * corpus grows — SemDeDup's K ~ n/10k at paper scale, n/64 here so the
  * test corpora exercise multi-cell behavior. Because K grows with n,
  * assignment is TWO-LEVEL (a coarse quantizer, the IVF-IMI/FAISS
  * two-level shape): Kc = ceil(sqrt(K)) coarse centroids are the only
  * broadcast grouping, and BOTH levels fold row-locally under the one
  * nested broadcast array shared with s20 (Similarity.groupArray /
  * assignCellTwoLevel since round 11): coarse group then fine cell per
  * row with zero corpus exchanges and no window (PlanSpec asserts it) —
  * per-row work O(sqrt K) instead of the O(K) flat argmax that round 5
  * shipped, and no more gid-join row explosion + vec_id re-aggregate
  * that the round-10 level 2 paid. The candidate join still shuffles on
  * the cell id and fat vectors never ride the candidate shuffle.
  */
object SemDedup extends QueryModule {

  private val MinCells       = 16
  private val TargetCellRows = 64
  private val Threshold      = 0.4
  /** Chunk size for the quadratic pair stage's skew guard. Expected
    * cell size is ~TargetCellRows, but md5-threshold centroid sampling
    * only bounds the EXPECTATION — an adversarial corpus (one boilerplate
    * cluster holding 10% of a web crawl) can put nearly everything in one
    * cell, and C(n,2) on that cell is the job-killer. Each cell's members
    * are ranked in a deterministic order (the shared 60-bit md5 fold,
    * vec_id tiebreak — both engines rebuild it exactly) and split into
    * RANK CHUNKS of this size: pairs form within each chunk plus across
    * ADJACENT chunks, so per-member fanout is ≤ 2×cap however hot the
    * cell (linear total, never quadratic) while every member still meets
    * ~2×cap neighbors and connected components stitches the chunk chain
    * transitively — a boilerplate cluster flooding one cell collapses to
    * ONE dedup cluster instead of (as the round-7 hard cap did) excusing
    * everyone ranked past the cap into singletons. 8× the target size:
    * a single-chunk cell (every honest cell — testdata results are
    * byte-identical to uncapped) is exact all-pairs, and a degenerate
    * 1M-row cell costs ~1.5 × 1M × cap pairs, not 10^12. The oracle
    * applies the same chunking, so a chunked cell diverges nowhere.
    *
    * Honest recall bound: chain-stitching recovers the ONE-dominant-
    * cluster shape the guard exists for (every chunk pair is internally
    * dense, adjacent links merge them). A hot cell interleaving SEVERAL
    * distinct clusters hashes their members across chunks, and two
    * cluster-mates in non-adjacent chunks pair only if intermediate
    * chunks carry linking members — bounded fanout necessarily trades
    * some cross-chunk recall there. Since round 12 that shape is handled
    * BEFORE the chunk guard sees it: [[refineHotCells]] recurses the
    * quantizer one level inside every oversized cell, so interleaved
    * clusters separate into their own sub-cells (cluster-mates share an
    * argmax, hash ranks don't) and the chunk chain is only the backstop
    * for a sub-cell that is still hot AND still mixed.
    */
  private[graft] val CellCap = 8 * TargetCellRows

  /** Split factor ceiling for the one-level hot-cell recursion: an
    * oversized cell re-quantizes into at most this many sub-cells, so
    * the refinement argmax adds ≤ SubCellMax similarity evaluations per
    * hot-cell member — bounded however degenerate the cell.
    */
  private[graft] val SubCellMax = 64L

  private def dot(a: Column, b: Column) =
    graft.functions.VectorFunctions.vec_dot(a, b)

  /** Deterministic corpus-scaled cell count (mirrored in the oracle). */
  private[graft] def cellCount(n: Long): Int =
    math.max(MinCells.toLong, (n + TargetCellRows - 1) / TargetCellRows).toInt

  /** Coarse-quantizer size: ceil(sqrt(K)). sqrt is correctly rounded
    * IEEE in both engines, so the oracle's ceil(sqrt(...)) lands on the
    * same integer.
    */
  private[graft] def coarseCount(k: Int): Int =
    math.ceil(math.sqrt(k.toDouble)).toInt

  /** Cosine similarity with the zero-norm guard: a degenerate vector
    * (nrm = 0) must yield a sentinel BELOW every real similarity, never
    * NaN — NaN would silently skip the strict-`>` argmax fold (leaving
    * the Long.MaxValue seed) while DuckDB's DESC sort ranks it highest.
    * -1e308 on both sides keeps even the all-degenerate corpus aligned
    * (every candidate ties, both engines break toward the smallest id).
    */
  private def guardedSim(d: Column, na: Column, nb: Column): Column =
    when(na * nb > 0, d / (na * nb)).otherwise(lit(-1e308))

  /** Select-fraction threshold: rows whose 60-bit md5 prefix
    * (Sampling.hash60, the shared cross-engine fold) falls under
    * floor(2^60 * k / n) form a deterministic ~k-row sample BOTH
    * engines rebuild exactly — and, unlike orderBy(md5).limit(k),
    * selection is a map-side filter: no per-partition top-k heaps and
    * no k-row driver merge, which for corpus-scaled K = n/64 would
    * itself grow linearly with the corpus. n = 0 yields threshold 0
    * (no rows → no centroids → empty result), never a 0-divisor.
    */
  private[graft] def hashThreshold(k: Int, n: Long): Long =
    if (n == 0) 0L
    else ((BigInt(k) << 60) / BigInt(n)).min(BigInt(1) << 60).toLong

  /** The in-cell candidate pair stage with the rank-chained [[CellCap]]
    * skew guard: rank each cell's members by the deterministic
    * (hash60(vec_id), vec_id) order, split into chunks of `cap`, and
    * form pairs WITHIN each chunk plus across ADJACENT chunks. Every
    * member participates (the round-7 hard cap excused rows past the
    * cap into silent singletons — the recall gap this closes) yet
    * per-member fanout is ≤ 2×cap at any cell size, and CC downstream
    * stitches the chunk chain into one cluster wherever the links are
    * dense. The adjacency is an EQUI-join: the probe side duplicates
    * each row under (chunk, chunk+1) join keys, so the join hashes on
    * (cell, chunk) — a hot cell's chunks spread across partitions
    * instead of melting one reducer, and Spark never materializes the
    * within-cell cross product the round-7 cell-keyed join would have
    * filtered. Cross-chunk pairs arise exactly once (only the LOWER
    * chunk probes upward); within-chunk duplicates fall to the vec_id
    * order; outputs are (least, greatest)-normalized so the oracle's
    * mirrored join matches row-for-row. Factored out (cap injectable)
    * so the skew stress test can drive a planted hot cell.
    */
  private[graft] def inCellPairs(assign: DataFrame, cap: Int = CellCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(Sampling.hash60(col("vec_id").cast("string")), col("vec_id"))
    val chunked = assign
      .withColumn("rk", row_number().over(w))
      .withColumn("chunk", expr(s"CAST(floor((rk - 1) / $cap) AS BIGINT)"))
      .select(col("vec_id"), col("cell"), col("chunk"))
    val probes = chunked.select(col("vec_id"), col("cell"), col("chunk"),
      explode(array(col("chunk"), col("chunk") + 1)).as("jchunk"))
    probes.as("a").join(chunked.as("b"),
        col("a.cell") === col("b.cell") && col("a.jchunk") === col("b.chunk") &&
          (col("a.chunk") =!= col("b.chunk") || col("a.vec_id") < col("b.vec_id")))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("ida"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("idb"))
  }

  /** The NEGATED guarded cosine as an ascending rank key over a
    * (cid, cv, cnrm) centroid struct — csim DESC with the struct's cid
    * breaking ties ascending, the degenerate-pair sentinel flipping to
    * +1e308 so it ranks LAST (never chosen while any real similarity
    * exists; an all-degenerate row still resolves to the smallest cid,
    * matching the old fold's strict-> semantics and the oracle window).
    */
  private[graft] def negGuardedCos(c: Column): Column =
    -guardedSim(dot(col("v"), c.getField("cv")), col("nrm"), c.getField("cnrm"))

  /** The full two-level cell-assignment front half — centroid sampling,
    * coarse grouping, fine argmax — for a (vec_id, v, nrm) corpus of `n`
    * rows. Returns the persisted (vec_id, cell) frame the pair stage
    * consumes. Factored out of [[d08]] so the 10× scaling stress test
    * can drive assignment + candidate generation against synthetic
    * corpora at two sizes and assert the candidate count grows linearly
    * (K scales with n, so per-cell fanout — and with it candidates per
    * row — must stay ~constant).
    *
    * Since round 11 this is the shared Similarity two-level kernel (one
    * nested broadcast: coarse groups → member cells; the coarse subset
    * rides the SAME hash order as the fine sample, so no second count):
    * both levels fold ROW-LOCALLY, which drops the old level-2 shape —
    * a gid equi-join exploding each row into ~√K candidates and
    * re-aggregating on vec_id — from the plan entirely. Semantics are
    * unchanged: same (csim DESC, cid ASC) tiebreak at both levels, and
    * an empty coarse sample still drops every row (null argmin ≡ the
    * oracle's empty rn=1 window; the old Long.MaxValue sentinel filter).
    * The one unreachable divergence: a coarse group losing ALL its fine
    * members (possible only with zero-norm vectors, which
    * Similarity.vecs excludes at the source) would reassign its rows
    * here where the old inner join dropped them.
    */
  private[graft] def cellAssignments(base: DataFrame, n: Long): DataFrame = {
    val cells = cellCount(n)
    val code = base
      .filter(Sampling.hash60(col("vec_id").cast("string")) < hashThreshold(cells, n))
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    def isCoarse(cid: Column): Column =
      Sampling.hash60(cid.cast("string")) < hashThreshold(coarseCount(cells), n)
    Similarity.assignCellTwoLevel(base,
        Similarity.groupArray(code, isCoarse, negGuardedCos), "negcos", "cell")
      .select(col("vec_id"), col("cell"))
      .persist()
  }

  /** One-level quantizer recursion inside oversized cells — the round-11
    * documented recall gap, closed: when a cell exceeds `cap`, its
    * members are re-quantized against sub-centroids sampled FROM THE
    * CELL (salted hash threshold, ceil(cnt/TargetCellRows) capped at
    * [[SubCellMax]]), and the refined cell id becomes
    * `"cell/subcentroid"`; honest cells keep `"cell"`. Interleaved
    * distinct clusters separate because cluster-mates share a nearest
    * sub-centroid (the argmax is a function of CONTENT) while the chunk
    * guard's hash rank scatters them; a sub-cell that is still hot and
    * still mixed falls back to the chunk chain downstream, unchanged.
    *
    * Scale shape: `sizes` is a cell-grain aggregate; every other stage
    * is filtered to oversized cells (EMPTY on an honest corpus — the
    * test SFs hash-match round 11 byte-for-byte); the refinement join
    * fans each hot member out ≤ SubCellMax sub-centroids on the (cell)
    * equi-key — a hot cell's probe rows spread across partitions, never
    * one reducer; the argmax window partitions by vec_id (≤ SubCellMax
    * rows per group). No broadcast anywhere: sub-centroids are corpus-
    * proportional in the adversarial case and ride the equi-join.
    *
    * Determinism: the sub-sample uses the `r:`-salted hash60 fold (both
    * engines rebuild it), the per-cell threshold is exact integer
    * `floor(2^60·kSub/cnt)` (DECIMAL(38,0)·2^60 DIV on the Spark side,
    * HUGEINT on DuckDB), and the argmax is the same (sim DESC, scid ASC)
    * row_number both engines already agree on in the pair stage.
    */
  private[graft] def refineHotCells(assign: DataFrame, base: DataFrame,
                                    cap: Int = CellCap): DataFrame = {
    val sizes = assign.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    // Fast path (round 16): on an honest corpus NO cell exceeds the cap
    // and every refinement stage below is an empty filter — but the
    // pair stage still drags the three joins and the argmax window
    // through planning and execution. One cell-grain aggregate over the
    // PERSISTED assignment (cells ≈ n/TargetCellRows rows, the same
    // aggregate `sizes` runs anyway) decides whether any hot cell
    // exists; when none does, the refined assignment IS the input
    // assignment with the cell id cast to string — exactly what the
    // left join with an empty `best` would produce, row for row, so the
    // result (and the oracle, whose refinement CTEs are empty filters
    // in the same regime) is unchanged. The d27 planted-hot-family
    // entry keeps the full path live and gate-certified every round.
    // the probe RESULT seeds the refinement (round-16 follow-up): the
    // hot-cell table is cells-grain and filtered to breaches — tiny in
    // every regime — so persisting it lets the isEmpty probe and the
    // three refinement joins share ONE sizes aggregate instead of
    // re-running it per consumer
    val hotSizes = sizes.filter(col("cnt") > cap).persist()
    val anyHot = !hotSizes.isEmpty
    if (!anyHot) {
      hotSizes.unpersist(blocking = false)
      return assign.select(col("vec_id"), col("cell").cast("string").as("cell"))
        .persist()
    }
    val hot = assign.join(hotSizes, "cell")
    val subThresh = expr(
      s"""CAST(least($SubCellMax, (cnt + ${TargetCellRows - 1}) DIV $TargetCellRows)
         |  AS DECIMAL(38,0)) * 1152921504606846976 DIV cnt""".stripMargin)
    val subc = hot
      .filter(Sampling.hash60(concat(lit("r:"), col("vec_id").cast("string"))) < subThresh)
      .join(base.select(col("vec_id"), col("v").as("scv"), col("nrm").as("scnrm")), "vec_id")
      .select(col("cell"), col("vec_id").as("scid"), col("scv"), col("scnrm"))
    val cand = hot.select(col("vec_id"), col("cell"))
      .join(base.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(subc, "cell")
      .select(col("vec_id"),
        guardedSim(dot(col("v"), col("scv")), col("nrm"), col("scnrm")).as("sim"),
        col("scid"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("scid"))
    val best = cand.withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1).select(col("vec_id"), col("scid"))
    assign.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("scid").isNull, col("cell").cast("string"))
          .otherwise(concat(col("cell").cast("string"), lit("/"),
            col("scid").cast("string"))).as("cell"))
      // persisted for the same reason cellAssignments is: the pair
      // stage's probe and build legs both read it, and recomputing
      // means re-running the sizes aggregate and refinement joins
      .persist()
  }

  /** The whole d08 pipeline over an arbitrary population: `seedIds`
    * seeds the connected-components (every id gets a cluster row even
    * when zero-norm-excluded from `base0`), `base0` is the (vec_id, v,
    * nrm) population. Factored so d27 can run the IDENTICAL pipeline
    * over corpus ∪ planted-hot-family and certify the refinement path
    * cross-engine every round.
    */
  private[graft] def clustersOf(seedIds: DataFrame, base0: DataFrame): DataFrame = {
    val base = graft.core.Tables.spread(base0).persist()
    // one count() drives K — the only driver action; deterministic, so
    // the oracle can rebuild the same K from its own count(*)
    val n = base.count()
    val assign = cellAssignments(base, n)
    // narrow in-cell candidate pairs (ids only, skew-capped) over the
    // hot-cell-refined assignment, vectors joined back once
    val refined = refineHotCells(assign, base)
    val cand = inCellPairs(refined)
    // guardedSim here is defense in depth: Similarity.vecs excludes
    // zero-norm vectors at the source, so na*nb > 0 for every pair this
    // stage can currently see — but the guard keeps the stage safe (and
    // oracle-aligned: DuckDB's 0/0 = NaN passes >= Threshold) if that
    // source contract ever loosens
    // The pair set is materialized ONCE (localCheckpoint) before CC
    // consumes it, so the scratch caches are released immediately — the
    // d17 lifecycle-ownership discipline — and CC's jobs plan against
    // the tiny pair table, not the whole assignment + refinement lineage
    // (re-analysing that tree per job cost +5 s of wall at sf0.1 under
    // the hop loop's ~37 jobs, at identical stage/task totals). At sf0.1
    // (d08 140 edges, d27 156,661) CC finishes in driver memory in 4
    // jobs; the loop runs past Graph.InMemoryEdges.
    val pairs = cand
      .join(base.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na")), "ida")
      .join(base.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb")), "idb")
      .select(col("ida"), col("idb"),
        guardedSim(dot(col("va"), col("vb")), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= Threshold)
      .localCheckpoint()
    refined.unpersist(blocking = false)
    assign.unpersist(blocking = false)
    base.unpersist(blocking = false)
    Graph.connectedComponents(seedIds, pairs.select(col("ida"), col("idb")))
      .select(col("id").as("vec_id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).cast("long").as("kept"))
  }

  private def d08(s: SparkSession, dir: String): DataFrame =
    clustersOf(Tables.embeddings(s, dir).select(col("vec_id")),
      Similarity.vecs(s, dir))

  // K and the membership thresholds count FROM n — the zero-norm-
  // FILTERED population, the same frame the Spark side counts via
  // base.count() — not FROM embeddings: with >= 1 degenerate vector the
  // two counts differ, the floor(2^60*k/n) cuts land on different hash
  // fractions, and the engines pick different centroid sets
  // Parameterized by the population CTE name so s23 can run the SAME
  // K / threshold arithmetic against a subset population (nc); the
  // default "n" forms are byte-identical to what every existing oracle
  // splices.
  private[graft] def kSqlExprOn(nName: String) =
    s"greatest($MinCells, ((SELECT count(*) FROM $nName) + ${TargetCellRows - 1}) // $TargetCellRows)"
  private[graft] val kSqlExpr = kSqlExprOn("n")
  private[graft] def kcSqlExprOn(nName: String) =
    s"CAST(ceil(sqrt(CAST((${kSqlExprOn(nName)}) AS DOUBLE))) AS BIGINT)"
  private[graft] val kcSqlExpr = kcSqlExprOn("n")
  // floor(2^60 * k / n) in 128-bit (HUGEINT): the BIGINT hex60 value
  // compares against it with automatic promotion — same floor division
  // and the same clamp-free semantics as the Scala BigInt twin
  private[graft] def threshSql(kSql: String, nName: String = "n") =
    s"""(CAST(($kSql) AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)
       |  // CAST((SELECT count(*) FROM $nName) AS HUGEINT))""".stripMargin

  private def sqlSim(av: String, bv: String, an: String, bn: String) =
    s"""CASE WHEN $an * $bn > 0
       |  THEN ${Similarity.sqlDot(av, bv)} / ($an * $bn)
       |  ELSE -1e308 END""".stripMargin

  /** Full structural mirror: same corpus-scaled K and ceil(sqrt(K))
    * coarse size, same md5-threshold centroid membership, same
    * zero-norm sentinel and (csim DESC, cid ASC) tiebreak at BOTH
    * assignment levels AND the in-cell pair stage (an unguarded DuckDB
    * 0/0 is NaN, which >= threshold admits — divergent from the ANSI
    * Spark side, which would throw), the same hot-cell refinement
    * (sizes/subc/best/ref CTEs: salted-hash sub-sampling under the
    * HUGEINT twin of the Spark side's DECIMAL(38,0) threshold, the same
    * (sim DESC, scid ASC) argmax, the same "cell/scid" string ids), the
    * same rank-chained [[CellCap]] chunking of pair participation
    * (within-chunk plus adjacent-chunk, (least, greatest)-normalized),
    * transitive closure via recursive CTE.
    */
  /** The d08 oracle chain over an injectable population (`popCtes`
    * must define CTEs `v` and `n`) and CC seed set — d27 splices the
    * corpus ∪ planted union through the LITERAL same chain.
    */
  private def d08SqlOn(popCtes: String, seedsSql: String): String =
    s"""WITH RECURSIVE $popCtes,
       |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |      WHERE ${OracleSql.hex60("CAST(vec_id AS VARCHAR)")} < ${threshSql(kSqlExpr)}),
       |g AS (SELECT vec_id AS gid, v AS gv, nrm AS gnrm FROM n
       |      WHERE ${OracleSql.hex60("CAST(vec_id AS VARCHAR)")} < ${threshSql(kcSqlExpr)}),
       |ga AS (
       |  SELECT vec_id, gid FROM (
       |    SELECT n.vec_id, g.gid,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${sqlSim("n.v", "g.gv", "n.nrm", "g.gnrm")} DESC, g.gid) AS rn
       |    FROM n CROSS JOIN g)
       |  WHERE rn = 1),
       |ca AS (
       |  SELECT cid, gid FROM (
       |    SELECT c.cid, g.gid,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY
       |        ${sqlSim("c.cv", "g.gv", "c.cnrm", "g.gnrm")} DESC, g.gid) AS rn
       |    FROM c CROSS JOIN g)
       |  WHERE rn = 1),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT r.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY r.vec_id ORDER BY
       |        ${sqlSim("x.v", "c.cv", "x.nrm", "c.cnrm")} DESC, c.cid) AS rn
       |    FROM ga r JOIN n x ON r.vec_id = x.vec_id
       |      JOIN ca ON ca.gid = r.gid
       |      JOIN c ON c.cid = ca.cid)
       |  WHERE rn = 1),
       |sizes AS (SELECT cell, count(*) AS cnt FROM assign GROUP BY 1),
       |subc AS (
       |  SELECT a.cell, a.vec_id AS scid, x.v AS scv, x.nrm AS scnrm
       |  FROM assign a JOIN sizes s USING (cell) JOIN n x ON a.vec_id = x.vec_id
       |  WHERE s.cnt > $CellCap
       |    AND ${OracleSql.hex60("'r:' || CAST(a.vec_id AS VARCHAR)")} <
       |      (CAST(least($SubCellMax, (s.cnt + ${TargetCellRows - 1}) // $TargetCellRows) AS HUGEINT)
       |        * CAST(1152921504606846976 AS HUGEINT) // CAST(s.cnt AS HUGEINT))),
       |best AS (
       |  SELECT vec_id, scid FROM (
       |    SELECT m.vec_id, sc.scid,
       |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
       |        ${sqlSim("x.v", "sc.scv", "x.nrm", "sc.scnrm")} DESC, sc.scid) AS rn
       |    FROM assign m JOIN sizes s USING (cell)
       |      JOIN subc sc ON sc.cell = m.cell
       |      JOIN n x ON m.vec_id = x.vec_id
       |    WHERE s.cnt > $CellCap)
       |  WHERE rn = 1),
       |ref AS (
       |  SELECT a.vec_id,
       |    CASE WHEN b.scid IS NULL THEN CAST(a.cell AS VARCHAR)
       |         ELSE CAST(a.cell AS VARCHAR) || '/' || CAST(b.scid AS VARCHAR) END AS cell
       |  FROM assign a LEFT JOIN best b USING (vec_id)),
       |chunked AS (
       |  SELECT vec_id, cell, (rk - 1) // $CellCap AS chunk FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
       |      ORDER BY ${OracleSql.hex60("CAST(vec_id AS VARCHAR)")}, vec_id) AS rk
       |    FROM ref)),
       |pr AS (
       |  SELECT ida, idb FROM (
       |    SELECT least(a.vec_id, b.vec_id) AS ida, greatest(a.vec_id, b.vec_id) AS idb,
       |      ${sqlSim("x.v", "y.v", "x.nrm", "y.nrm")} AS sim
       |    FROM chunked a JOIN chunked b ON a.cell = b.cell
       |      AND b.chunk IN (a.chunk, a.chunk + 1)
       |      AND (a.chunk <> b.chunk OR a.vec_id < b.vec_id)
       |    JOIN n x ON least(a.vec_id, b.vec_id) = x.vec_id
       |    JOIN n y ON greatest(a.vec_id, b.vec_id) = y.vec_id)
       |  WHERE sim >= $Threshold),
       |${Graph.ccSqlCtes("pr", seedsSql)}
       |SELECT id AS vec_id, min(comp) AS cluster_id,
       |  CAST(id = min(comp) AS BIGINT) AS kept
       |FROM walk GROUP BY id""".stripMargin

  private val d08Sql =
    d08SqlOn(Similarity.oracleVecs, "SELECT vec_id, vec_id FROM embeddings")

  // ---- d27: the refinement path, permanently gate-certified ------------

  /** d27: d08 over corpus ∪ a PLANTED hot family — [[HotN]] identical
    * unit-direction vectors under synthetic ids. Identical vectors
    * co-assign unconditionally (every similarity ties at 1.0, every
    * argmax breaks on the same smallest cid), so exactly one cell
    * exceeds [[CellCap]] on ANY corpus and the hot-cell refinement
    * stages (sizes / subc / best / ref — the DECIMAL(38,0)-vs-HUGEINT
    * threshold arithmetic, the salted sub-sample, the (sim DESC, scid)
    * argmax, the "cell/scid" string ids) execute LIVE in both engines.
    * On the certified test corpora those CTEs are empty filters for
    * d08 itself (no honest cell exceeds the cap), which left the
    * refinement's cross-engine equivalence test-pinned on the Spark
    * side only (round-12 advice); this entry closes that by hashing
    * the full pipeline output against the DuckDB mirror every round.
    * Any real corpus rows sharing the hot cell exercise the argmax on
    * non-tied float similarities too.
    *
    * Scale shape: identical to d08 — the planted family is a bounded
    * [[HotN]]-row in-plan union, not a corpus-sized stage.
    */
  private[graft] val HotN = 560 // > CellCap = 512
  private[graft] val HotIdBase = 1000000L

  private def d27(s: SparkSession, dir: String): DataFrame = {
    val planted = s.range(HotN).select(
      (lit(HotIdBase) + col("id")).as("vec_id"),
      transform(sequence(lit(1), lit(Similarity.Dim)),
        _ => lit(0.1f).cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))))
    val seeds = Tables.embeddings(s, dir).select(col("vec_id"))
      .unionByName(s.range(HotN).select((lit(HotIdBase) + col("id")).as("vec_id")))
    clustersOf(seeds, Similarity.vecs(s, dir).unionByName(planted))
  }

  private val plantedPopCtes =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  UNION ALL
       |  SELECT $HotIdBase + r AS vec_id,
       |    list_transform(range(1, ${Similarity.Dim + 1}),
       |      i -> CAST(CAST(0.1 AS FLOAT) AS DOUBLE)) AS v
       |  FROM range($HotN) t(r)),
       |n AS (SELECT * FROM (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v)
       |  WHERE nrm > 0)""".stripMargin

  private val d27Sql = d08SqlOn(plantedPopCtes,
    s"""SELECT vec_id, vec_id FROM embeddings
       |  UNION ALL SELECT $HotIdBase + r, $HotIdBase + r FROM range($HotN) t(r)""".stripMargin)

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("d08_semantic_dedup", d08, Some(d08Sql)),
    QueryDef("d27_planted_refinement", d27, Some(d27Sql)),
  )
}
