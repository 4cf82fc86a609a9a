package graft.ops

import graft.core.Tables
import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline, over the
  * `documents` table — the full ladder:
  *
  *   d01 exact (hash groupBy) → d02 normalized-exact → d03 exact n-gram
  *   Jaccard (inverted-index join) → d04 MinHash+LSH (the 100 TB path)
  *   → d05 SimHash (bit-fingerprint blocking).
  *
  * Scale notes are on each operator; the common theme: everything is a
  * hash-partitioned shuffle on a dedup key (content hash, shingle, LSH
  * bucket, simhash band) — never an O(n²) comparison.
  */
object Dedup extends QueryModule {

  /** d01: exact dedup via content-hash groupBy. At 100 TB this is one
    * shuffle on md5(text); the keep-id choice (min doc_id) is the usual
    * deterministic survivor rule.
    */
  private def d01(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  private val d01Sql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)""".stripMargin

  /** d02: exact dedup after canonicalization (lowercase, trim, collapse
    * whitespace) — catches formatting-only duplicates.
    */
  private def d02(s: SparkSession, dir: String): DataFrame = {
    // explicit whitespace class: Java's \s includes \x0B, RE2's doesn't —
    // the class below means the same thing to both engines
    val norm = lower(trim(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " ")))
    Tables.documents(s, dir)
      .groupBy(md5(norm).as("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  private val d02Sql =
    """SELECT md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS norm_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** Distinct 3-word shingles of a document, as an array column — a native
    * expression: the composed transform/element_at form re-computed the
    * split per element and ran interpreted (see TextExpressions).
    */
  private[graft] def shingleArr(text: Column): Column =
    graft.functions.TextFunctions.word_shingles(text, 3)

  /** Shared oracle CTE: distinct 3-gram shingles per doc in DuckDB —
    * empty tokens dropped first, mirroring WordShingles' filter exactly
    * (string_split keeps empties on doubled/trailing spaces).
    */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
      |        FROM documents))""".stripMargin

  /** Document-frequency cap on shingles: a shingle appearing in more than
    * `DfCap` documents is boilerplate — it only ever connects documents
    * that share a template, and it fans out df² candidate pairs through
    * the self-join. Dropping those keys up front bounds the per-key join
    * fanout at DfCap² regardless of corpus skew (the 100 TB guard; AQE's
    * skew split covers the sub-cap residue). 100 is far above this
    * testdata's max df (25 at sf0.1), so the declared query's results are
    * unchanged and the DuckDB oracle needs no cap mirror; the capped-path
    * behavior itself is unit-tested with an injected boilerplate shingle
    * (OpsSpec).
    */
  private[graft] val DfCap = 100L

  /** Candidate pairs with common-shingle counts for an arbitrary
    * documents-shaped frame — the d03 core, factored out so tests can
    * drive it with synthetic corpora and custom caps.
    *
    * Plan shape: ONE shuffle builds the posting list per shingle key
    * (`collect_list` — bounded memory because the df cap filters the
    * list size), the native SortedIdPairs generator expands each list to
    * its candidate pairs in-place, and the pair aggregation is the only
    * other shuffle. The first cut persisted the exploded index and
    * self-joined it (three shuffles + a semi-join for the cap); the
    * posting-list form halves the shuffled volume and makes the cap a
    * plain filter.
    */
  /** (doc_id, shingle-array) projection — computed once and persisted:
    * d03 needs it for both the inverted index (exploded) and the per-doc
    * set sizes; without the cache the shingling kernel runs twice over
    * the corpus.
    */
  private def shingled(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), shingleArr(col("text")).as("sh")).persist()

  private[graft] def jaccardCandidates(docs: DataFrame, dfCap: Long): DataFrame =
    jaccardCandidatesFromShingled(shingled(docs), dfCap)

  private def jaccardCandidatesFromShingled(shdocs: DataFrame, dfCap: Long): DataFrame = {
    // aggregate on the 64-bit shingle hash, not the string: smaller
    // shuffle + faster key compare; collision probability ~1e-9 here.
    val sh = shdocs
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shkey"))
    sh.groupBy(col("shkey"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= dfCap)
      .select(graft.functions.TextFunctions.sorted_id_pairs(col("ids")).as(Seq("ida", "idb")))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("c"))
  }

  /** d03: exact n-gram Jaccard near-dup pairs via inverted-index self-join
    * (shuffle on shingle, never a crossJoin), with a document-frequency
    * cap bounding boilerplate fanout (see [[jaccardCandidatesFromShingled]]).
    */
  private def d03(s: SparkSession, dir: String): DataFrame = {
    val shdocs = shingled(Tables.documents(s, dir))
    // per-doc set size is just the shingle-array length: a row-level
    // projection joined to the pair stream — not a groupBy over the
    // exploded index. NO broadcast hint: sizes is one row PER DOCUMENT
    // (corpus-proportional — ScaleLint's uncapped-broadcast class), so
    // the planner must stay free to shuffle it at 100 TB; at test scale
    // the stats-based auto-broadcast picks the same broadcast plan the
    // hint forced
    val sizes = shdocs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    jaccardCandidatesFromShingled(shdocs, DfCap)
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("ida") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("idb") === col("doc_id")).drop("doc_id")
      .select(col("ida"), col("idb"), (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private val d03Sql =
    s"""WITH $shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT ida, idb, c / (sa.n + sb.n - c) AS jaccard
       |FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |WHERE c / (sa.n + sb.n - c) >= 0.5""".stripMargin

  // ---- d04: MinHash + LSH --------------------------------------------

  private val NumHashes = 128
  private val Bands     = 32 // x 4 rows per band
  private val Rows      = NumHashes / Bands

  // 31-bit parameters and base hashes (graft.Dedup31, splitmix64-derived):
  // a*h+b stays under 2^62, so the arithmetic is exact under Spark's
  // default ANSI mode (no long overflow).
  private val Mask31 = 0x7fffffffL
  private val (hashA, hashB) = graft.Dedup31.params(NumHashes)

  /** d04: MinHash signature → banded LSH bucketing → bucket join →
    * exact-Jaccard verification.
    *
    * Round 3: the per-shingle base hash is the lower 31 bits of the
    * shared md5-derived 60-bit hash (not xxhash64, which DuckDB lacks)
    * and band buckets are the signature slices themselves (joined as
    * strings), so the ORACLE is a full DuckDB mirror of the pipeline —
    * signatures, bands, candidates, verification — structural on any
    * corpus, replacing the former exact-pair-set oracle that encoded
    * this corpus's measured recall 1.0 (that property stays unit-tested
    * in OpsSpec).
    *
    * This is the 100 TB dedup path: cost is O(docs x 128 hashes) +
    * a shuffle on (band, bucket) + exact verification only within buckets.
    */
  /** The d04 front half, factored: shingled docs (persisted — reused by
    * signatures and verification joins) plus the BANDED LSH candidate
    * pair ids, pre-verification. d21 audits exactly this stage.
    */
  /** Shingled docs with per-shingle 31-bit base hashes — the shared
    * front of every MinHash consumer. Docs with <3 words have no
    * shingles: they can never be near-dups, and an all-MaxValue
    * signature would bucket every such doc together (and divide by zero
    * in the jaccard) — dropped up front.
    */
  private[graft] def shingledDocs(src: DataFrame): DataFrame = Tables.spread(src)
    .select(col("doc_id"), shingleArr(col("text")).as("sh"))
    .filter(size(col("sh")) > 0)
    // one 31-bit md5-derived base hash per shingle (native, one call
    // per row); each permutation is (a*h+b)&mask
    .withColumn("hs", graft.functions.TextFunctions.md5_hash31(col("sh")))

  /** (doc_id, band, bucket) rows of a shingled frame: the banded LSH
    * index — per-doc work, so banding delta and corpus separately costs
    * exactly one signature pass over their union (d22's seam).
    */
  private[graft] def bandedOf(docs: DataFrame): DataFrame = {
    val sig = graft.functions.TextFunctions.minhash_signature(
      col("hs"), hashA, hashB)
    docs
      .withColumn("sig", sig)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b =>
          concat_ws("_", slice(col("sig"), b * Rows + 1, Rows).cast("array<string>"))): _*))
          .as(Seq("band", "bucket")))
  }

  private def lshDocsAndCandidates(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = shingledDocs(Tables.documents(s, dir)).persist()
    // candidate pairs carry only ids through the bucket join + distinct;
    // the (fat) shingle arrays join back afterwards, once per unique pair.
    val banded = bandedOf(docs).persist()
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .dropDuplicates("ida", "idb")
    (docs, pairs)
  }

  private def d04(s: SparkSession, dir: String): DataFrame = {
    val (docs, pairs) = lshDocsAndCandidates(s, dir)
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    pairs
      .join(docs.select(col("doc_id").as("ida"), col("sh").as("sha")), "ida")
      .join(docs.select(col("doc_id").as("idb"), col("sh").as("shb")), "idb")
      .select(col("ida"), col("idb"),
        (inter / (size(col("sha")).cast("long") + size(col("shb")).cast("long") - inter)).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Full structural mirror of the d04 pipeline: md5-31-bit base hashes,
    * the same (a*h+b)&mask permutation minima (parameters interpolated
    * from [[graft.Dedup31]]), band slices as '_'-joined strings, bucket-
    * collision candidates, exact-Jaccard verification of candidates only.
    */
  /** The d04 candidate pipeline as a CTE prefix (shingles → 31-bit
    * hashes → permutation minima → band buckets → `cand` pair ids) —
    * shared verbatim by d04's verification tail and d21's stage audit.
    */
  /** The band-index prefix alone (shingles → 31-bit hashes →
    * permutation minima → band buckets) — shared by [[d04CandCtes]] and
    * d22's asymmetric delta-vs-corpus candidate CTE.
    */
  private val d04BandCtes = {
    val prm = (0 until NumHashes)
      .map(i => s"(${i}, ${hashA(i)}, ${hashB(i)})").mkString(", ")
    s"""$shingleCte,
       |h AS (
       |  SELECT doc_id, ${OracleSql.hex60("shingle")} & 2147483647 AS h31
       |  FROM sh),
       |prm(i, a, b) AS (VALUES $prm),
       |ps AS (
       |  SELECT doc_id, prm.i, min((prm.a * h.h31 + prm.b) & 2147483647) AS s
       |  FROM h CROSS JOIN prm GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(s ORDER BY i) AS sig FROM ps GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, bd, array_to_string(list_slice(sig, bd * $Rows + 1, bd * $Rows + $Rows), '_') AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS bd))""".stripMargin
  }

  private val d04CandCtes =
    s"""$d04BandCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM banded a JOIN banded b
       |    ON a.bd = b.bd AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin

  private val d04Sql =
    s"""WITH $d04CandCtes,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (
       |  SELECT c.ida, c.idb, count(*) AS c
       |  FROM cand c JOIN sh x ON x.doc_id = c.ida JOIN sh y ON y.doc_id = c.idb AND x.shingle = y.shingle
       |  GROUP BY 1, 2)
       |SELECT ida, idb, c / (sa.n + sb.n - c) AS jaccard
       |FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |WHERE c / (sa.n + sb.n - c) >= 0.5""".stripMargin

  /** d21: LSH candidate-stage quality audit — the sketch-tuning report
    * d15's per-pair estimator errors roll up to: the TRUE ≥0.5 pair set
    * (d03's exact inverted-index derivation), the d04 banded CANDIDATE
    * set (pre-verification), their intersection, and exact-integer ppm
    * recall (true pairs the bands caught — misses are unfixable by the
    * verify stage and bound d04's quality) and precision (candidates
    * that are true — the share of exact-verification work that pays
    * off). The bands/rows tradeoff is tuned BY this table.
    *
    * Scale shape: both pipelines are the shared factored stages (no new
    * join shapes); the report is three 1-row aggregates cross-joined —
    * aggregate-capped broadcasts, zero-guarded integer divisions.
    */
  private def d21(s: SparkSession, dir: String): DataFrame = {
    // NOT persisted (round-17 measurement): nc and nb are broadcast
    // sides of the final crossJoin, so their derivation jobs run
    // CONCURRENTLY with nt's main leg against independent scans —
    // persisting cand/truth serialized those legs on the cache build
    // and measured 2.1 s → 3.5 s at sf0.1 (the q25 three-scans lesson).
    val cand = lshDocsAndCandidates(s, dir)._2
    val truth = d03(s, dir).select(col("ida"), col("idb"))
    val nt = truth.groupBy().agg(count(lit(1)).as("n_true"))
    val nc = cand.groupBy().agg(count(lit(1)).as("n_candidates"))
    val nb = truth.join(cand, Seq("ida", "idb"))
      .groupBy().agg(count(lit(1)).as("n_caught"))
    nt.crossJoin(broadcast(nc)).crossJoin(broadcast(nb))
      .select(col("n_true"), col("n_candidates"), col("n_caught"),
        expr("n_caught * 1000000 DIV greatest(n_true, 1)").as("recall_ppm"),
        expr("n_caught * 1000000 DIV greatest(n_candidates, 1)").as("precision_ppm"))
  }

  private val d21Sql =
    s"""WITH $d04CandCtes,
       |tz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |tcm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |truth AS (SELECT ida, idb
       |          FROM tcm JOIN tz sa ON ida = sa.doc_id JOIN tz sb ON idb = sb.doc_id
       |          WHERE c / (sa.n + sb.n - c) >= 0.5),
       |nt AS (SELECT count(*) AS n_true FROM truth),
       |nc AS (SELECT count(*) AS n_candidates FROM cand),
       |nb AS (SELECT count(*) AS n_caught FROM truth JOIN cand USING (ida, idb))
       |SELECT nt.n_true, nc.n_candidates, nb.n_caught,
       |  nb.n_caught * 1000000 // greatest(nt.n_true, 1) AS recall_ppm,
       |  nb.n_caught * 1000000 // greatest(nc.n_candidates, 1) AS precision_ppm
       |FROM nt, nc, nb""".stripMargin

  /** d06: containment near-dup pairs — one-sided Jaccard,
    * c / min(|A|, |B|) >= 0.8. Catches the quote/extension case symmetric
    * Jaccard misses: a short document wholly contained in a long one has
    * low Jaccard (the union is large) but containment ~1. Same df-capped
    * posting-list candidates as d03; only the verification formula
    * differs.
    */
  private def d06(s: SparkSession, dir: String): DataFrame = {
    val shdocs = shingled(Tables.documents(s, dir))
    // no broadcast hint on the corpus-proportional sizes frame — see d03
    val sizes = shdocs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    jaccardCandidatesFromShingled(shdocs, DfCap)
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("ida") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("idb") === col("doc_id")).drop("doc_id")
      .select(col("ida"), col("idb"), (col("c") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("containment") >= 0.8)
  }

  private val d06Sql =
    s"""WITH $shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT ida, idb, c / least(sa.n, sb.n) AS containment
       |FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |WHERE c / least(sa.n, sb.n) >= 0.8""".stripMargin

  /** d07: dedup CLUSTERS — the step after pair detection that an actual
    * pipeline needs: connected components over the d03 near-dup pair
    * graph, labeling every document with the min doc_id of its duplicate
    * cluster (documents in no pair are their own singleton cluster).
    * Downstream "keep one per cluster" is then `filter(doc_id ===
    * cluster_id)`. Components via [[Graph.connectedComponents]] — see its
    * scale notes (union-find in driver memory up to Graph.InMemoryEdges
    * pairs, hash-partitioned label propagation past it).
    */
  /** The label frame shared by d07, d10, d19, p14 and p24 (CC over
    * the d03 pair graph), materialized ONCE per input
    * — the label-once production shape: one labeling per ingest, every
    * consumer reading the materialized frame (see
    * [[Graph.materializedOnce]] for the measured gain).
    */
  private[graft] def docClusterLabels(s: SparkSession, dir: String): DataFrame =
    Graph.materializedOnce(s,
      s"doc_cluster_labels|$dir|${Tables.fileFingerprint(s, s"$dir/documents.parquet")}") {
      Graph.connectedComponents(
        Tables.documents(s, dir).select(col("doc_id")),
        d03(s, dir).select(col("ida"), col("idb")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    }

  private def d07(s: SparkSession, dir: String): DataFrame =
    docClusterLabels(s, dir)

  /** Oracle: the same pair set (d03's CTEs), then transitive min-label
    * closure as a recursive CTE — `walk` carries every (node, candidate
    * label) pair reachable along symmetrized edges; min per node is the
    * component representative.
    */
  /** The d07 pipeline as a CTE prefix (pairs + CC closure + per-doc
    * labels) so composed rollups (d10) reuse the identical closure.
    */
  private[graft] val d07Ctes =
    s"""$shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pr AS (SELECT ida, idb
       |       FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |       WHERE c / (sa.n + sb.n - c) >= 0.5),
       |${Graph.ccSqlCtes("pr", "SELECT doc_id, doc_id FROM documents")},
       |labels AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id)""".stripMargin

  private val d07Sql =
    s"""WITH RECURSIVE $d07Ctes
       |SELECT doc_id, cluster_id FROM labels""".stripMargin

  /** d10: duplication profile — the cluster-SIZE histogram over d07's
    * clusters (how much of the corpus sits in 2-dup, 3-dup, … groups;
    * the number a dedup run reports before deleting anything). Two tiny
    * aggregations after the CC labels; the singleton count doubles as a
    * "corpus mostly unique" sanity signal.
    */
  /** d10's rollup given an (doc_id, cluster_id) label frame — two tiny
    * aggregations, sub-second when the labels are already materialized.
    */
  private[graft] def clusterHistogram(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  private def d10(s: SparkSession, dir: String): DataFrame =
    clusterHistogram(docClusterLabels(s, dir))

  private val d10Sql =
    s"""WITH RECURSIVE $d07Ctes,
       |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM labels GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY 1""".stripMargin

  // ---- d05: SimHash ---------------------------------------------------

  private val SimBits  = 60 // md5-derived hash width (15 hex chars < 2^63)
  private val SimBands = 4  // 4 x 15-bit bands: hamming<=3 => >=1 band equal

  /** d05: 60-bit SimHash fingerprint + banded blocking on 15-bit chunks +
    * hamming<=3 verification via bit_count(xor).
    *
    * The per-shingle hash is the top 60 bits of md5 (15 hex chars parsed
    * as an integer) rather than xxhash64 — identical bit quality, and
    * DuckDB can compute the same value, so the driver's gate gets a REAL
    * oracle (round 1 had to record no_oracle here). The banded blocking
    * is exact, not approximate: 3 differing bits cannot touch all 4
    * bands (pigeonhole), so the blocked pair set provably equals the
    * brute-force hamming<=3 pair set and the oracle can use the simple
    * all-pairs form.
    */
  /** (doc_id, simhash) fingerprints — exposed so the structural test can
    * brute-force-verify the banded blocking below is lossless.
    *
    * One row-local pass via the native SimHash60 expression: no explode,
    * no vote shuffle — the fingerprint is a scan-speed projection. (The
    * first cut exploded shingles into a 60-column sum(CASE) aggregate;
    * correct, but it pushed ~250k rows at sf0.1 through a shuffle that a
    * per-row loop replaces outright.) Docs with no shingles are dropped
    * up front — they have no fingerprint in the oracle either, and an
    * all-zero fingerprint would otherwise bucket every such doc together.
    */
  private[graft] def simhashFingerprints(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), shingleArr(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), graft.functions.TextFunctions.simhash60(col("sh")).as("simhash"))

  private def d05(s: SparkSession, dir: String): DataFrame = {
    val withFp = simhashFingerprints(Tables.documents(s, dir))
    val bandBits = SimBits / SimBands
    val banded = withFp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimBands).map(b =>
        shiftrightunsigned(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "chunk")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      // hamming is a pure function of the pair: filter BEFORE the
      // dedup shuffle so far-apart banded pairs never cross it
      .filter(col("hamming") <= 3)
      .dropDuplicates("ida", "idb")
  }

  /** Oracle: same fingerprints (md5-hex parsed arithmetically), brute
    * force pair scan — equal to the blocked plan by the pigeonhole
    * argument above, so this equality is structural, not data-dependent.
    */
  private val d05Sql =
    s"""WITH $shingleCte,
       |h AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(list_transform(range(1, 16), i -> substr(md5(shingle), i, 1)),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
       |  FROM sh),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $SimBits)) AS b)
       |  GROUP BY 1, 2),
       |fp AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |       FROM bits GROUP BY 1)
       |SELECT a.doc_id AS ida, b.doc_id AS idb,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** d09: duplicated-span coverage — for every document, what fraction
    * of its (distinct) 5-gram spans also appear in at least one other
    * document. The cheap scalable proxy for exact-substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better" — the suffix-array analysis): a doc with high
    * coverage is mostly boilerplate/copies even if no single pair
    * crosses a near-dup threshold. Two shuffles: span df, then the
    * per-doc count; the span semi-join carries ids only.
    */
  private val SpanN = 5

  /** DuckDB mirror of `word_shingles(_, SpanN)` exploded to one row per
    * distinct span, defined ONCE (the Sampling "defined once" rule): the
    * concat chain is generated from SpanN so d09 and d11 cannot drift
    * from each other or from a retuned span size.
    */
  private val spanUnnestSql: String = {
    val terms = (0 until SpanN).map(k => if (k == 0) "w[i]" else s"w[i+$k]")
      .mkString(" || ' ' || ")
    s"unnest(list_distinct(list_transform(range(1, len(w) - ${SpanN - 2}), i -> $terms))) AS g"
  }

  private def d09(s: SparkSession, dir: String): DataFrame = {
    // persisted: feeds both the span-df aggregation and the semi-join
    // probe side — uncached, the scan + shingling kernel would run twice
    val spans = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.word_shingles(col("text"), SpanN).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_spans"),
        explode(col("gs")).as("g"))
      .persist()
    val dup = spans.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("g"))
    spans
      .join(dup, Seq("g"), "left_semi")
      .groupBy(col("doc_id"), col("n_spans"))
      .agg(count(lit(1)).as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        (col("n_dup") / col("n_spans")).as("coverage"))
  }

  private val d09Sql =
    s"""WITH sp AS (
       |  SELECT doc_id, $spanUnnestSql
       |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
       |        FROM documents)),
       |sz AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
       |dup AS (SELECT g FROM sp GROUP BY g HAVING count(*) >= 2)
       |SELECT sp.doc_id, sz.n_spans, count(*) AS n_dup,
       |  count(*) / sz.n_spans AS coverage
       |FROM sp JOIN dup ON sp.g = dup.g JOIN sz ON sp.doc_id = sz.doc_id
       |GROUP BY sp.doc_id, sz.n_spans""".stripMargin

  /** d11 core: eval-set decontamination over any (doc_id, split, text)
    * frame — flag `train`-split documents sharing at least one distinct
    * [[SpanN]]-gram span with a `test`-split document, the n-gram-overlap
    * decontamination rule every LLM training-data pipeline runs before
    * shipping a corpus (Brown et al. 2020 appendix C use 13-grams; these
    * synthetic docs are short, so the d09 span size). Output: one row per
    * contaminated train doc — how many of its distinct spans hit the
    * eval set, and the smallest eval doc_id it collides with (the
    * attribution a human auditing the leak asks for first).
    *
    * Scale shape: an inverted-index equi-join on the span key, like d09.
    * The eval side is pre-reduced to ONE row per distinct eval span
    * (min doc_id for attribution), so per-posting join fanout is exactly
    * 1 and the join output is bounded by the train posting count — no
    * quadratic pair stage, no df cap needed. No broadcast hint: against
    * a real (tiny, external) benchmark set stats pick a broadcast join
    * on their own; against this self-split eval the side grows with the
    * corpus and MUST stay a shuffle join (ScaleLint kind-4 would flag
    * the hint). Factored over an arbitrary tagged frame so tests drive
    * it with synthetic splits.
    */
  private[graft] def decontaminate(tagged: DataFrame): DataFrame = {
    // persisted: the exploded span index feeds both the eval-span
    // reduction and the train probe side. The val split is audited by
    // neither consumer — drop it BEFORE the shingle kernel and explode
    // so its ~10% of the corpus costs nothing
    val spans = Tables.spread(tagged)
      .filter(col("split").isin("train", "test"))
      .select(col("doc_id"), col("split"),
        explode(graft.functions.TextFunctions.word_shingles(col("text"), SpanN)).as("g"))
      .persist()
    val evalSpans = spans.filter(col("split") === "test")
      .groupBy(col("g")).agg(min(col("doc_id")).as("eval_doc"))
    spans.filter(col("split") === "train")
      .join(evalSpans, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"), min(col("eval_doc")).as("first_eval_doc"))
  }

  /** d11: decontaminate THE p03 train/test partition — split membership
    * is `Sampling.splitOf` over the shared md5 hash, so the train set
    * being audited here is bit-identical to the one p03 ships and p09
    * drift-checks.
    */
  private def d11(s: SparkSession, dir: String): DataFrame = {
    val u = Sampling.uhash("split_", col("doc_id"))
    decontaminate(Tables.documents(s, dir)
      .select(col("doc_id"), Sampling.splitOf(u).as("split"), col("text")))
  }

  private val d11Sql =
    s"""WITH sp AS (
       |  SELECT doc_id, ${Sampling.splitCaseSql} AS split
       |  FROM (SELECT doc_id, ${Sampling.uhashSql("split_", "doc_id")} AS u FROM documents)),
       |gs AS (
       |  SELECT d.doc_id, sp.split, $spanUnnestSql
       |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
       |        FROM documents) d JOIN sp USING (doc_id)
       |  WHERE sp.split IN ('train', 'test')),
       |ev AS (SELECT g, min(doc_id) AS eval_doc FROM gs WHERE split = 'test' GROUP BY 1)
       |SELECT gs.doc_id, count(*) AS n_shared, min(ev.eval_doc) AS first_eval_doc
       |FROM gs JOIN ev USING (g) WHERE gs.split = 'train'
       |GROUP BY 1""".stripMargin

  // ---- d12: duplicated-segment scrub (CCNet-style) --------------------

  private val SegW = 8 // tokens per non-overlapping segment

  /** d12: duplicated-segment scrub — the CCNet line-dedup step
    * (Wenzek et al. 2020 §3.1 drop lines seen in other crawl shards;
    * these single-line synthetic docs get the token-segment analogue):
    * cut each document into non-overlapping [[SegW]]-token segments,
    * find segments appearing verbatim in ≥ 2 DISTINCT documents, and
    * report per doc the surviving text with every duplicated segment
    * removed — boilerplate (headers, navigation, license blocks) is
    * exactly the text that repeats across documents while the prose
    * around it doesn't. Unlike d09 (which SCORES span duplication),
    * d12 performs the removal a cleaning pipeline ships.
    *
    * Scale shape: one shuffle keyed on the segment text for the
    * doc-frequency aggregate (single-distinct — no Expand; ScaleLint
    * multi-distinct rule stays quiet), then an inverted-index-style
    * equi-join back to the segment stream and a per-doc re-assembly
    * grouped on doc_id. Join fanout per segment row is exactly 1 (the
    * dup side is distinct segments), so the join output is bounded by
    * the corpus segment count — never quadratic, no df cap needed. No
    * broadcast hint: the dup-segment set grows with the corpus
    * (ScaleLint kind-4 would flag it); stats may still pick a broadcast
    * at small SF on their own. Per-doc state is the doc's own segments
    * only — a 100 TB corpus streams through in segment-count time.
    *
    * Determinism: segments are exact strings; the survivor text is the
    * g-ordered re-join (array_sort on the (g, seg) struct vs array_agg
    * ORDER BY g — same total order, g is unique per doc); dup_ratio is
    * one int/int IEEE division. A doc whose every segment is duplicated
    * keeps empty text — the oracle coalesces its NULL-aggregate to ''
    * to match (5 such docs at sf0.01, so the edge is exercised).
    */
  /** d12 core over any (doc_id, text) frame — factored so tests can
    * plant cross-doc and within-doc duplicate segments directly.
    */
  private[graft] def segmentScrub(docs: DataFrame): DataFrame = {
    val w = filter(split(col("text"), " "), x => length(x) > 0)
    // persisted: feeds the df aggregate and the join probe side.
    // NOT spread: the segment kernel is a plain split/slice (no hashing),
    // and the parallelism floor measured d12 0.81 s → 1.16 s at sf0.1.
    val segs = docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(SegW))).as("st"))
      .select(col("doc_id"), (col("st") / SegW).cast("long").as("g"),
        array_join(slice(col("w"), col("st") + 1, lit(SegW)), " ").as("seg"))
      .persist()
    val dup = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("seg"), lit(1L).as("isdup"))
    segs.join(dup, Seq("seg"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        coalesce(sum(col("isdup")), lit(0L)).as("n_dup_segs"),
        // collect_list skips the null struct for dup segments; sort by g
        array_join(
          transform(
            array_sort(collect_list(when(col("isdup").isNull,
              struct(col("g"), col("seg"))))),
            x => x.getField("seg")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
        (col("n_dup_segs") / col("n_segs")).as("dup_ratio"), col("clean_text"))
  }

  private def d12(s: SparkSession, dir: String): DataFrame =
    segmentScrub(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** The d12 pipeline as a reusable CTE block ending in `scrub`
    * (doc_id, n_segs, n_dup_segs, dup_ratio, clean_text) — shared with
    * the composed clean→chunk pipeline's oracle (p13) exactly as the
    * Spark side shares [[segmentScrub]].
    */
  private[graft] val segScrubCte =
    s"""t AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
       |  FROM documents),
       |segs AS (
       |  SELECT doc_id, CAST(st // $SegW AS BIGINT) AS g,
       |    array_to_string(w[(st+1):(st+$SegW)], ' ') AS seg
       |  FROM (SELECT doc_id, w, unnest(range(0, len(w), $SegW)) AS st
       |        FROM t WHERE len(w) > 0)),
       |dup AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 2),
       |scrub AS (
       |  SELECT segs.doc_id,
       |    count(*) AS n_segs,
       |    CAST(count(dup.seg) AS BIGINT) AS n_dup_segs,
       |    count(dup.seg) / count(*) AS dup_ratio,
       |    coalesce(array_to_string(
       |      array_agg(segs.seg ORDER BY segs.g) FILTER (WHERE dup.seg IS NULL), ' '),
       |      '') AS clean_text
       |  FROM segs LEFT JOIN dup ON segs.seg = dup.seg
       |  GROUP BY segs.doc_id)""".stripMargin

  private val d12Sql =
    s"""WITH $segScrubCte
       |SELECT doc_id, n_segs, n_dup_segs, dup_ratio, clean_text FROM scrub""".stripMargin

  // ---- d13: incremental (Δ-vs-corpus) dedup ---------------------------

  /** d13: INCREMENTAL dedup — the daily-ingest shape every production
    * corpus actually runs: a new batch Δ arrives and each new document is
    * classified against the EXISTING corpus (and never corpus-vs-corpus,
    * which was settled at the previous ingest):
    *
    *   - `exact`: normalized content hash already present in the corpus
    *     (dup_of = smallest such corpus doc);
    *   - `near`:  3-gram Jaccard ≥ 0.5 with some corpus doc (dup_of =
    *     the best match — highest Jaccard, ties to smallest doc_id);
    *   - `new`:   neither (dup_of null) — the only rows that proceed to
    *     ingestion.
    *
    * The declared query simulates the split deterministically: Δ =
    * `doc_id % 10 == 0` (a tenth of the corpus as "today's batch").
    *
    * Scale shape — the point of the operator: work is proportional to
    * |Δ| + touched postings, NOT the corpus. The exact check is a
    * hash-keyed join of Δ against a corpus-hash table pre-reduced to one
    * row per hash; the near check joins Δ's shingles against the corpus
    * inverted index, so only postings for shingles that actually occur
    * in Δ move — at 100 TB the corpus index is a materialized table
    * (same pattern as Graph.materializedOnce labels) and an ingest
    * re-shuffles only the day's delta. Corpus-side postings keep d03's
    * df-cap as the boilerplate/fanout guard (a shingle in > DfCap corpus
    * docs connects nothing but templates; cap far above this testdata's
    * max df, so the oracle needs no mirror — the capped path is
    * unit-tested in OpsSpec for d03's shared machinery).
    */
  private[graft] def incrementalDedup(delta: DataFrame, corpus: DataFrame): DataFrame = {
    val norm = md5(lower(trim(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " "))))
    val corpusHash = corpus.select(norm.as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("exact_of"))
    val exact = delta.select(col("doc_id"), norm.as("h"))
      .join(corpusHash, Seq("h"), "left_outer")
      .select(col("doc_id"), col("exact_of"))

    val dsh = delta.select(col("doc_id").as("d_id"), shingleArr(col("text")).as("sh"))
      .select(col("d_id"), size(col("sh")).as("dn"), explode(col("sh")).as("shingle"))
    // persisted: feeds the df-cap aggregate AND the anti-join probe —
    // without the cache the corpus shingling kernel runs twice (the
    // exact trap d03's shingled() cache documents)
    val cshAll = corpus.select(col("doc_id").as("c_id"), shingleArr(col("text")).as("sh"))
      .select(col("c_id"), size(col("sh")).as("cn"), explode(col("sh")).as("shingle"))
      .persist()
    // df-cap on the corpus posting side — the join-fanout driver
    val hot = cshAll.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select(col("shingle"))
    val csh = cshAll.join(hot, Seq("shingle"), "left_anti")
    val near = dsh.join(csh, Seq("shingle"))
      .groupBy(col("d_id"), col("c_id"), col("dn"), col("cn"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", col("c") / (col("dn") + col("cn") - col("c")))
      .filter(col("jac") >= 0.5)
    val best = near
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("d_id"))
          .orderBy(col("jac").desc, col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("d_id").as("doc_id"), col("c_id").as("near_of"))

    exact.join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact"))
          .when(col("near_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  private def d13(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    incrementalDedup(
      docs.filter(col("doc_id") % 10 === 0),
      docs.filter(col("doc_id") % 10 =!= 0))
  }

  private val d13Sql =
    """WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |ch AS (
      |  SELECT md5(lower(trim(regexp_replace(text,'[ \t\n\x0B\f\r]+',' ','g')))) AS h,
      |    min(doc_id) AS exact_of
      |  FROM corpus GROUP BY 1),
      |dh AS (
      |  SELECT doc_id, md5(lower(trim(regexp_replace(text,'[ \t\n\x0B\f\r]+',' ','g')))) AS h
      |  FROM delta),
      |dsh AS (
      |  SELECT doc_id AS d_id, len(sh) AS dn, unnest(sh) AS shingle
      |  FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
      |              FROM delta))),
      |csh AS (
      |  SELECT doc_id AS c_id, len(sh) AS cn, unnest(sh) AS shingle
      |  FROM (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
      |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |        FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
      |              FROM corpus))),
      |near AS (
      |  SELECT d_id, c_id, dn, cn, count(*) AS c
      |  FROM dsh JOIN csh USING (shingle)
      |  GROUP BY 1, 2, 3, 4),
      |best AS (
      |  SELECT d_id AS doc_id, c_id AS near_of
      |  FROM (SELECT d_id, c_id, row_number() OVER (
      |          PARTITION BY d_id
      |          ORDER BY c / (dn + cn - c) DESC, c_id) AS rn
      |        FROM near WHERE c / (dn + cn - c) >= 0.5)
      |  WHERE rn = 1)
      |SELECT dh.doc_id,
      |  CASE WHEN ch.exact_of IS NOT NULL THEN 'exact'
      |       WHEN best.near_of IS NOT NULL THEN 'near'
      |       ELSE 'new' END AS verdict,
      |  coalesce(ch.exact_of, best.near_of) AS dup_of
      |FROM dh
      |LEFT JOIN ch USING (h)
      |LEFT JOIN best ON dh.doc_id = best.doc_id""".stripMargin

  // ---- d15: MinHash estimator audit -----------------------------------

  /** d15: MinHash ESTIMATE-vs-EXACT audit — before trusting the d04
    * sketch at corpus scale, measure it: for every banded candidate
    * pair, the signature-agreement estimate (matching components / 128),
    * the exact shingle Jaccard, and the absolute estimator error. The
    * report is what sizes NumHashes for a production run — a fat error
    * tail says buy more hashes, a thin one says the sketch can stand in
    * for the exact join. (Same per-pair cost shape as d04: candidates
    * come from the banding, never all-pairs; signatures and shingle sets
    * each join back by id once per unique pair.)
    *
    * Determinism: matches is exact integer agreement of identically-
    * derived signatures; est is one division by the 128.0 literal;
    * jaccard is d04's int/int division; err_abs one IEEE subtraction —
    * all mirrored token-for-token, so the gate hashes exact equality,
    * not an error-bound contract.
    */
  private def d15(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), shingleArr(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", graft.functions.TextFunctions.md5_hash31(col("sh")))
      .withColumn("sig", graft.functions.TextFunctions.minhash_signature(
        col("hs"), hashA, hashB))
      .persist()
    val banded = docs
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(b =>
          concat_ws("_", slice(col("sig"), b * Rows + 1, Rows).cast("array<string>"))): _*))
          .as(Seq("band", "bucket")))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .dropDuplicates("ida", "idb")
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    val matches = size(filter(
      zip_with(col("siga"), col("sigb"), (x, y) => x === y), b => b)).cast("long")
    pairs
      .join(docs.select(col("doc_id").as("ida"), col("sh").as("sha"), col("sig").as("siga")), "ida")
      .join(docs.select(col("doc_id").as("idb"), col("sh").as("shb"), col("sig").as("sigb")), "idb")
      .select(col("ida"), col("idb"),
        matches.as("matches"),
        (inter / (size(col("sha")).cast("long") + size(col("shb")).cast("long") - inter)).as("jaccard"))
      .select(col("ida"), col("idb"), col("matches"),
        (col("matches").cast("double") / lit(128.0)).as("est"),
        col("jaccard"),
        abs((col("matches").cast("double") / lit(128.0)) - col("jaccard")).as("err_abs"))
  }

  /** Oracle: the d04 structural mirror extended with the component-
    * agreement count over the same ordered signatures.
    */
  private val d15Sql = {
    val prm = (0 until NumHashes)
      .map(i => s"(${i}, ${hashA(i)}, ${hashB(i)})").mkString(", ")
    s"""WITH $shingleCte,
       |h AS (
       |  SELECT doc_id, ${OracleSql.hex60("shingle")} & 2147483647 AS h31
       |  FROM sh),
       |prm(i, a, b) AS (VALUES $prm),
       |ps AS (
       |  SELECT doc_id, prm.i, min((prm.a * h.h31 + prm.b) & 2147483647) AS s
       |  FROM h CROSS JOIN prm GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(s ORDER BY i) AS sig FROM ps GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, bd, array_to_string(list_slice(sig, bd * $Rows + 1, bd * $Rows + $Rows), '_') AS bucket
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $Bands)) AS bd)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM banded a JOIN banded b
       |    ON a.bd = b.bd AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (
       |  SELECT c.ida, c.idb, count(*) AS c
       |  FROM cand c JOIN sh x ON x.doc_id = c.ida JOIN sh y ON y.doc_id = c.idb AND x.shingle = y.shingle
       |  GROUP BY 1, 2),
       |mt AS (
       |  SELECT cand.ida, cand.idb,
       |    CAST(len(list_filter(list_transform(range(1, ${NumHashes + 1}),
       |      j -> sa.sig[j] = sb.sig[j]), x -> x)) AS BIGINT) AS matches
       |  FROM cand JOIN sigs sa ON sa.doc_id = cand.ida
       |            JOIN sigs sb ON sb.doc_id = cand.idb)
       |SELECT mt.ida, mt.idb, mt.matches,
       |  CAST(mt.matches AS DOUBLE) / 128.0 AS est,
       |  coalesce(cm.c, 0) / (sa.n + sb.n - coalesce(cm.c, 0)) AS jaccard,
       |  abs(CAST(mt.matches AS DOUBLE) / 128.0
       |      - coalesce(cm.c, 0) / (sa.n + sb.n - coalesce(cm.c, 0))) AS err_abs
       |-- LEFT join: a banded candidate with ZERO shared shingles (a pure
       |-- bucket false positive) must appear with jaccard 0 — those are
       |-- exactly the estimator errors the audit exists to surface
       |FROM mt
       |LEFT JOIN cm ON cm.ida = mt.ida AND cm.idb = mt.idb
       |JOIN sz sa ON mt.ida = sa.doc_id JOIN sz sb ON mt.idb = sb.doc_id""".stripMargin
  }

  // ---- d14: edit-distance near-dup (SimHash-blocked Levenshtein) ------

  /** Max edit distance — and, by the |len(a)−len(b)| ≤ K lower bound,
    * the candidate length-gap prefilter.
    */
  private val EditK = 8L

  /** d14: EDIT-DISTANCE near-dup — catches the near-dup class shingle
    * Jaccard (d03) under-weights: small in-place character edits (typo
    * fixes, re-punctuation, entity swaps) that break every 3-gram they
    * touch while leaving the string 99% identical. Candidates come from
    * d05's SimHash banded blocking (4 × 15-bit bands) plus the exact
    * |len(a)−len(b)| ≤ K length gate (a true edit-distance lower bound,
    * applied INSIDE the band join so far-apart pairs never reach the
    * verify stage); survivors are verified with full Levenshtein ≤ K.
    * Blocking is approximate by construction (an edit can flip > 3
    * fingerprint bits) — the oracle therefore mirrors the BLOCKED
    * pipeline structurally, stage for stage, rather than a brute-force
    * form: matching hashes certify fingerprints, banding, the length
    * gate, and every verified distance.
    *
    * Scale shape: fingerprint+length is a row-local scan projection
    * (native SimHash60 expression); the band self-join is the d05 shape
    * (shuffle on (band, chunk), never all-pairs); texts are fetched for
    * DEDUPED candidates only, via two hash joins on doc_id; the O(K·len)
    * Levenshtein runs once per surviving candidate. At 100 TB the verify
    * cost is bounded by the banded candidate count — the same contract
    * d05 documents — not by corpus².
    */
  /** d14 core over any (doc_id, text) frame — factored so tests can
    * plant known-distance edit pairs.
    */
  private[graft] def editDistNearDup(docs: DataFrame): DataFrame = {
    val bandBits = SimBits / SimBands
    val fp = Tables.spread(docs)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        shingleArr(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("len"),
        graft.functions.TextFunctions.simhash60(col("sh")).as("simhash"))
    val banded = fp.select(col("doc_id"), col("len"),
      posexplode(array((0 until SimBands).map(b =>
        shiftrightunsigned(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "chunk")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= EditK)
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .dropDuplicates("ida", "idb")
    cand
      .join(docs.select(col("doc_id").as("ida"), col("text").as("ta")), "ida")
      .join(docs.select(col("doc_id").as("idb"), col("text").as("tb")), "idb")
      .select(col("ida"), col("idb"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
      .filter(col("dist") <= EditK)
  }

  private def d14(s: SparkSession, dir: String): DataFrame =
    editDistNearDup(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** Oracle: the identical blocked pipeline — d05's md5-derived SimHash
    * fingerprint CTEs, the same band/chunk split, length gate, candidate
    * dedup, and Levenshtein verification.
    */
  private val d14Sql = {
    val bandBits = SimBits / SimBands
    val mask = (1L << bandBits) - 1
    s"""WITH $shingleCte,
       |h AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(list_transform(range(1, 16), i -> substr(md5(shingle), i, 1)),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
       |  FROM sh),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $SimBits)) AS b)
       |  GROUP BY 1, 2),
       |fp AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |       FROM bits GROUP BY 1),
       |fl AS (
       |  SELECT fp.doc_id, fp.simhash, CAST(length(d.text) AS BIGINT) AS len
       |  FROM fp JOIN documents d USING (doc_id)),
       |banded AS (
       |  SELECT doc_id, len, b AS band, (simhash >> (b * $bandBits)) & $mask AS chunk
       |  FROM fl CROSS JOIN (SELECT unnest(range(0, $SimBands)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |   AND abs(a.len - b.len) <= $EditK)
       |SELECT ida, idb, dist FROM (
       |  SELECT cand.ida, cand.idb,
       |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
       |  FROM cand
       |  JOIN documents ta ON ta.doc_id = cand.ida
       |  JOIN documents tb ON tb.doc_id = cand.idb)
       |WHERE dist <= $EditK""".stripMargin
  }

  // ---- d22: incremental MinHash-LSH (delta vs corpus index) ----------

  /** d22: INCREMENTAL MinHash-LSH — the sketch-index variant of d13's
    * daily-ingest near-dup check. The corpus side's (doc_id, band,
    * bucket) rows are exactly the materialized LSH index a production
    * pipeline keeps between ingests; the day's delta (the d13 split,
    * `doc_id % 10 == 0`) computes signatures for ITS docs only and
    * equi-joins the index on (band, bucket) — work ∝ |Δ| signatures +
    * bucket-hit candidates, never corpus×corpus (settled at previous
    * ingests) and never a re-bucketing of the corpus. Candidates verify
    * with exact Jaccard; each delta doc reports its best match (highest
    * Jaccard, ties to the smallest corpus id) or `new`.
    *
    * vs d13: d13 probes the exact shingle inverted index (recall 1 by
    * construction, postings-bounded fanout); d22 probes the banded
    * sketch index (recall set by the bands/rows point d21 audits,
    * bucket-bounded fanout, 128-int signatures instead of full posting
    * lists as the persistent index). At 100 TB the sketch index is the
    * one that fits: O(docs) fixed-width rows, refreshed incrementally
    * by appending the day's banded delta.
    */
  /** The d22 classify kernel, factored over an ARBITRARY delta frame and
    * a materialized corpus index — one definition serving the batch
    * ingest (d22) and the live one (es24's per-micro-batch call), so
    * the two cannot drift. `deltaDocs` is a raw documents-shaped frame
    * (its shingles compute here, row-locally); `corpusSh`/`corpusIdx`
    * are the shingled corpus and its (doc_id, band, bucket) sketch
    * index — the state a production pipeline keeps between ingests
    * (refreshed by d23's append law). Work ∝ |Δ| signatures + bucket
    * hits; the corpus is only ever probed by equi-join.
    */
  private[graft] def classifyDelta(deltaDocs: DataFrame, corpusSh: DataFrame,
      corpusIdx: DataFrame): DataFrame = {
    val dSh = shingledDocs(deltaDocs)
    val cand = bandedOf(dSh).as("a")
      .join(corpusIdx.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("d_id"), col("b.doc_id").as("c_id"))
      .dropDuplicates("d_id", "c_id")
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    val verified = cand
      .join(dSh.select(col("doc_id").as("d_id"), col("sh").as("sha")), "d_id")
      .join(corpusSh.select(col("doc_id").as("c_id"), col("sh").as("shb")), "c_id")
      .select(col("d_id"), col("c_id"),
        (inter / (size(col("sha")).cast("long") + size(col("shb")).cast("long") - inter)).as("jac"))
      .filter(col("jac") >= 0.5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d_id")).orderBy(col("jac").desc, col("c_id"))
    val best = verified
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("d_id").as("doc_id"), col("c_id").as("dup_of"), col("jac").as("jaccard"))
    deltaDocs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        when(col("dup_of").isNull, "new").otherwise("near").as("verdict"))
  }

  private def d22(s: SparkSession, dir: String): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val corpusSh = shingledDocs(Tables.documents(s, dir).filter(!isDelta)).persist()
    classifyDelta(Tables.documents(s, dir).filter(isDelta),
      corpusSh, bandedOf(corpusSh))
  }

  /** Shared with es24 (the same classify kernel run live — single-batch
    * ingest against the same static index emits exactly this set).
    */
  private[graft] val d22Sql =
    s"""WITH $d04BandCtes,
       |cand22 AS (
       |  SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS c_id
       |  FROM banded a JOIN banded b
       |    ON a.bd = b.bd AND a.bucket = b.bucket
       |   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (
       |  SELECT c.d_id, c.c_id, count(*) AS c
       |  FROM cand22 c JOIN sh x ON x.doc_id = c.d_id
       |  JOIN sh y ON y.doc_id = c.c_id AND x.shingle = y.shingle
       |  GROUP BY 1, 2),
       |vr AS (
       |  SELECT d_id, c_id, c / (sa.n + sb.n - c) AS jac
       |  FROM cm JOIN sz sa ON d_id = sa.doc_id JOIN sz sb ON c_id = sb.doc_id
       |  WHERE c / (sa.n + sb.n - c) >= 0.5),
       |best AS (
       |  SELECT d_id, c_id, jac FROM (
       |    SELECT d_id, c_id, jac,
       |      row_number() OVER (PARTITION BY d_id ORDER BY jac DESC, c_id) AS rn
       |    FROM vr)
       |  WHERE rn = 1)
       |SELECT d.doc_id, best.c_id AS dup_of, best.jac AS jaccard,
       |  CASE WHEN best.c_id IS NULL THEN 'new' ELSE 'near' END AS verdict
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN best ON d.doc_id = best.d_id""".stripMargin

  // ---- d23: the index-append law, gated -------------------------------

  /** d23: d22's INDEX-APPEND LAW as a gated query — a production
    * pipeline never rebuilds the banded sketch index; it appends the
    * day's banded delta to the stored corpus index. This entry computes
    * the full index THAT way — bandedOf(corpus half) ∪ bandedOf(delta
    * half), two independent signature passes over the d22 split — while
    * the oracle rebuilds the index in ONE pass over all documents; the
    * row-level hash match certifies banded(corpus ∪ Δ) ≡ banded(corpus)
    * ∪ banded(Δ), i.e. signatures are strictly per-doc and the
    * incremental maintenance d22 relies on is exact. The sketch-index
    * analogue of p18's algebraic-merge law (and the engine's analogue
    * of the reference's idempotent re-execution guarantee,
    * master.go:39-72: re-deriving a partition yields the identical
    * artifact). A two-ingest replay of the same law runs in ScalaTest.
    *
    * Scale shape: banding is per-doc (no cross-doc state — that is the
    * law), so each half pays one |half| signature pass and the union is
    * a zero-shuffle concatenation; no joins, no aggregates.
    */
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val all = shingledDocs(Tables.documents(s, dir)).persist()
    val isDelta = col("doc_id") % 10 === 0
    bandedOf(all.filter(!isDelta))
      .unionByName(bandedOf(all.filter(isDelta)))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("bucket"))
  }

  private val d23Sql =
    s"""WITH $d04BandCtes
       |SELECT doc_id, bd AS band, bucket FROM banded""".stripMargin

  // ---- d24: shard-merged source sketches + estimated overlap matrix ----

  /** d24: the SET-level MinHash MERGE LAW put to work — d23 certifies
    * per-doc banding commutes with union; d24 certifies the
    * AGGREGATION-level law a sharded deployment leans on: the corpus
    * signature of a source, minhash(∪ docs) = elementwise-min of the
    * docs' signatures, can be built per SHARD and merged by another
    * elementwise min — no shard ever sees another's raw text. The
    * Spark side computes each source's 128-component signature
    * explicitly that way (per-shard partial min → cross-shard merge
    * min); the oracle builds it in ONE pass per source — the hash
    * match IS the merge law. The signatures then pay off as the
    * source×source ESTIMATED-Jaccard matrix (matching components /
    * [[NumHashes]], the classic MinHash estimator) — d18's exact
    * overlap matrix at a 128-long-per-source cost instead of a
    * shingle-level join, the version that is affordable weekly at
    * 100 TB.
    *
    * Scale shape: one shingle pass, one (source, shard, i) partial
    * aggregate with map-side combine, a (source, i) merge aggregate
    * (≤ sources·shards·128 rows), and an S×S broadcast self-join on
    * 128-long arrays — S is the source count, never the corpus. The
    * estimator's error (±1/√128 ≈ 0.09) is the documented trade
    * against d18's exact join.
    *
    * Determinism: signatures are integer min-folds of the shared
    * md5-derived permutations (d04's machinery, one definition);
    * n_match is an integer sum; est_jaccard is one exact division by
    * 128; pairs order ties on the source strings.
    */
  /** Per-source merged MinHash sketch, built the SHARDED way: each of
    * `shards` id-hash shards aggregates its partial elementwise-min
    * independently, then the shards merge by the same min. The law the
    * spec replay pins: the result is invariant to `shards`.
    */
  /** A document frame's PARTIAL sketch rows (source, i, v): per-source
    * per-permutation min over just this frame — what one shard (d24) or
    * one micro-batch (es27) contributes before the merge.
    */
  private[graft] def partialSketchRows(docs: DataFrame): DataFrame =
    shingledDocs(docs)
      .withColumn("sig",
        graft.functions.TextFunctions.minhash_signature(col("hs"), hashA, hashB))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), posexplode(col("sig")).as(Seq("i", "v")))
      .groupBy(col("source"), col("i"))
      .agg(min(col("v")).as("v"))

  /** Merge partial sketch rows (possibly several per (source, i)) by
    * the same elementwise min — the LAW — and assemble per-source
    * signature arrays.
    */
  private[graft] def sketchArrays(rows: DataFrame): DataFrame =
    rows.groupBy(col("source"), col("i"))
      .agg(min(col("v")).as("v"))
      .groupBy(col("source"))
      .agg(expr("transform(array_sort(collect_list(struct(i, v))), e -> e.v)").as("sig"))

  /** The pairwise payoff: (src_a, src_b, n_match, est_jaccard) over the
    * S-row sketch table (S×S broadcast self-join; S = source count).
    */
  private[graft] def sketchMatrix(perSource: DataFrame): DataFrame = {
    val a = perSource.select(col("source").as("src_a"), col("sig").as("sa"))
    val b = perSource.select(col("source").as("src_b"), col("sig").as("sb"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END)," +
          " 0L, (acc, e) -> acc + e)").as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        (col("n_match").cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
  }

  private[graft] def sourceSketches(s: SparkSession, dir: String, shards: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    // shard split (the d22/d23 seam): each shard's partial sketch is
    // computed independently, then merged by the same elementwise min
    sketchArrays((0 until shards)
      .map(sh => partialSketchRows(docs.filter(col("doc_id") % shards === sh)))
      .reduce(_ unionByName _))
  }

  private def d24(s: SparkSession, dir: String): DataFrame =
    sketchMatrix(sourceSketches(s, dir, 2))

  private[graft] val d24Sql = {
    val prm = (0 until NumHashes)
      .map(i => s"(${i}, ${hashA(i)}, ${hashB(i)})").mkString(", ")
    s"""WITH $shingleCte,
       |h AS (
       |  SELECT doc_id, ${OracleSql.hex60("shingle")} & 2147483647 AS h31
       |  FROM sh),
       |prm(i, a, b) AS (VALUES $prm),
       |ps AS (
       |  SELECT doc_id, prm.i, min((prm.a * h.h31 + prm.b) & 2147483647) AS s
       |  FROM h CROSS JOIN prm GROUP BY 1, 2),
       |ssig AS (
       |  SELECT d.source, ps.i, min(ps.s) AS v
       |  FROM ps JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2),
       |nm AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM ssig a JOIN ssig b ON a.i = b.i AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_match,
       |  CAST(n_match AS DOUBLE) / $NumHashes.0 AS est_jaccard
       |FROM nm""".stripMargin
  }

  // ---- d25: cross-doc duplicated SPANS (exact-substring dedup) --------

  private val SpanGram = 8 // tokens per overlapping gram

  /** d25: span-level exact-substring duplication — the published
    * "dedup training data" granularity d12's fixed non-overlapping
    * segments can't see (a 40-token verbatim quote straddling two
    * segment boundaries marks neither segment; here it marks 33
    * overlapping grams): every OVERLAPPING [[SpanGram]]-token gram of
    * every document, grams verbatim-shared by ≥ 2 DISTINCT documents,
    * and per document the MAXIMAL consecutive runs of duplicated grams
    * (the gaps-and-islands trick on gram positions — e13's machinery)
    * reported as spans: span_tokens = gram run + [[SpanGram]] − 1.
    * Output per doc: duplicated-span count and the longest span — the
    * two numbers a span-scrub policy thresholds on.
    *
    * Scale shape: the gram stream is corpus tokens × 1 (each position
    * opens one gram — row-local generate, no shuffle); the dup-gram
    * set is one hash aggregate with map-side combine over the gram's
    * 60-BIT HASH (the shared md5 fold, [[Sampling.hash60]] /
    * [[OracleSql.hex60]]): every downstream consumer — the ≥2-docs
    * aggregate and the mark semi-join — needs only EQUALITY of grams,
    * so shipping the ~60-byte token string through the exchange is
    * pure shuffle weight; the 8-byte key cuts it ~7× at any corpus
    * size. Collisions would need two distinct grams sharing a 60-bit
    * md5 prefix (~n²/2^61 for n distinct grams — at 10^12 grams still
    * ≪1 expected); the hashed≡string law is pinned in Round13Spec on
    * real and planted corpora, and the oracle mirrors the hash with
    * hex60 (d04's precedent). Marking is an equi-join on the hash; the
    * island windows partition BY DOC (bounded by document length,
    * never corpus-sized). No all-pairs stage exists — this is d12's
    * linear shape at overlapping granularity.
    *
    * Determinism: the key is an exact md5-prefix integer; positions/run
    * arithmetic is all-integer; per-doc zero-fill via left join
    * mirrored in SQL.
    */
  /** The overlapping [[SpanGram]]-token gram stream of a (doc_id,
    * text) frame: (doc_id, gpos, gram) — a row-local generate, no
    * shuffle. Shared by d25 (corpus-wide), d26 (delta-vs-corpus), and
    * es28 (per micro-batch at ingest).
    */
  private[graft] def gramStream(docs: DataFrame): DataFrame =
    Tables.spread(docs).select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("w"))
      .filter(size(col("w")) >= SpanGram)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (SpanGram - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(SpanGram))))).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("gpos"), col("gram"))

  /** The gram stream re-keyed for the EXCHANGE: (doc_id, gpos, gk)
    * where gk is the gram's shared 60-bit md5 fold when `hashed` (the
    * 100 TB key — 8 bytes instead of the ~60-byte token string) or the
    * raw string otherwise (kept so the Round13Spec law test can prove
    * hashed islands ≡ string islands on the same machinery). The
    * projection is row-local and drops the string BEFORE any shuffle.
    */
  private[graft] def gramKeyed(docs: DataFrame, hashed: Boolean): DataFrame = {
    val g = gramStream(docs)
    if (hashed)
      g.select(col("doc_id"), col("gpos"), Sampling.hash60(col("gram")).as("gk"))
    else g.select(col("doc_id"), col("gpos"), col("gram").as("gk"))
  }

  /** Maximal consecutive runs of marked gram positions per doc — the
    * gaps-and-islands window (partitioned BY DOC, bounded by document
    * length) — reported as (doc_id, n_spans, max_span).
    */
  private[graft] def islandSpans(marked: DataFrame): DataFrame = {
    val wrn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("gpos"))
    marked
      .withColumn("grp", col("gpos") - row_number().over(wrn))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("gpos")) - min(col("gpos")) + SpanGram).as("span_tokens"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("span_tokens")).as("max_span"))
  }

  /** Zero-fill the span report over the full id frame (docs with no
    * duplicated span still get a row — the scrub policy reads 0s).
    */
  private[graft] def spanReport(ids: DataFrame, spans: DataFrame): DataFrame =
    ids.join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))

  /** d25's whole pipeline over an arbitrary (doc_id, text) frame with
    * an injectable key mode — the law test runs both modes and asserts
    * byte-identical reports.
    */
  private[graft] def dupSpans(docs: DataFrame, hashed: Boolean): DataFrame = {
    val grams = gramKeyed(docs, hashed).persist()
    val dup = grams.groupBy(col("gk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gk"))
    spanReport(docs.select(col("doc_id")),
      islandSpans(grams.join(dup, Seq("gk"), "left_semi")))
  }

  private def d25(s: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(s, dir), hashed = true)

  /** The gram-stream CTEs (wd, g) and the islands→report tail (isl,
    * sp, agg) shared by d25's and d26/es28's oracles; the `mk` CTE
    * between them is each entry's marking rule.
    */
  private val spanGramCtes =
    s"""wd AS (
       |  SELECT doc_id, list_filter(string_split(text,' '), x -> len(x) > 0) AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(w) - ${SpanGram - 2})) AS gpos,
       |    unnest(list_transform(range(1, len(w) - ${SpanGram - 2}),
       |      i -> array_to_string(w[i:i+${SpanGram - 1}], ' '))) AS gram
       |  FROM wd WHERE len(w) >= $SpanGram),
       |gx AS (
       |  SELECT doc_id, gpos, ${OracleSql.hex60("gram")} AS gk FROM g)""".stripMargin

  private val spanTailCtes =
    s"""isl AS (
       |  SELECT doc_id, gpos,
       |    gpos - row_number() OVER (PARTITION BY doc_id ORDER BY gpos) AS grp
       |  FROM mk),
       |sp AS (
       |  SELECT doc_id, grp, max(gpos) - min(gpos) + $SpanGram AS span_tokens
       |  FROM isl GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_spans, max(span_tokens) AS max_span
       |  FROM sp GROUP BY 1)""".stripMargin

  private val d25Sql =
    s"""WITH $spanGramCtes,
       |dup AS (SELECT gk FROM gx GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |mk AS (SELECT gx.doc_id, gx.gpos FROM gx JOIN dup USING (gk)),
       |$spanTailCtes
       |SELECT d.doc_id,
       |  coalesce(agg.n_spans, 0) AS n_spans,
       |  coalesce(agg.max_span, 0) AS max_span
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** d26: spans AT THE SEAM — the day's arrivals (the d13/d22 delta
    * split) checked for verbatim spans copied FROM THE CORPUS: corpus
    * grams form a static distinct set, each delta doc's grams mark by
    * semi-join against it, islands as d25. The quote/contamination
    * check an ingest gate actually runs — "how much of this new doc is
    * already in my corpus, and in how long a run" — d11's n-gram
    * decontamination generalized from eval sets to the corpus itself,
    * at span granularity. Work ∝ |Δ| grams + one static index build
    * (refreshed between runs by appending the delta's grams — a
    * distinct-union, the d23 seam). es28 is the live twin.
    */
  /** d26's whole pipeline with an injectable key mode (the Round13Spec
    * law test's second subject). The corpus gram index carries only the
    * 8-byte hash in the hashed mode — at 100 TB that IS the stored
    * index, ~7× smaller than the string set.
    */
  private[graft] def seamSpans(docs: DataFrame, hashed: Boolean): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val corpusGrams = gramKeyed(docs.filter(!isDelta), hashed)
      .select(col("gk")).distinct()
    spanReport(docs.filter(isDelta).select(col("doc_id")),
      islandSpans(gramKeyed(docs.filter(isDelta), hashed)
        .join(corpusGrams, Seq("gk"), "left_semi")))
  }

  private def d26(s: SparkSession, dir: String): DataFrame =
    seamSpans(Tables.documents(s, dir), hashed = true)

  private[graft] val d26Sql =
    s"""WITH $spanGramCtes,
       |cg AS (SELECT DISTINCT gk FROM gx WHERE doc_id % 10 <> 0),
       |mk AS (SELECT gx.doc_id, gx.gpos FROM gx JOIN cg USING (gk) WHERE gx.doc_id % 10 = 0),
       |$spanTailCtes
       |SELECT d.doc_id,
       |  coalesce(agg.n_spans, 0) AS n_spans,
       |  coalesce(agg.max_span, 0) AS max_span
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |WHERE d.doc_id % 10 = 0""".stripMargin

  // ---- d28: span SCRUB — the APPLY stage of d25 -----------------------

  /** d28: span-level scrub — d25 DETECTS duplicated spans; this entry
    * performs the removal a cleaning pipeline actually ships (the
    * exact-substring dedup of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", at [[SpanGram]]-token
    * granularity): a gram occurrence is scrubbed when the gram is
    * verbatim-shared by ≥ 2 DISTINCT documents AND this document is not
    * the gram's CANONICAL OWNER (the smallest sharing doc_id) — so each
    * duplicated passage survives exactly once corpus-wide, in its
    * owner, instead of d12's drop-everywhere rule (which deletes
    * boilerplate from every copy and is the right tool only when the
    * repeated text is worthless). The scrubbed token set is the union
    * of the marked grams' [gpos, gpos+[[SpanGram]]−1] windows; output
    * per doc: token totals and the reassembled surviving text — the
    * rewritten corpus is the deliverable, exactly like d12.
    *
    * Scale shape: d25's exactly, plus the apply tail. The dup decision
    * and the owner ride ONE map-side-combined hash aggregate over the
    * 60-bit gram key (min(doc_id) is algebraic — no second corpus
    * pass); marking is the same equi-join on the 8-byte hash; the
    * window→token expansion is a row-local explode ×[[SpanGram]] on
    * MARKED grams only (bounded by the duplicated share of the corpus,
    * not the corpus); the per-doc distinct and the reassembly group BY
    * DOC (bounded by document length, never corpus-sized). No all-pairs
    * stage — a 100 TB corpus streams through in token-count time.
    *
    * Determinism: the owner is an exact integer min; token positions
    * are unique per doc, so the (tpos, tok) struct sort == the oracle's
    * array_agg ORDER BY tpos; a doc wholly owned elsewhere keeps empty
    * text via the same coalesce('') as d12. The hashed≡string law and
    * the exact planted geometry (owner keeps all, the copy loses
    * exactly the quote) are pinned in Round13Spec.
    */
  /** The APPLY tail shared by d28 (corpus scrub) and d29/es31 (seam
    * scrub): marked gram windows → distinct covered token positions →
    * ONE doc-bounded cut-set array row per scrubbed doc → a row-local
    * indexed filter of the doc's own tokens under a fanout-1 doc_id
    * join. Only MARKED positions flow through exchanges — the corpus
    * token stream itself never shuffles (a tpos-keyed join would push
    * every token through two exchanges, the dominant cost at corpus
    * scale).
    */
  private[graft] def applyCuts(docs: DataFrame, markedGrams: DataFrame): DataFrame = {
    val cutSets = markedGrams
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + (SpanGram - 1))).as("tpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tpos")).as("cut"))
    docs
      .select(col("doc_id"), filter(split(col("text"), " "), x => length(x) > 0).as("w"))
      .filter(size(col("w")) > 0)
      .join(cutSets, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("tok_total"),
        coalesce(size(col("cut")), lit(0)).cast("long").as("tok_scrubbed"),
        when(col("cut").isNull, array_join(col("w"), " "))
          .otherwise(array_join(
            // positions are 1-based; filter's lambda index is 0-based
            filter(col("w"), (x, i) => !array_contains(col("cut"), i + 1)),
            " ")).as("clean_text"))
  }

  private[graft] def spanScrub(docs: DataFrame, hashed: Boolean): DataFrame = {
    // persisted for d25's reason (dupSpans): the owner aggregate and the
    // marking join probe BOTH read the gram stream, and the stream is
    // the expensive part (split + per-position concat_ws + md5 fold per
    // gram — measured as d28's hot stage, round 16); un-persisted it is
    // computed twice. Same (doc_id, gpos, 8-byte gk) rows d25 caches —
    // ~24 bytes per corpus token, spilling storage at warehouse scale,
    // against a full second tokenize+md5 pass saved.
    val grams = gramKeyed(docs, hashed).persist()
    val own = grams.groupBy(col("gk"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("gk"), col("owner"))
    val markedGrams = grams.join(own, Seq("gk"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"), col("gpos"))
    applyCuts(docs, markedGrams)
  }

  private def d28(s: SparkSession, dir: String): DataFrame =
    spanScrub(Tables.documents(s, dir), hashed = true)

  /** cov/tk + the rewrite SELECT shared by d28's and d29's oracles —
    * `mk` is each entry's marking rule (exactly as [[applyCuts]] is
    * each entry's shared Spark tail); `docPred` restricts the
    * rewritten population.
    */
  private def spanApplySql(docPred: String): String =
    s"""cov AS (
       |  SELECT DISTINCT doc_id, tpos FROM (
       |    SELECT doc_id, unnest(range(gpos, gpos + $SpanGram)) AS tpos FROM mk)),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS tpos, unnest(w) AS tok
       |  FROM wd WHERE len(w) > 0 AND $docPred)
       |SELECT t.doc_id,
       |  count(*) AS tok_total,
       |  CAST(count(c.tpos) AS BIGINT) AS tok_scrubbed,
       |  coalesce(array_to_string(
       |    array_agg(t.tok ORDER BY t.tpos) FILTER (WHERE c.tpos IS NULL), ' '),
       |    '') AS clean_text
       |FROM tk t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
       |GROUP BY 1""".stripMargin

  private val d28Sql =
    s"""WITH $spanGramCtes,
       |own AS (
       |  SELECT gk, min(doc_id) AS owner FROM gx
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |mk AS (
       |  SELECT gx.doc_id, gx.gpos FROM gx JOIN own USING (gk)
       |  WHERE gx.doc_id <> own.owner),
       |${spanApplySql("TRUE")}""".stripMargin

  // ---- d29: seam scrub — d26's detection APPLIED at ingest -------------

  /** d29: scrub the ARRIVALS — d26 measures how much of each arriving
    * document is already in the corpus; d29 performs the removal the
    * ingest gate ships (the published "strip the quoted run from the
    * new crawl" cleaner): every delta-doc gram verbatim-present in the
    * corpus gram set marks its window, and the arrival is rewritten
    * with those tokens removed. The corpus always wins ownership at
    * the seam (it was there first — d28's min-doc_id rule specialized
    * to "corpus beats arrival"), so ingest never creates a second copy
    * of any corpus passage.
    *
    * Scale shape: d26's exactly (work ∝ |Δ| grams against the stored
    * 8-byte hash index) plus the shared [[applyCuts]] tail — cut sets
    * reduce to one array row per scrubbed arrival and the rewrite is
    * row-local; the corpus is touched only through the gram index,
    * never re-read. es31 is the live twin (same kernel per
    * micro-batch; a doc arrives whole, so its rewrite completes within
    * its batch).
    */
  private[graft] def seamScrub(docs: DataFrame, hashed: Boolean): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val corpusGrams = gramKeyed(docs.filter(!isDelta), hashed)
      .select(col("gk")).distinct()
    applyCuts(docs.filter(isDelta),
      gramKeyed(docs.filter(isDelta), hashed)
        .join(corpusGrams, Seq("gk"), "left_semi")
        .select(col("doc_id"), col("gpos")))
  }

  private def d29(s: SparkSession, dir: String): DataFrame =
    seamScrub(Tables.documents(s, dir), hashed = true)

  private[graft] val d29Sql =
    s"""WITH $spanGramCtes,
       |cg AS (SELECT DISTINCT gk FROM gx WHERE doc_id % 10 <> 0),
       |mk AS (SELECT gx.doc_id, gx.gpos FROM gx JOIN cg USING (gk) WHERE gx.doc_id % 10 = 0),
       |${spanApplySql("doc_id % 10 = 0")}""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("d01_dedup_exact", d01, Some(d01Sql)),
    QueryDef("d02_dedup_normalized", d02, Some(d02Sql)),
    QueryDef("d03_ngram_jaccard", d03, Some(d03Sql)),
    QueryDef("d04_minhash_lsh", d04, Some(d04Sql)),
    QueryDef("d05_simhash", d05, Some(d05Sql)),
    QueryDef("d06_containment", d06, Some(d06Sql)),
    QueryDef("d07_dedup_clusters", d07, Some(d07Sql)),
    QueryDef("d09_dup_coverage", d09, Some(d09Sql)),
    QueryDef("d10_cluster_sizes", d10, Some(d10Sql)),
    QueryDef("d11_decontamination", d11, Some(d11Sql)),
    QueryDef("d12_segment_scrub", d12, Some(d12Sql)),
    QueryDef("d13_incremental_dedup", d13, Some(d13Sql)),
    QueryDef("d14_editdist_neardup", d14, Some(d14Sql)),
    QueryDef("d15_minhash_audit", d15, Some(d15Sql)),
    QueryDef("d16_bloom_prefilter", d16, Some(d16Sql)),
    QueryDef("d17_triangle_cohesion", d17, Some(d17Sql)),
    QueryDef("d18_source_dup_matrix", d18, Some(d18Sql)),
    QueryDef("d19_best_survivor", d19, Some(d19Sql)),
    QueryDef("d20_jaccard_sweep", d20, Some(d20Sql)),
    QueryDef("d21_lsh_stage_audit", d21, Some(d21Sql)),
    QueryDef("d22_incremental_lsh", d22, Some(d22Sql)),
    QueryDef("d23_index_append_law", d23, Some(d23Sql)),
    QueryDef("d24_shard_sketch_merge", d24, Some(d24Sql)),
    QueryDef("d25_dup_spans", d25, Some(d25Sql)),
    QueryDef("d26_span_ingest", d26, Some(d26Sql)),
    QueryDef("d28_span_scrub", d28, Some(d28Sql)),
    QueryDef("d29_seam_scrub", d29, Some(d29Sql)),
  )

  /** d18: cross-source duplication matrix — project the d03 near-dup
    * pair set onto provenance: for every unordered source pair, how
    * many near-duplicate document pairs connect them. The report behind
    * "which scrapes re-crawl each other": a hot off-diagonal cell means
    * two sources share pipeline-relevant overlap and one of them is
    * redundant spend; a hot diagonal cell is a source that re-serves
    * its own content (mirrors, pagination echoes).
    *
    * Composes d03 VERBATIM (same plan and oracle text as a CTE), so the
    * matrix cannot drift from the pair set it summarizes. Scale shape:
    * the pair table (linear in the corpus under d03's df-cap) makes two
    * ids-only equi-joins against the (doc_id, source) projection of the
    * corpus — filters/columns push into the scan — then one tiny
    * ≤|sources|² aggregate on the least/greatest-canonicalized pair.
    */
  private def d18(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    d03(s, dir).select(col("ida"), col("idb"))
      .join(src.withColumnRenamed("doc_id", "ida").withColumnRenamed("source", "sa"), "ida")
      .join(src.withColumnRenamed("doc_id", "idb").withColumnRenamed("source", "sb"), "idb")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val d18Sql =
    s"""WITH pairs AS ($d03Sql)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  count(*) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON p.ida = da.doc_id
       |JOIN documents db ON p.idb = db.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** d19: best-of-cluster survivor selection — the production dedup
    * policy one step past d07's min-id rule: within each ≥2-member
    * duplicate cluster, KEEP THE LONGEST member (whitespace-token
    * count, min-doc_id tiebreak) and account for what the other members
    * cost. Min-id keeps whatever crawled first; longest-wins keeps the
    * superset when the cluster is a boilerplate-stripped or truncated
    * shard family (d06/p22's finding), which is why real pipelines
    * rank survivors by a content criterion. One row per collapsed
    * cluster: survivor, sizes, and the token mass the deletion frees.
    *
    * Scale shape: rides the SHARED materialized d07 label frame (one CC
    * labeling per ingest serves d07/d10/p14 and this — the label-once
    * contract), adds one doc_id equi-join to the ids+tokens projection
    * and ONE cluster_id hash aggregate in which the whole survivor row
    * travels as a struct extremum (the q49/q50 argmax shape — no
    * per-cluster window sort). Determinism: (n_tokens, −doc_id) max ==
    * the oracle's ORDER BY n_tokens DESC, doc_id ASC; all-integer.
    */
  private def d19(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      size(filter(split(col("text"), " "), x => length(x) > 0))
        .cast("long").as("n_tokens"))
    docClusterLabels(s, dir).join(toks, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_tokens")).as("tt"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("m"))
      .filter(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        (-col("m.nid")).as("survivor_id"),
        col("m.n_tokens").as("survivor_tokens"),
        (col("cluster_size") - 1).as("n_dropped"),
        (col("tt") - col("m.n_tokens")).as("dropped_tokens"))
  }

  private val d19Sql =
    s"""WITH RECURSIVE $d07Ctes,
       |tk AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT l.cluster_id, l.doc_id, tk.n_tokens,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY tk.n_tokens DESC, l.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS cs,
       |    CAST(sum(tk.n_tokens) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS tt
       |  FROM labels l JOIN tk USING (doc_id))
       |SELECT cluster_id, cs AS cluster_size, doc_id AS survivor_id,
       |  n_tokens AS survivor_tokens, cs - 1 AS n_dropped,
       |  tt - n_tokens AS dropped_tokens
       |FROM r WHERE rn = 1 AND cs >= 2""".stripMargin

  /** d20: Jaccard-threshold sensitivity sweep — for every cut t/10
    * (t = 0…9): candidate pairs landing in similarity bucket
    * [t/10, (t+1)/10) and the cumulative pairs at-or-above the cut. The
    * curve that justifies d03's 0.5 (and would justify changing it):
    * a cliff below the production threshold means near-misses a
    * paraphrase-tolerant pass (d08) should catch; mass just above it
    * means the dedup bill is threshold-sensitive and needs review.
    *
    * ONE pass computes every threshold: the candidate pairs (d03's
    * exact inverted-index machinery, df-capped, shared code) bucket by
    * floor(j·10) row-locally, and the ten cumulative counts come from
    * the ≤10-row bucket aggregate joined against a literal frame (the
    * p20 suffix-sum trick) — no per-threshold rescan of the corpus.
    * Buckets are declared IN the ×10 float domain (floor(j·10), both
    * engines the same IEEE multiply), so no t/10 rounding ambiguity
    * exists anywhere.
    */
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val shdocs = shingled(Tables.documents(s, dir))
    val sizes = shdocs.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val buckets = jaccardCandidatesFromShingled(shdocs, DfCap)
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("ida") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("idb") === col("doc_id")).drop("doc_id")
      .select(least(lit(9L), floor((col("c") / (col("na") + col("nb") - col("c"))) * 10)
        .cast("long")).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("n_pairs"))
    s.range(0, 10).select(col("id").as("threshold_tenths"))
      .join(broadcast(buckets), col("bkt") >= col("threshold_tenths"), "left")
      .groupBy(col("threshold_tenths"))
      .agg(
        coalesce(sum(when(col("bkt") === col("threshold_tenths"), col("n_pairs"))), lit(0L))
          .as("n_bucket"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("n_pairs_ge"))
  }

  private val d20Sql =
    s"""WITH $shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |jc AS (SELECT c / (sa.n + sb.n - c) AS j
       |       FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id),
       |bk AS (SELECT least(9, CAST(floor(j * 10) AS BIGINT)) AS bkt, count(*) AS n_pairs
       |       FROM jc GROUP BY 1),
       |f AS (SELECT unnest(range(0, 10)) AS threshold_tenths)
       |SELECT f.threshold_tenths,
       |  CAST(coalesce(sum(CASE WHEN bk.bkt = f.threshold_tenths THEN bk.n_pairs END), 0) AS BIGINT) AS n_bucket,
       |  CAST(coalesce(sum(bk.n_pairs), 0) AS BIGINT) AS n_pairs_ge
       |FROM f LEFT JOIN bk ON bk.bkt >= f.threshold_tenths
       |GROUP BY 1""".stripMargin

  // ---- d17: triangle cohesion of the near-dup graph -------------------

  /** d17: triangle count per document over the d03 near-dup pair graph —
    * the cluster-COHESION signal CC (d07) can't see: a size-k component
    * can be a brittle chain (0 triangles — likely transitive-similarity
    * noise, the classic near-dup false-merge) or a dense clique
    * (~k³ triangles — a true duplicate family safe to collapse
    * aggressively). Node-iterator triangle counting in its id-ordered
    * orientation: every edge is stored once as (ida < idb), and a
    * triangle a<b<c is found exactly once by joining (a,b)⋈(b,c) and
    * closing with (a,c).
    *
    * Scale shape: two self-equi-joins of the PAIR table (not the
    * corpus) — |pairs| is linear in the corpus under d03's df-cap — in
    * the DEGREE-ORDERED orientation (each edge directed toward the
    * higher-(degree, id) endpoint), so every wedge apex has out-degree
    * ≤ O(√|E|) regardless of how skewed the raw degrees are: a hub with
    * a million neighbors ranks above all of them, receives every star
    * edge inbound, and generates ZERO wedges instead of the ~deg²/2 the
    * naive id-ordering pays when the hub's id happens to sort low.
    * Counts are orientation-independent, so the oracle is unchanged.
    */
  private def d17(s: SparkSession, dir: String): DataFrame =
    triangleCounts(d03(s, dir).select(col("ida"), col("idb")))

  /** Degree-ordered orientation of an undirected pair graph. Input:
    * distinct pairs with `ida < idb`, each undirected edge stored once.
    * Output: one row per edge, `(src, dst, ddeg)`, directed from the
    * lower-(degree, id) endpoint to the higher; `ddeg` carries deg(dst)
    * so rank comparisons downstream need no further join.
    */
  private[graft] def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(explode(array(col("ida"), col("idb"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // ida < idb by contract, so on a degree tie (dega, ida) < (degb, idb)
    // resolves to ida-first: aFirst reduces to dega <= degb.
    edges
      .join(deg.select(col("id").as("ida"), col("deg").as("dega")), "ida")
      .join(deg.select(col("id").as("idb"), col("deg").as("degb")), "idb")
      .select(
        when(col("dega") <= col("degb"), col("ida")).otherwise(col("idb")).as("src"),
        when(col("dega") <= col("degb"), col("idb")).otherwise(col("ida")).as("dst"),
        greatest(col("dega"), col("degb")).as("ddeg"))
  }

  /** Node-iterator triangle counting over the degree-ordered
    * orientation: a wedge is two out-edges of one apex with
    * rank(v) < rank(w); the triangle closes iff the directed edge v→w
    * exists (ranks totally order the nodes, so exactly that direction
    * can hold it). Each triangle is apexed at its lowest-rank corner —
    * counted once. Returns `(doc_id, n_triangles)` for nodes in ≥1
    * triangle.
    */
  private[graft] def triangleCounts(edges0: DataFrame): DataFrame = {
    // the pair set is tiny relative to the corpus but expensive to
    // DERIVE (d03's whole candidate pipeline); it is consumed by the
    // degree aggregate plus three join legs — persist so the pipeline
    // runs once, not five times. Lifecycle is OWNED HERE: the final
    // aggregate is tiny (one row per in-triangle node), so it is
    // materialized eagerly via localCheckpoint and both scratch frames
    // are released before returning, instead of leaving the edge/
    // orientation blocks for a caller-side sweep to chase (the round-11
    // warm>cold flag: three join legs racing to populate a cache whose
    // blocks then sat in storage memory for the rest of the sweep).
    val edges = edges0.persist()
    val d = orientByDegree(edges).persist() // three join legs below
    val rankLt = // rank(e1.dst) < rank(e2.dst) in (deg, id) lex order
      col("e1.ddeg") < col("e2.ddeg") ||
        (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))
    val tri = d.as("e1")
      .join(d.as("e2"), col("e1.src") === col("e2.src") && rankLt)
      .join(d.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val out = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint() // eager: runs the join now, while d is cached
    d.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  private val d17Sql =
    s"""WITH $shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |cm AS (SELECT a.doc_id ida, b.doc_id idb, count(*) c
       |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pr AS (
       |  SELECT ida, idb
       |  FROM cm JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id
       |  WHERE c / (sa.n + sb.n - c) >= 0.5),
       |tri AS (
       |  SELECT e1.ida AS a, e1.idb AS b, e2.idb AS c
       |  FROM pr e1
       |  JOIN pr e2 ON e1.idb = e2.ida
       |  JOIN pr e3 ON e1.ida = e3.ida AND e2.idb = e3.idb),
       |nodes AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT doc_id, count(*) AS n_triangles
       |FROM nodes GROUP BY 1""".stripMargin

  // ---- d16: Bloom-filter prefilter for incremental dedup --------------

  /** 16 words × 60 usable bits (bit 60-63 unused: DuckDB's checked `<<`
    * overflows at bit 63, so the word stride stays at 60 where both
    * engines' shifts agree bit-for-bit). K = 3 salted hash positions per
    * key, each from the shared cross-engine [[Sampling.hash60]] fold.
    * At 100 TB the seam is these two constants: a corpus-scale deploy
    * sizes M to ~1.2 bytes/key for ~1% FP (a few GB broadcast — still
    * constant per executor where the corpus hash table is not).
    */
  private[ops] val BloomBits  = 960L
  private[ops] val BloomK     = 3

  private def bloomPos(j: Int, h: Column): Column =
    Sampling.hash60(concat(lit(s"bloom${j}_"), h)) % BloomBits

  /** d16: Bloom-prefiltered incremental dedup — d13's daily-ingest exact
    * check with the accelerator every production ingest bolts on first:
    * the corpus's normalized-hash set is folded into a CONSTANT-SIZE bit
    * array (here 960 bits; see [[BloomBits]]) that rides one broadcast,
    * and each delta document probes it map-side. `bloom_hit = 0` proves
    * "definitely new" (a Bloom filter has NO false negatives), so only
    * the hit subset pays the corpus-hash equi-join; false positives
    * surface as `bloom_hit = 1` with a null `dup_of` — the saturated
    * test-scale filter (~1350 set bits in 960) guarantees the FP leg is
    * actually exercised.
    *
    * The DuckDB oracle computes `dup_of` by joining EVERY delta doc
    * (not just hits) against the corpus hashes, so the gate equality
    * IS the no-false-negative proof: if the filter ever missed a true
    * duplicate, the Spark side would emit dup_of = null where the
    * oracle's join found one, and the hash would break.
    *
    * Scale shape: corpus → distinct hashes → 16-row (word, bits)
    * aggregate → one tiny broadcast; delta probes are row-local expands
    * (3 rows/doc) against it; only `bloom_hit = 1` rows join the corpus
    * hash table. Work ∝ |Δ| + |hits|, never the corpus.
    */
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val norm = md5(lower(trim(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " "))))
    val corpusHash = corpus.select(norm.as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("dup_of"))
    val posArr = array((0 until BloomK).map(j => bloomPos(j, col("h"))): _*)
    val bloom = corpusHash.select(explode(posArr).as("p"))
      .groupBy(expr("p DIV 60").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT)))").as("bits"))
    val dpos = delta.select(col("doc_id"), norm.as("h"))
      .select(col("doc_id"), col("h"), explode(posArr).as("p"))
    val hits = dpos
      .join(broadcast(bloom), expr("p DIV 60") === col("word"), "left")
      .withColumn("hit",
        when(expr("(bits & shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT))) <> 0"), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"), col("h"))
      .agg(when(sum(col("hit")) === BloomK.toLong, 1L).otherwise(0L).as("bloom_hit"))
    val maybe = hits.filter(col("bloom_hit") === 1)
      .join(corpusHash, Seq("h"), "left_outer")
    val fresh = hits.filter(col("bloom_hit") === 0)
      .withColumn("dup_of", lit(null).cast("long"))
    maybe.select(col("doc_id"), col("bloom_hit"), col("dup_of"))
      .unionByName(fresh.select(col("doc_id"), col("bloom_hit"), col("dup_of")))
      .withColumn("false_positive",
        when(col("bloom_hit") === 1 && col("dup_of").isNull, 1L).otherwise(0L))
  }

  private val d16Sql = {
    def pos(j: Int, hExpr: String) =
      s"(${graft.ops.OracleSql.hex60(s"'bloom${j}_' || $hExpr")}) % $BloomBits"
    val normSql = "md5(lower(trim(regexp_replace(text,'[ \\t\\n\\x0B\\f\\r]+',' ','g'))))"
    s"""WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
       |ch AS (SELECT $normSql AS h, min(doc_id) AS dup_of FROM corpus GROUP BY 1),
       |cpos AS (
       |  ${(0 until BloomK).map(j => s"SELECT ${pos(j, "h")} AS p FROM ch").mkString("\n  UNION ALL\n  ")}),
       |bloom AS (
       |  SELECT p // 60 AS word,
       |    bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER)) AS bits
       |  FROM cpos GROUP BY 1),
       |dh AS (SELECT doc_id, $normSql AS h FROM delta),
       |dpos AS (
       |  ${(0 until BloomK).map(j => s"SELECT doc_id, h, ${pos(j, "h")} AS p FROM dh").mkString("\n  UNION ALL\n  ")}),
       |hits AS (
       |  SELECT doc_id, h,
       |    CAST(CASE WHEN sum(CASE WHEN (b.bits & (CAST(1 AS BIGINT) << CAST(d.p % 60 AS INTEGER))) <> 0
       |                  THEN 1 ELSE 0 END) = $BloomK THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit
       |  FROM dpos d LEFT JOIN bloom b ON b.word = d.p // 60
       |  GROUP BY 1, 2)
       |SELECT hits.doc_id, hits.bloom_hit, ch.dup_of,
       |  CAST(CASE WHEN hits.bloom_hit = 1 AND ch.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS false_positive
       |FROM hits LEFT JOIN ch USING (h)""".stripMargin
  }
}
