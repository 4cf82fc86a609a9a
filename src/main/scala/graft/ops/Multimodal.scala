package graft.ops

import graft.core.Tables
import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A multimodal record: opaque binary payload + typed metadata — the
  * schema a 100 TB image/audio/video pipeline carries through Spark.
  */
case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String, n_bytes: Long)

/** Extracted (fake) features — what a real decoder would emit. */
case class MediaFeatures(doc_id: Long, n_bytes: Long, payload_md5: String)

/** Multimodal-column plumbing. The container has no image/audio codecs, so
  * the decode step is a clearly-marked deterministic stand-in — but the
  * Spark-side shape is the real thing: binary column + metadata struct,
  * partition-wise batch processing via mapPartitions on a typed Dataset
  * (the Scala analogue of mapInPandas: one iterator per partition, so a
  * real decoder would amortize model/codec init per partition, not per
  * row), and a columnar parquet-friendly output schema.
  */
object Multimodal extends QueryModule {

  /** Build the binary-media view: text bytes standing in for an encoded
    * image payload.
    *
    * `n_bytes` is UTF-8 BYTE length on both engines, not characters:
    * Spark's `octet_length` counts encoded bytes, and DuckDB's `strlen`
    * (used by every mirrored oracle here) is ALSO bytes — DuckDB's
    * character count is `length()`, which the oracles deliberately do
    * not use. So m01/m10/m12 sizing agrees byte-for-byte on non-ASCII
    * text too; no ASCII-only invariant is being leaned on.
    */
  private[ops] def media(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("application/octet-stream").as("mime"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Deterministic stand-in for decode/feature-extraction: md5 of the
    * payload bytes. A real pipeline would decode pixels / resample audio
    * here; the iterator-per-partition shape is what matters.
    */
  private def m01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).mapPartitions { it =>
      // per-partition init (a real decoder would load its codec once here)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        val hex = md.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.doc_id, r.n_bytes, hex)
      }
    }.toDF()
  }

  /** The stand-in features are oracle-checkable: byte length + md5 of the
    * same bytes DuckDB sees.
    */
  private val m01Sql =
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
      |FROM documents""".stripMargin

  /** Frame-sampled output: doc_id, frame count, sampled count, first-frame
    * digest.
    */
  case class FrameSample(doc_id: Long, n_frames: Long, n_sampled: Long, first_chars_md5: String)

  private val FrameBytes = 16
  private val SampleEvery = 4

  /** m02: frame sampling over a "video" payload — the payload is cut into
    * fixed-size frames and every k-th frame is kept, the shape of a
    * video-to-training-frames pipeline. A real decoder would demux actual
    * frames; the fixed-byte chunking is the clearly-marked stand-in. Same
    * mapPartitions batch contract as m01.
    */
  private def m02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val frames = r.payload.grouped(FrameBytes).toArray
        val sampled = frames.indices.collect { case i if i % SampleEvery == 0 => frames(i) }
        // the digest column is over the first FrameBytes CODEPOINTS of the
        // decoded payload, NOT frames(0): DuckDB's substring counts
        // characters, and byte-slicing would silently diverge from the
        // oracle on any non-ASCII document. The column is therefore named
        // first_chars_md5 (not first_frame_md5) — it is a content
        // fingerprint of the payload head, not the digest of a frame
        val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
        val cps = text.codePoints().limit(FrameBytes).toArray
        val firstFrame = new String(cps, 0, cps.length)
        md.reset()
        val firstMd5 = md.digest(firstFrame.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        FrameSample(r.doc_id, frames.length.toLong, sampled.length.toLong, firstMd5)
      }
    }.toDF()
  }

  private val m02Sql =
    s"""SELECT doc_id,
       |  CAST(ceil(strlen(text) / $FrameBytes.0) AS BIGINT) AS n_frames,
       |  CAST(ceil(ceil(strlen(text) / $FrameBytes.0) / $SampleEvery.0) AS BIGINT) AS n_sampled,
       |  md5(substring(text, 1, $FrameBytes)) AS first_chars_md5
       |FROM documents""".stripMargin

  /** Resized output: token counts before/after + digest of the resized
    * payload.
    */
  case class Resized(doc_id: Long, n_tok_in: Long, n_tok_out: Long, resized_md5: String)

  /** m03: "resize" — downsample the payload to half resolution. A real
    * pipeline would bilinear-resample pixels; the clearly-marked stand-in
    * decimates the decoded token stream (keep every 2nd token), which
    * preserves the real contract: binary in, smaller binary out, updated
    * metadata, deterministic content digest, same mapPartitions batch
    * shape as m01/m02.
    */
  private def m03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
        // -1 keeps trailing empty tokens — DuckDB's string_split does too,
        // and the index parity below must act on the identical token list
        val toks = text.split(" ", -1)
        val kept = toks.indices.collect { case i if i % 2 == 0 => toks(i) }
        val resized = kept.mkString(" ")
        md.reset()
        val hex = md.digest(resized.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        Resized(r.doc_id, toks.length.toLong, kept.length.toLong, hex)
      }
    }.toDF()
  }

  /** DuckDB's list lambdas expose a 1-based index, so "even 0-based" =
    * "odd 1-based".
    */
  private val m03Sql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_in,
      |  CAST(len(list_filter(string_split(text, ' '), (x, i) -> i % 2 = 1)) AS BIGINT) AS n_tok_out,
      |  md5(array_to_string(list_filter(string_split(text, ' '), (x, i) -> i % 2 = 1), ' ')) AS resized_md5
      |FROM documents""".stripMargin

  /** m04: training-record assembly — the join that ends every multimodal
    * prep pipeline: text metadata ⋈ embedding ⋈ binary payload into one
    * record per example. Two equi-joins on the id (co-partitioned after
    * the first shuffle; at warehouse scale both inputs would be bucketed
    * on the id and neither would shuffle); the embedding is reduced to
    * its exact dot-product norm so the record stays narrow and the value
    * is oracle-hashable.
    */
  private def m04(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val emb = Tables.embeddings(s, dir)
      // cast once in a sub-projection: HOF expressions are not reliably
      // deduplicated by subexpression elimination
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        graft.functions.VectorFunctions.vec_dot(col("v"), col("v")).as("emb_sq_norm"))
    val payload = media(s, dir).toDF()
      .select(col("doc_id"), md5(col("payload")).as("payload_md5"), col("n_bytes"))
    docs
      .join(emb, docs("doc_id") === emb("vec_id")).drop("vec_id")
      .join(payload, Seq("doc_id"))
  }

  private val m04Sql =
    """SELECT d.doc_id, d.lang, d.n_chars,
      |  CAST(e.label AS BIGINT) AS label,
      |  list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS emb_sq_norm,
      |  md5(d.text) AS payload_md5,
      |  CAST(strlen(d.text) AS BIGINT) AS n_bytes
      |FROM documents d
      |JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin

  /** m05: byte-budget shard packing — binary payloads packed into
    * shards bounded by BYTE size (the multimodal counterpart of p10's
    * count-based batches: media payloads vary 100x in size, so a count
    * split gives wildly uneven shards). Deterministic md5 global order,
    * then each record lands in the shard where its payload's byte
    * OFFSET starts: `shard_id = (running_sum - n_bytes) DIV budget` —
    * records are never split, a shard overflows the budget by at most
    * its last record. The running sum rides
    * [[graft.plans.GlobalOrder.withGlobalRunningSum]] (two-pass partial
    * sums; no single-partition window — the lint sweep would flag one),
    * so the plan is one range exchange + a partitioned window at any
    * corpus size.
    */
  private val ShardBudgetBytes = 8192L

  private def m05(s: SparkSession, dir: String): DataFrame = {
    val m = media(s, dir).toDF().select(col("doc_id"), col("n_bytes"))
    graft.plans.GlobalOrder.withGlobalRunningSum(
        m, Seq(md5(col("doc_id").cast("string")), col("doc_id")),
        col("n_bytes"), "s")
      .select(expr(s"(s - n_bytes) DIV $ShardBudgetBytes").as("shard_id"), col("n_bytes"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("sum_bytes"),
        max(col("n_bytes")).as("max_doc_bytes"))
  }

  private val m05Sql =
    s"""WITH m AS (
       |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
       |o AS (
       |  SELECT n_bytes, sum(n_bytes) OVER (
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM m)
       |SELECT CAST((s - n_bytes) // $ShardBudgetBytes AS BIGINT) AS shard_id,
       |  count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
       |  max(n_bytes) AS max_doc_bytes
       |FROM o GROUP BY 1""".stripMargin

  private val BlockChars = 32

  /** m06: block-level storage-dedup estimate — the content-addressed-
    * store (CAS) sizing number for a media corpus: payloads cut into
    * fixed 32-char blocks, each block content-hashed, and per source the
    * total vs DISTINCT block count = the fraction of storage a
    * block-dedup store actually pays for. (d09/d12 measure TOKEN-level
    * duplication for text quality; this is the BYTE-block analogue a
    * storage planner reads. A real CAS uses content-defined chunk
    * boundaries; fixed blocks are the deterministic stand-in, exactly
    * like m02's fixed frames.) Blocks are character-sliced because
    * DuckDB's substring counts characters (the m02 lesson).
    *
    * Scale shape: row-local block split + hash, ONE shuffle for the
    * per-source single-distinct aggregate (lint kind-3 clean). At
    * 100 TB the block stream is the scan itself re-keyed — linear.
    */
  private def m06(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.spread(graft.core.Tables.documents(s, dir))
      .filter(length(col("text")) > 0)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, CAST((length(text) + ${BlockChars - 1}) DIV $BlockChars AS INT) - 1), " +
          s"i -> md5(substring(text, i * $BlockChars + 1, $BlockChars)))")).as("bh"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_blocks"),
        countDistinct(col("bh")).as("n_unique"),
        (countDistinct(col("bh")).cast("double") / count(lit(1)).cast("double"))
          .as("stored_fraction"))

  private val m06Sql =
    s"""WITH b AS (
       |  SELECT source,
       |    unnest(list_transform(range(0, (len(text) + ${BlockChars - 1}) // $BlockChars),
       |      i -> md5(substring(text, CAST(i * $BlockChars + 1 AS INT), $BlockChars)))) AS bh
       |  FROM documents WHERE len(text) > 0)
       |SELECT source, count(*) AS n_blocks,
       |  count(DISTINCT bh) AS n_unique,
       |  CAST(count(DISTINCT bh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS stored_fraction
       |FROM b GROUP BY 1""".stripMargin

  /** m07 fingerprint geometry — d05's lossless contract verbatim:
    * 60-bit fingerprint, 4 × 15-bit bands, hamming ≤ 3 (pigeonhole: 3
    * flipped bits cannot touch all 4 bands).
    */
  private val PercBits  = 60
  private val PercBands = 4

  /** m07: perceptual near-duplicate detection over BINARY payloads — the
    * codec-agnostic analogue of an image pHash dedup: the payload's
    * distinct byte 4-grams vote a 60-bit SimHash fingerprint (content
    * overlap ⇒ close fingerprints, for ANY media encoding — no decode
    * needed), banded exactly like d05 so the blocked pair set provably
    * equals brute-force hamming ≤ 3. Completes the multimodal dedup
    * ladder: m06 = block-level EXACT (storage), m07 = payload-level
    * NEAR (content). Distinct from d05, which fingerprints word
    * shingles of TEXT — this op never tokenizes; it reads raw bytes
    * (the stand-in payload is ASCII, so the DuckDB mirror's character
    * ops see the same bytes — the m02/m06 convention).
    *
    * Scale shape: fingerprints are a row-local projection (native
    * SimHash60 expression, no explode/vote shuffle); candidate pairs
    * come from the 4-way band self-join — never all-pairs; the hamming
    * filter runs before the pair-dedup shuffle.
    */
  private def m07(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.QueryDef
    val bandBits = PercBits / PercBands
    val txt = media(s, dir).toDF()
      .select(col("doc_id"), col("payload").cast("string").as("t"))
    // fused native kernel: slide + dedup + vote in one loop — replaces
    // simhash60(array_distinct(transform(sequence(...), substr(i, 4)))),
    // which materialized (len-3) string slices per row before hashing
    // (the measured bench hot spot); same distinct-gram vote bit-for-bit
    //
    // persisted (the d04 `banded` discipline): the band self-join's two
    // legs are planned as two independent subtrees (no ReusedExchange —
    // measured round 17 as two ~1 s fingerprint stages per run), so an
    // un-persisted fp pays the gram-vote kernel ONCE PER LEG. The cached
    // frame is (doc_id, 8-byte simhash) — ~16 bytes/doc at any corpus
    // size, the textbook cache-the-proxy-not-the-payload shape.
    val fp = graft.core.Tables.spread(txt).filter(length(col("t")) >= 4)
      .select(col("doc_id"),
        graft.functions.TextFunctions.byte_gram_simhash60(col("t")).as("simhash"))
      .persist()
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until PercBands).map(b =>
        shiftrightunsigned(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "chunk")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("ida", "idb")
  }

  /** The perceptual-fingerprint CTE prefix (grams → 60-bit hashes →
    * bit votes → per-doc simhash) — shared by m07's pair report and
    * m12's cluster rollup so the fingerprint definition lives once.
    */
  private val m07FpCtes =
    s"""g AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, len(text) - 2),
       |      i -> substr(text, i, 4)))) AS gram
       |  FROM documents WHERE len(text) >= 4),
       |h AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(list_transform(range(1, 16), i -> substr(md5(gram), i, 1)),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b) AS h
       |  FROM g),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $PercBits)) AS b)
       |  GROUP BY 1, 2),
       |fp AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
       |       FROM bits GROUP BY 1)""".stripMargin

  private val m07Sql =
    s"""WITH $m07FpCtes
       |SELECT a.doc_id AS ida, b.doc_id AS idb,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** m12: perceptual-duplicate CLUSTERS + survivor selection — the
    * media twin of the text side's d07+d19: m07's hamming≤3 pair graph
    * closes into components (min-label propagation, the shared
    * [[Graph.connectedComponents]]), and within every ≥2-member family
    * the LARGEST payload survives (n_bytes DESC, doc_id ASC — re-
    * encodes and thumbnails are smaller than their master, so
    * largest-wins keeps the best source copy) with the bytes the
    * deletion frees accounted. This is the storage-reclaim report a
    * media pipeline runs after m07 flags its near-dups: m06 estimates
    * block-level savings, THIS names the files to drop.
    *
    * Scale shape: rides m07's banded pair generation (never all-pairs),
    * CC finishes in driver memory up to Graph.InMemoryEdges pairs and
    * takes O(log diameter) barriers past it, and the survivor is a struct
    * extremum inside ONE cluster_id hash aggregate (the d19/q49 argmax
    * shape — no per-cluster window sort). Determinism: (n_bytes,
    * −doc_id) max == the oracle's ORDER BY n_bytes DESC, doc_id ASC;
    * all-integer.
    */
  private def m12(s: SparkSession, dir: String): DataFrame = {
    // connectedComponents checkpoints its edge frame itself, so the m07
    // banded-simhash pipeline runs once without a copy of the pair table
    val pairs = m07(s, dir).select(col("ida"), col("idb"))
    val bytes = media(s, dir).toDF().select(col("doc_id"), col("n_bytes"))
    val labels = graft.ops.Graph.connectedComponents(
        bytes.select(col("doc_id")), pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    labels.join(bytes, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("n_bytes")).as("tb"),
        max(struct(col("n_bytes"), (-col("doc_id")).as("nid"))).as("m"))
      .filter(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        (-col("m.nid")).as("survivor_id"),
        col("m.n_bytes").as("survivor_bytes"),
        (col("cluster_size") - 1).as("n_dropped"),
        (col("tb") - col("m.n_bytes")).as("bytes_freed"))
  }

  private val m12Sql =
    s"""WITH RECURSIVE $m07FpCtes,
       |mpr AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |${graft.ops.Graph.ccSqlCtes("mpr", "SELECT doc_id, doc_id FROM documents")},
       |labels AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id),
       |r AS (
       |  SELECT l.cluster_id, l.doc_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY strlen(d.text) DESC, l.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS cs,
       |    CAST(sum(strlen(d.text)) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS tb
       |  FROM labels l JOIN documents d USING (doc_id))
       |SELECT cluster_id, cs AS cluster_size, doc_id AS survivor_id,
       |  n_bytes AS survivor_bytes, cs - 1 AS n_dropped, tb - n_bytes AS bytes_freed
       |FROM r WHERE rn = 1 AND cs >= 2""".stripMargin

  /** The deterministic erasure cohort for m13 (5% of docs by salted
    * uhash — the p21 right-to-be-forgotten contract applied to the
    * media corpus; salt "erase_" is independent of every other cohort).
    */
  private val EraseFrac = 0.05

  /** m13: CAS GARBAGE COLLECTION — the maintenance pass m06's
    * content-addressed store needs after an erasure sweep: deleting
    * documents removes REFERENCES, not blocks (that's the point of a
    * CAS — a block lives while ANY doc references it), so the store
    * accretes orphans until a GC walks the refcounts. This entry emits
    * the GC WORKLIST: every block whose referencing documents are ALL
    * erased — the blocks a collector may physically reclaim without
    * breaking a live document — with its total reference count and
    * size. Completes the erasure story across the storage ladder: p21
    * drops the rows, s19/s29 keep deleted vectors out of search
    * results, m13 reclaims the bytes.
    *
    * Scale shape: m06's exactly — a row-local block split + hash (the
    * scan re-keyed), then ONE map-side-combined aggregate keyed on the
    * block hash; the erased flag is a row-local hash predicate folded
    * into algebraic sums (live refs = sum of 0/1), so the GC over a
    * 100 TB store is a single linear pass. With a real deletion-request
    * table the flag becomes a broadcast join at the same spot
    * (requests ≪ corpus). No joins, no windows, no all-pairs.
    *
    * Determinism: the cohort is an exact integer hash compare; counts
    * are exact; block_chars of a given hash is constant (same content).
    */
  /** Per-block reference partials over any (doc_id, text) frame — the
    * mergeable form (integer counts, DETERMINISM rule 17): batch-local
    * total and live refcounts per block hash. Shared by m13 (one
    * partial over the whole corpus) and es30 (one partial per
    * micro-batch, landed and sum-merged at read-back).
    */
  private[graft] def partialBlockRefs(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(
        (Sampling.uhash("erase_", col("doc_id")) < EraseFrac).as("erased"),
        explode(expr(
          s"transform(sequence(0, CAST((length(text) + ${BlockChars - 1}) DIV $BlockChars AS INT) - 1), " +
            s"i -> named_struct('bh', md5(substring(text, i * $BlockChars + 1, $BlockChars)), " +
            s"'bc', length(substring(text, i * $BlockChars + 1, $BlockChars))))")).as("b"))
      .select(col("erased"), col("b.bh").as("bh"), col("b.bc").as("bc"))
      .groupBy(col("bh"))
      .agg(
        count(lit(1)).as("n_refs"),
        sum(when(!col("erased"), 1L).otherwise(0L)).as("live_refs"),
        max(col("bc")).cast("long").as("block_chars"))

  /** THE MERGE + read-off: partials sum by block hash (order-free
    * integer addition — replayed partials of the same rows would
    * double-count, which is why es30 lands them under idempotent
    * batch_id dirs), and the worklist is the zero-live-refs cut.
    */
  private[graft] def gcWorklist(partials: DataFrame): DataFrame =
    partials.groupBy(col("bh"))
      .agg(
        sum(col("n_refs")).as("n_refs"),
        sum(col("live_refs")).as("live_refs"),
        max(col("block_chars")).as("block_chars"))
      .filter(col("live_refs") === 0L)
      .select(col("bh"), col("n_refs"), col("block_chars"))

  private def m13(s: SparkSession, dir: String): DataFrame =
    gcWorklist(partialBlockRefs(graft.core.Tables.documents(s, dir)))

  private[graft] lazy val m13Sql =
    s"""WITH b AS (
       |  SELECT ${Sampling.uhashSql("erase_", "doc_id")} < $EraseFrac AS erased,
       |    unnest(list_transform(range(0, (len(text) + ${BlockChars - 1}) // $BlockChars),
       |      i -> md5(substring(text, CAST(i * $BlockChars + 1 AS INT), $BlockChars)))) AS bh,
       |    unnest(list_transform(range(0, (len(text) + ${BlockChars - 1}) // $BlockChars),
       |      i -> len(substring(text, CAST(i * $BlockChars + 1 AS INT), $BlockChars)))) AS bc
       |  FROM documents WHERE len(text) > 0)
       |SELECT bh, count(*) AS n_refs, CAST(max(bc) AS BIGINT) AS block_chars
       |FROM b GROUP BY 1
       |HAVING sum(CASE WHEN erased THEN 0 ELSE 1 END) = 0""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("m01_multimodal_features", m01, Some(m01Sql)),
    QueryDef("m02_frame_sample", m02, Some(m02Sql)),
    QueryDef("m03_resize", m03, Some(m03Sql)),
    QueryDef("m04_record_assembly", m04, Some(m04Sql)),
    QueryDef("m05_byte_pack", m05, Some(m05Sql)),
    QueryDef("m06_block_dedup", m06, Some(m06Sql)),
    QueryDef("m07_perceptual_neardup", m07, Some(m07Sql)),
    QueryDef("m08_modality_align", m08, Some(m08Sql)),
    QueryDef("m09_payload_integrity", m09, Some(m09Sql)),
    QueryDef("m10_storage_report", m10, Some(m10Sql)),
    QueryDef("m11_batch_interleave", m11, Some(m11Sql)),
    QueryDef("m12_perceptual_clusters", m12, Some(m12Sql)),
    QueryDef("m13_cas_gc", m13, Some(m13Sql)),
  )

  /** m08: cross-modal alignment audit — the referential-integrity check
    * between the text table and the embedding store (at 100 TB these
    * are separately-produced tables that silently drift): per (lang,
    * source) slice, how many documents exist, how many are paired with
    * an embedding, how many MISS one (can't be retrieved / sem-deduped),
    * and how many embeddings are ORPHANS (stale vectors for deleted
    * docs — the grouping key for orphans is the `_orphan_vec` marker
    * slice since they carry no document metadata). The go/no-go audit
    * before any cross-modal op (d08, s15, m04) trusts the join.
    *
    * All-integer counts over ONE doc_id=vec_id full-outer equi-join —
    * the operator is itself the join it audits.
    */
  private def m08(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"))
      .join(graft.core.Tables.embeddings(s, dir).select(col("vec_id")),
        col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("lang"), lit("_orphan_vec")).as("lang"),
        coalesce(col("source"), lit("_orphan_vec")).as("source"),
        col("doc_id"), col("vec_id"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(col("doc_id")).as("n_docs"),
        org.apache.spark.sql.functions.sum(
          when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L).otherwise(0L))
          .as("n_paired"),
        org.apache.spark.sql.functions.sum(
          when(col("doc_id").isNotNull && col("vec_id").isNull, 1L).otherwise(0L))
          .as("n_missing_vec"),
        org.apache.spark.sql.functions.sum(
          when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_orphan_vec"))

  private val m08Sql =
    """SELECT coalesce(lang, '_orphan_vec') AS lang,
      |  coalesce(source, '_orphan_vec') AS source,
      |  count(doc_id) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_vec,
      |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_vec
      |FROM (SELECT doc_id, lang, source FROM documents) d
      |FULL OUTER JOIN (SELECT vec_id FROM embeddings) e ON d.doc_id = e.vec_id
      |GROUP BY 1, 2""".stripMargin

  /** Bytes sliced off an injected-corrupt payload, and the residue-class
    * fixture that selects which payloads get corrupted.
    */
  private val CorruptDropBytes = 7L
  private val CorruptEvery = 97L

  /** m09: payload integrity scan — verify every binary payload against
    * its ingest-manifest byte count and report truncations per source.
    * The scan a media pipeline runs before training: a transfer that
    * clipped objects (partial S3 GET, a codec that bailed mid-file)
    * must surface as rows, not as NaN losses three stages later.
    *
    * No real corruption exists in synthetic testdata, so the query
    * INJECTS it deterministically (doc_id ≡ 0 mod 97 loses its last 7
    * payload bytes) and the detector must recover exactly that set —
    * the same injected-fixture pattern as m08's drift and e17's holes.
    * The Spark side does the real thing: casts text → BINARY, slices
    * bytes with substr-on-binary, measures octet lengths; the oracle
    * computes the byte arithmetic the spec implies (DuckDB substring
    * is char-based — the m02/m06 lesson — so it must not slice).
    *
    * Scale shape: row-local byte ops fused into the scan, ONE tiny
    * (source × status) aggregate — linear at any corpus size.
    */
  private def m09(s: SparkSession, dir: String): DataFrame = {
    val corrupt = col("doc_id") % CorruptEvery === 0
    val full = col("text").cast("binary")
    val payload = when(corrupt,
      expr(s"substr(cast(text as binary), 1, greatest(octet_length(text) - $CorruptDropBytes, 0))"))
      .otherwise(full)
    graft.core.Tables.documents(s, dir)
      .select(col("source"),
        octet_length(col("text")).cast("long").as("exp_bytes"),
        length(payload).cast("long").as("act_bytes"))
      .withColumn("missing", col("exp_bytes") - col("act_bytes"))
      .withColumn("status", when(col("missing") > 0, lit("truncated")).otherwise(lit("ok")))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("missing")).as("sum_missing"))
  }

  private val m09Sql =
    s"""WITH m AS (
       |  SELECT source,
       |    CASE WHEN doc_id % $CorruptEvery = 0
       |         THEN least($CorruptDropBytes, strlen(text)) ELSE 0 END AS missing
       |  FROM documents)
       |SELECT source, CASE WHEN missing > 0 THEN 'truncated' ELSE 'ok' END AS status,
       |  count(*) AS n_docs, CAST(sum(missing) AS BIGINT) AS sum_missing
       |FROM m GROUP BY 1, 2""".stripMargin

  /** m10: per-modality storage report — record count, total bytes,
    * DISCRETE p50/p90/max payload sizes, and the byte share per
    * modality. The capacity-planning table a multimodal lakehouse reads
    * before sizing `spark.sql.files.maxPartitionBytes`, shard counts,
    * and the m05 pack-file budget: image/audio/video payloads differ by
    * orders of magnitude, and planning on the blended mean is how a
    * video-heavy source ends up with 10 GB tasks. The modality label is
    * a deterministic doc_id-derived stand-in (the container carries no
    * real codecs — m01's contract); real data would read a mime column.
    *
    * Determinism: quantile ranks are pure integer arithmetic —
    * r50 = ⌈n/2⌉ = (n+1) DIV 2, r90 = ⌈9n/10⌉ = (9n+9) DIV 10 — no
    * float rank math at all (stricter than p19's exact-binary-fraction
    * rule: works for ANY percentile); picked values survive
    * cross-engine hashing because they are data values, not
    * interpolations; byte shares are one int/int IEEE division each.
    *
    * Scale shape: ONE hash(modality) exchange carries the rank window
    * AND the rollup (the p19 contract); the totals row rides an
    * aggregate-capped broadcast.
    */
  /** The deterministic doc_id-derived modality stand-in (no real codecs
    * in the container — m01's contract) — defined ONCE for every
    * modality-aware op so m10/m11 (and their tests) cannot drift.
    */
  private[graft] def modality(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(lit("image"), lit("audio"), lit("video")),
      (docId % 3 + 1).cast("int"))

  private def m10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = media(s, dir).toDF()
      .select(col("doc_id"), col("n_bytes"), modality(col("doc_id")).as("modality"))
    val w = Window.partitionBy(col("modality")).orderBy(col("n_bytes"), col("doc_id"))
    val g = Window.partitionBy(col("modality"))
    val per = m
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(g))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(col("n_bytes")).as("total_bytes"),
        max(when(col("rn") === expr("(cnt + 1) DIV 2"), col("n_bytes"))).as("p50_bytes"),
        max(when(col("rn") === expr("(9 * cnt + 9) DIV 10"), col("n_bytes"))).as("p90_bytes"),
        max(col("n_bytes")).as("max_bytes"))
    val tot = per.groupBy().agg(sum(col("total_bytes")).as("tb"))
    per.crossJoin(broadcast(tot))
      .select(col("modality"), col("n_records"), col("total_bytes"),
        col("p50_bytes"), col("p90_bytes"), col("max_bytes"),
        (col("total_bytes").cast("double") / col("tb").cast("double")).as("bytes_share"))
  }

  /** m11: batch modality-composition audit — p10's deterministic
    * md5-order batch packing applied to the multimodal corpus, with
    * per-batch counts of each modality and a balance verdict
    * (max−min spread ≤ half the ideal per-modality share). A
    * multimodal trainer needs every batch to carry all modalities
    * (contrastive losses degenerate on single-modality batches); the
    * md5 global order interleaves statistically, and THIS is the audit
    * that proves it (or catches the skewed source that breaks it).
    *
    * Scale shape: the global position comes from the two-pass
    * GlobalOrder plan (range-partitioned, no single-partition sort —
    * the p04/p10 contract); everything after is a row-local batch-id
    * map and one ≤|batches|-row aggregate. All-integer.
    */
  private def m11(s: SparkSession, dir: String): DataFrame = {
    val m = media(s, dir).toDF()
      .select(col("doc_id"), modality(col("doc_id")).as("modality"))
    val BatchSize = 64L
    graft.plans.GlobalOrder.withGlobalRowNumber(
      m, Seq(md5(col("doc_id").cast("string")), col("doc_id")), "pos")._1
      .select(expr(s"(pos - 1) DIV $BatchSize").as("batch_id"), col("modality"))
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(col("modality") === "image", 1L).otherwise(0L)).as("n_image"),
        sum(when(col("modality") === "audio", 1L).otherwise(0L)).as("n_audio"),
        sum(when(col("modality") === "video", 1L).otherwise(0L)).as("n_video"))
      .select(col("batch_id"), col("n_records"),
        col("n_image"), col("n_audio"), col("n_video"),
        (greatest(col("n_image"), col("n_audio"), col("n_video")) -
          least(col("n_image"), col("n_audio"), col("n_video"))).as("spread"),
        (lit(6L) * (greatest(col("n_image"), col("n_audio"), col("n_video")) -
          least(col("n_image"), col("n_audio"), col("n_video"))) <= col("n_records"))
          .as("balanced"))
  }

  private val m11Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS modality,
      |    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
      |  FROM documents),
      |g AS (
      |  SELECT (pos - 1) // 64 AS batch_id, count(*) AS n_records,
      |    CAST(sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_image,
      |    CAST(sum(CASE WHEN modality = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
      |    CAST(sum(CASE WHEN modality = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS n_video
      |  FROM m GROUP BY 1)
      |SELECT batch_id, n_records, n_image, n_audio, n_video,
      |  greatest(n_image, n_audio, n_video) - least(n_image, n_audio, n_video) AS spread,
      |  6 * (greatest(n_image, n_audio, n_video) - least(n_image, n_audio, n_video)) <= n_records AS balanced
      |FROM g""".stripMargin

  private val m10Sql =
    """WITH m AS (
      |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS modality
      |  FROM documents),
      |r AS (
      |  SELECT modality, n_bytes,
      |    CAST(row_number() OVER (PARTITION BY modality ORDER BY n_bytes, doc_id) AS BIGINT) AS rn,
      |    count(*) OVER (PARTITION BY modality) AS cnt
      |  FROM m),
      |g AS (
      |  SELECT modality, count(*) AS n_records,
      |    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |    max(CASE WHEN rn = (cnt + 1) // 2 THEN n_bytes END) AS p50_bytes,
      |    max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN n_bytes END) AS p90_bytes,
      |    max(n_bytes) AS max_bytes
      |  FROM r GROUP BY 1),
      |t AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS tb FROM g)
      |SELECT g.modality, g.n_records, g.total_bytes, g.p50_bytes, g.p90_bytes,
      |  g.max_bytes,
      |  CAST(g.total_bytes AS DOUBLE) / CAST(t.tb AS DOUBLE) AS bytes_share
      |FROM g CROSS JOIN t""".stripMargin
}
