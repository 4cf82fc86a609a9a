package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 regression pins: the hashed-gram-key span-dedup law, the
  * z-order manifest sidecar, and the pruning-predicate edge cases.
  */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // ---- span-dedup key law ------------------------------------------------

  test("span-dedup law: hashed gram keys produce byte-identical islands to string keys") {
    import graft.ops.Dedup
    // 1) the real corpus, both pipelines (d25 corpus-wide, d26 seam)
    val docs = graft.core.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      val dupH = rows(Dedup.dupSpans(docs, hashed = true))
      val dupS = rows(Dedup.dupSpans(docs, hashed = false))
      assert(dupH.exists(_._2 > 0), "corpus must contain duplicated spans")
      assert(dupH === dupS, "d25: hashed-key islands diverged from string-key islands")
      val seamH = rows(Dedup.seamSpans(docs, hashed = true))
      val seamS = rows(Dedup.seamSpans(docs, hashed = false))
      assert(seamH === seamS, "d26: hashed-key islands diverged from string-key islands")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("span-dedup law on a planted corpus: exact island geometry, both key modes") {
    import spark.implicits._
    import graft.ops.Dedup
    // SpanGram = 8. doc 1: tokens a0..a19; doc 2: a unique prefix of 4
    // tokens, then a VERBATIM 12-token quote of doc 1 (a5..a16), then 4
    // unique tokens; doc 3: all-unique. Shared grams are exactly doc 1
    // positions 6..10 (5 grams, 1-based: windows fully inside a5..a16)
    // and doc 2 positions 5..9 — one island each, span_tokens = 5+7 = 12.
    val a = (0 until 20).map(i => s"a$i")
    val quote = a.slice(5, 17) // a5..a16, 12 tokens
    val d1 = a.mkString(" ")
    val d2 = ((0 until 4).map(i => s"b$i") ++ quote ++ (4 until 8).map(i => s"b$i")).mkString(" ")
    val d3 = (0 until 20).map(i => s"c$i").mkString(" ")
    val synth = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    try {
      val want = Set((1L, 1L, 12L), (2L, 1L, 12L), (3L, 0L, 0L))
      for (hashed <- Seq(true, false)) {
        val got = Dedup.dupSpans(synth, hashed).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === want, s"hashed=$hashed: $got")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- d28 span scrub ------------------------------------------------------

  test("d28 law: hashed-key scrub is byte-identical to string-key scrub and reconciles with d25") {
    import graft.ops.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    try {
      val h = rows(Dedup.spanScrub(docs, hashed = true))
      val s = rows(Dedup.spanScrub(docs, hashed = false))
      assert(h.exists(_._3 > 0), "corpus must contain scrubbed tokens")
      assert(h === s, "d28: hashed-key scrub diverged from string-key scrub")
      // reconciliation with the DETECT stage: a doc that lost tokens must
      // be a doc d25 reports as carrying duplicated spans (the converse
      // is false by design — the canonical owner keeps its copy)
      val spans = Dedup.dupSpans(docs, hashed = true).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      for ((id, _, cut, _) <- h if cut > 0)
        assert(spans(id) > 0, s"doc $id scrubbed but d25 reports no duplicated span")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("d28 planted geometry: the owner keeps every token; the copy loses exactly the quote") {
    import spark.implicits._
    import graft.ops.Dedup
    // the span-law fixture: doc 1 owns the 12-token quote (a5..a16),
    // doc 2 repeats it between unique flanks, doc 3 is all-unique.
    // Marked grams exist only in doc 2 (positions 5..9), covering
    // exactly tokens 5..16 — the quote — so the scrub must remove those
    // 12 tokens and nothing else, and must not touch docs 1 and 3.
    val a = (0 until 20).map(i => s"a$i")
    val quote = a.slice(5, 17)
    val d1 = a.mkString(" ")
    val d2 = ((0 until 4).map(i => s"b$i") ++ quote ++ (4 until 8).map(i => s"b$i")).mkString(" ")
    val d3 = (0 until 20).map(i => s"c$i").mkString(" ")
    val synth = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    try {
      val want = Map(
        1L -> (20L, 0L, d1),
        2L -> (20L, 12L, ((0 until 4) ++ (4 until 8)).map(i => s"b$i").mkString(" ")),
        3L -> (20L, 0L, d3))
      for (hashed <- Seq(true, false)) {
        val got = Dedup.spanScrub(synth, hashed).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        assert(got === want, s"hashed=$hashed: $got")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- d29/es31 seam scrub ---------------------------------------------------

  test("d29 law: hashed-key seam scrub is byte-identical to string-key; planted arrival loses exactly the quote") {
    import spark.implicits._
    import graft.ops.Dedup
    // real corpus, both key modes
    val docs = graft.core.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    try {
      val h = rows(Dedup.seamScrub(docs, hashed = true))
      assert(h === rows(Dedup.seamScrub(docs, hashed = false)),
        "d29: hashed-key seam scrub diverged from string-key")
      assert(h.forall(_._1 % 10 == 0), "d29 rewrites arrivals only")
      // planted: corpus doc 1 owns the 12-token quote; arrival doc 10
      // repeats it between unique flanks; arrival doc 20 is all-new —
      // the seam scrub must strip exactly the quote from 10, keep 20
      // whole, and never emit a corpus doc
      val a = (0 until 20).map(i => s"a$i")
      val quote = a.slice(5, 17)
      val d1 = a.mkString(" ")
      val d10 = ((0 until 4).map(i => s"b$i") ++ quote ++ (4 until 8).map(i => s"b$i")).mkString(" ")
      val d20 = (0 until 20).map(i => s"c$i").mkString(" ")
      val synth = Seq((1L, d1), (10L, d10), (20L, d20)).toDF("doc_id", "text")
      val want = Map(
        10L -> (20L, 12L, (0 until 8).map(i => s"b$i").mkString(" ")),
        20L -> (20L, 0L, d20))
      for (hashed <- Seq(true, false)) {
        val got = Dedup.seamScrub(synth, hashed).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        assert(got === want, s"hashed=$hashed: $got")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("es31 replay: a two-file micro-batched scrub stream equals the one-shot d29") {
    // the index is static within the run and a doc's rewrite completes
    // within its batch, so batching must be invisible
    import graft.ops.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val isDelta = col("doc_id") % 10 === 0
    val corpusGrams = Dedup.gramKeyed(docs.filter(!isDelta), hashed = true)
      .select(col("gk")).distinct().persist()
    corpusGrams.count()
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es31spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es31run").toFile
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 === 0),
      streamDir.toString, "documents_a")
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 =!= 0),
      streamDir.toString, "documents_b")
    try {
      val streamed = graft.streaming.StreamingGate.runDocBatchStream(spark,
        graft.streaming.StreamingGate.readDocuments(spark, streamDir.getAbsolutePath, Some(1)),
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath,
        Seq("doc_id", "tok_total", "tok_scrubbed", "clean_text"))(
        b => Dedup.applyCuts(b,
          Dedup.gramKeyed(b, hashed = true)
            .join(corpusGrams, Seq("gk"), "left_semi")
            .select(col("doc_id"), col("gpos"))))
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected >= 2 micro-batches, got ${batchDirs.length}")
      val oneShot = Dedup.seamScrub(docs, hashed = true)
      assert(oneShot.filter(col("tok_scrubbed") > 0).count() > 0,
        "the seam must scrub something at this SF")
      assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
        "micro-batched seam scrub must equal the one-shot batch scrub")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  // ---- q55 quantile-sketch merge law ---------------------------------------

  test("q55 shard invariance: the merged-histogram report is identical at S = 1, 2, 8 and the laws hold") {
    val li = graft.core.Tables.lineitem(spark, dir)
    try {
      val reps = Seq(1, 2, 8).map { s =>
        s -> graft.queries.Relational3.histQuantileReport(li, s).collect()
          .map(r => (r.getString(0), r.getLong(1), String.valueOf(r.get(2)),
            r.getBoolean(3), r.getBoolean(4))).toSet
      }
      for ((s, rows) <- reps) {
        assert(rows.size === 3, s"S=$s: expected the three percentile rows")
        for ((pct, _, _, binMatch, massOk) <- rows) {
          assert(binMatch, s"S=$s: $pct exact value landed outside the predicted bin")
          assert(massOk, s"S=$s: the merged histogram lost mass")
        }
      }
      // bins are data-independent given the global stats and addition is
      // associative, so the WHOLE report — not just the booleans — must
      // be split-invariant (d24's replay discipline)
      assert(reps.map(_._2).distinct.size === 1,
        "the merged report must be identical under every shard split")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- s29 tombstone-aware trained search ----------------------------------

  /** The tombstone cohort under the same rule the queries use (s19's
    * del_ uhash at 5%), recomputed independently of the query code.
    */
  private def tombstonedIds: Set[Long] =
    graft.core.Tables.embeddings(spark, dir)
      .filter(expr("conv(substring(md5(concat('del_', cast(vec_id as string))), 1, 15), 16, 10)" +
        " / 1152921504606846976.0 < 0.05"))
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("s29 semantics: tombstoned vectors never appear on either side; result lists stay dense") {
    val deleted = tombstonedIds
    try {
      assert(deleted.nonEmpty, "the tombstone cohort must be non-empty at this SF")
      val out = SparkEntry.queries("s29_tombstone_trained")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(out.nonEmpty)
      for ((qid, nid, rn) <- out) {
        assert(!deleted(qid), s"deleted vector $qid issued a query")
        assert(!deleted(nid), s"deleted vector $nid resurfaced as a neighbor of $qid")
        assert(rn >= 1 && rn <= 5)
      }
      for ((q, rows) <- out.groupBy(_._1))
        assert(rows.map(_._3).sorted === (1L to rows.length).toSeq, s"ranks not dense for $q")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- s30/es29 serving loop ------------------------------------------------

  test("s30 semantics: queries are the arrivals; neighbors are live corpus rows only; ranks dense") {
    val emb = graft.core.Tables.embeddings(spark, dir)
    val deltaIds = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val deleted = tombstonedIds
    try {
      val out = SparkEntry.queries("s30_serve_arrivals")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(out.nonEmpty)
      for ((qid, nid, rn) <- out) {
        assert(deltaIds(qid), s"query $qid is not an arrival (delta) row")
        assert(!deltaIds(nid), s"neighbor $nid came from the arrivals, not the corpus index")
        assert(!deleted(nid), s"tombstoned corpus row $nid resurfaced as a neighbor of $qid")
        assert(rn >= 1 && rn <= 5)
      }
      for ((q, rows) <- out.groupBy(_._1))
        assert(rows.map(_._3).sorted === (1L to rows.length).toSeq, s"ranks not dense for $q")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("es29 replay: a two-file micro-batched serving stream equals the one-shot s30") {
    // batching must be invisible: the codebook and the tombstone-filtered
    // serving index are frozen before the stream starts, and each
    // arrival's top-5 completes within its own batch (candidates never
    // span batches), so two micro-batches must emit exactly the batch
    // s30 serving result
    import graft.ops.Similarity
    val isDelta = col("vec_id") % 10 === 0
    val (corpus, gArr) = Similarity.trainedGroupArray(
      Similarity.vecs(spark, dir).filter(!isDelta))
    gArr.persist().count()
    val index = Similarity.liveIndex(corpus, gArr).persist()
    index.count()
    val emb = graft.core.Tables.embeddings(spark, dir)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es29spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es29run").toFile
    StreamFiles.writeOne(emb.filter(isDelta && col("vec_id") % 20 === 0),
      streamDir.toString, "embeddings_a")
    StreamFiles.writeOne(emb.filter(isDelta && col("vec_id") % 20 =!= 0),
      streamDir.toString, "embeddings_b")
    try {
      val streamed = graft.streaming.StreamingGate.runDocBatchStream(spark,
        graft.streaming.StreamingGate.readEmbeddings(spark, streamDir.getAbsolutePath, Some(1)),
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath,
        Seq("qid", "nid", "sim", "rn"))(
        b => Similarity.serveBatch(Similarity.vecsOf(b), index, gArr))
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected >= 2 micro-batches, got ${batchDirs.length}")
      val batch = Similarity.serveBatch(
        Similarity.vecs(spark, dir).filter(isDelta), index, gArr)
      assert(batch.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "micro-batched serving must equal the one-shot batch serving")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("s31 semantics: full-k ground truth, recall in [0,1], one row per sampled arrival") {
    val nArrivals = graft.core.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0).count()
    try {
      val out = SparkEntry.queries("s31_serving_recall")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(out.length.toLong === math.min(64L, nArrivals),
        "one audit row per sampled arrival")
      for ((qid, k, hits, recall) <- out) {
        assert(k === 5L, s"$qid: live corpus must fill the exact top-5 at this SF")
        assert(hits >= 0L && hits <= k)
        assert(recall >= 0.0 && recall <= 1.0 && recall === hits.toDouble / k)
      }
      // the audit must be informative: the serving path finds SOMETHING
      assert(out.map(_._3).sum > 0L, "served answers never intersect the ground truth")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- es30 streaming CAS refcounts ----------------------------------------

  test("es30 replay: two micro-batched shards' block partials sum-merge to the one-shot worklist") {
    // the merge law live (rule 17): batch boundaries are shards; landed
    // integer partials must sum to exactly m13's corpus-wide GC cut
    import graft.ops.Multimodal
    val docs = graft.core.Tables.documents(spark, dir)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es30spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es30run").toFile
    StreamFiles.writeOne(docs.filter(col("doc_id") % 2 === 0), streamDir.toString, "documents_a")
    StreamFiles.writeOne(docs.filter(col("doc_id") % 2 =!= 0), streamDir.toString, "documents_b")
    try {
      val streamed = Multimodal.gcWorklist(
        graft.streaming.StreamingGate.runDocBatchStream(spark,
          graft.streaming.StreamingGate.readDocuments(spark, streamDir.getAbsolutePath, Some(1)),
          new java.io.File(runBase, "out").getAbsolutePath,
          new java.io.File(runBase, "ckpt").getAbsolutePath,
          Seq("bh", "n_refs", "live_refs", "block_chars"))(Multimodal.partialBlockRefs))
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected >= 2 micro-batches, got ${batchDirs.length}")
      val oneShot = Multimodal.gcWorklist(Multimodal.partialBlockRefs(docs))
      assert(oneShot.count() > 0, "the erasure cohort must orphan some blocks at this SF")
      assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
        "micro-batched refcount partials must merge to the one-shot worklist")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  // ---- q54 heavy-hitters merge law ----------------------------------------

  test("q54 shard invariance: the merge contract holds at S = 1, 2, 8 and the exact side never moves") {
    // d24's replay discipline for the Misra–Gries-style summary: the
    // ESTIMATES may move with the shard split (different truncations),
    // but est <= exact <= est + bound must hold on every split, every
    // true heavy hitter must be found, and the exact columns are
    // split-independent by construction
    val docs = graft.core.Tables.documents(spark, dir)
    try {
      val bySplit = Seq(1, 2, 8).map { s =>
        s -> graft.queries.Relational3.heavyHitterReport(docs, s).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      }
      for ((s, rows) <- bySplit) {
        assert(rows.length === 10, s"S=$s: expected 10 heavy hitters")
        for ((word, _, _, found, under, within) <- rows) {
          assert(found, s"S=$s: $word missing from the merged summary")
          assert(under, s"S=$s: $word estimate exceeds the exact count")
          assert(within, s"S=$s: $word exact count outside est + bound")
        }
      }
      val exactSides = bySplit.map(_._2.map(t => (t._1, t._2, t._3)).toSet)
      assert(exactSides.distinct.size === 1,
        "the exact top-k must be identical under every shard split")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- s28 filtered trained search ----------------------------------------

  test("s28 semantics: every neighbor carries the query's label (in-search filter, never under-filled silently)") {
    val labels = graft.core.Tables.embeddings(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](2).longValue).toMap
    try {
      val out = SparkEntry.queries("s28_filtered_trained")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(out.nonEmpty)
      for ((qid, nid, rn) <- out) {
        assert(labels(nid) === labels(qid), s"neighbor $nid of $qid crossed labels")
        assert(rn >= 1 && rn <= 5)
      }
      // per-query result lists are dense from rank 1
      for ((q, rows) <- out.groupBy(_._1))
        assert(rows.map(_._3).sorted === (1L to rows.length).toSeq, s"ranks not dense for $q")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- d27 planted refinement ----------------------------------------------

  test("d27: the planted family forces an over-cap cell, the refinement fires, and the family stays one cluster") {
    import graft.ops.{SemDedup, Similarity}
    try {
      // white-box: on corpus ∪ planted the refinement must actually run
      // (refined cell ids carry the "cell/scid" shape) — this is the
      // stage that is an empty filter on the honest corpora
      val planted = spark.range(SemDedup.HotN).select(
        (lit(SemDedup.HotIdBase) + col("id")).as("vec_id"),
        transform(sequence(lit(1), lit(Similarity.Dim)),
          _ => lit(0.1f).cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))))
      val base = Similarity.vecs(spark, dir).unionByName(planted).persist()
      val assign = SemDedup.cellAssignments(base, base.count())
      val refined = SemDedup.refineHotCells(assign, base)
      val refinedIds = refined.filter(col("cell").contains("/")).count()
      assert(refinedIds >= SemDedup.HotN,
        s"refinement must re-quantize the over-cap cell (got $refinedIds refined rows)")
      // black-box: identical vectors are mutual near-dups — one cluster
      val out = SparkEntry.queries("d27_planted_refinement")(spark, dir)
        .filter(col("vec_id") >= SemDedup.HotIdBase)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.length === SemDedup.HotN)
      assert(out.map(_._2).distinct.length === 1,
        "the planted identical family must resolve to ONE cluster")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- z-order manifest sidecar ------------------------------------------

  test("zorder sidecar: write persists the bin basis; stale caller bounds are the hazard it closes") {
    import graft.ops.Zorder
    // value range deliberately NOT 0..255: bins depend on min/max, so a
    // caller who assumes the wrong range mis-bins the box
    val df = spark.range(256L * 256)
      .selectExpr("1000 + id DIV 256 AS a", "2000 + 2 * (id % 256) AS b")
    val root = java.nio.file.Files.createTempDirectory("graft_zman").toFile
    try {
      val m = Zorder.write(df, root.getAbsolutePath, col("a"), col("b"), shards = 16)
      // round-trip: the sidecar IS the returned basis
      assert(Zorder.loadManifest(root.getAbsolutePath) === m)
      assert(m.mna === 1000L && m.mxa === 1255L && m.mnb === 2000L && m.mxb === 2510L)
      val back = spark.read.parquet(root.getAbsolutePath)
      val box = col("a").between(1096, 1111) && col("b").between(2192, 2223)
      val exact = back.filter(box).count()
      assert(exact === 16L * 16, "sanity: the box holds one row per cell")
      // manifest-based read path: prune + exact residual == plain box
      val viaManifest = back.filter(
        Zorder.boxPruningPredicate(root.getAbsolutePath, col("z"),
          1096, 1111, 2192, 2223) && box).count()
      assert(viaManifest === exact)
      // the regression this sidecar closes: STALE bounds (say the caller
      // remembers a 0-based, wider range — the table "grew since") bin
      // the box into the wrong z cells and silently DROP rows when
      // ANDed with the exact predicate
      val stale = back.filter(
        Zorder.boxPruningPredicate(col("z"), 0, 2000, 0, 4000,
          1096, 1111, 2192, 2223) && box).count()
      assert(stale < exact,
        s"stale bounds should mis-prune in this geometry (got $stale of $exact) — " +
          "if this ever equals exact, the fixture no longer demonstrates the hazard")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("zorder pruning edges: disjoint query box prunes everything; maxRanges >= 1 enforced") {
    import graft.ops.Zorder
    val df = spark.range(64).selectExpr("id AS a", "id AS b")
    val root = java.nio.file.Files.createTempDirectory("graft_zedge").toFile
    try {
      Zorder.write(df, root.getAbsolutePath, col("a"), col("b"), shards = 4)
      val back = spark.read.parquet(root.getAbsolutePath)
      // a box entirely OUTSIDE the written value range is a legitimately
      // empty query: lit(false), not a zRanges require-crash
      val n = back.filter(Zorder.boxPruningPredicate(
        root.getAbsolutePath, col("z"), 100, 200, 0, 63)).count()
      assert(n === 0L)
      intercept[IllegalArgumentException] {
        Zorder.zRanges(0, 1, 0, 1, maxRanges = 0)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
