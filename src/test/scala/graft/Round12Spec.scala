package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 regression pins: the stream scratch-dir/empty-delta
  * contracts and the refinement no-op boundary.
  */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("runDocBatchStream: a delta matching ZERO rows returns an empty, correctly-shaped frame") {
    // the es24/es25 harness must not throw when nothing arrives (a real
    // ingest gate idles through empty polling windows): foreachBatch
    // never fires, no batch_id dir exists, and the read-back used to
    // fail on schema inference over an absent path
    val docs = graft.core.Tables.documents(spark, dir)
    val merges = graft.ops.TextAnalysis.trainMergesOn(docs)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_r12_empty").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_r12_run").toFile
    try {
      // a parquet file whose rows are ALL filtered out downstream —
      // the stream source sees a file, the transform sees zero rows
      StreamFiles.writeOne(docs.limit(1), streamDir.toString, "documents_a")

      // glob matches ZERO files: the stream plans no batch at all, so
      // foreachBatch never fires — the exact no-output-dir case (a
      // zero-ROW delta still fires an empty batch and always worked)
      val noFiles = spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "nothing-here-*.parquet")
        .parquet(streamDir.getAbsolutePath)
      val out = graft.streaming.StreamingGate.runDocBatchStream(spark, noFiles,
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath,
        Seq("doc_id", "n_raw", "n_enc", "n_merged", "ratio"))(
        batch => graft.ops.TextAnalysis.encodeReport(batch, merges))
      assert(out.columns.toSeq === Seq("doc_id", "n_raw", "n_enc", "n_merged", "ratio"))
      assert(out.count() === 0L)
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("s25: RRF fusion laws — dense ranks, bounded scores, monotone within query") {
    val out = graft.SparkEntry.queries("s25_hybrid_rrf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    try {
      val byQ = out.groupBy(_._1)
      assert(byQ.size === 8, s"fixed query batch: ${byQ.size}")
      for ((q, rows) <- byQ) {
        val sorted = rows.sortBy(_._2)
        // rk dense from 1, capped at 10
        assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq, s"q=$q ranks not dense")
        assert(sorted.length <= 10)
        // a fused doc carries 1 or 2 reciprocal terms over ranks 1..20:
        // rrf in (0, 2/61]; monotone non-increasing along rk
        for ((_, _, _, rrf) <- sorted)
          assert(rrf > 0.0 && rrf <= 2.0 / 61.0 + 1e-15, s"q=$q rrf=$rrf out of range")
        assert(sorted.sliding(2).forall {
          case Array(a, b) => a._4 >= b._4
          case _           => true
        }, s"q=$q rrf not monotone along rk")
        // every rrf is a sum of at most two terms 1/(60+r), r in 1..20 —
        // membership in the closed set of representable values pins the
        // fusion arithmetic itself (not just its ordering)
        val terms = (1 to 20).map(r => 1.0 / (60.0 + r))
        val legal = (terms ++ (for (a <- terms; b <- terms) yield a + b)).toSet
        for ((_, _, _, rrf) <- sorted)
          assert(legal.contains(rrf), s"q=$q rrf=$rrf is not a 1- or 2-term RRF sum")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("s27: every anchor mines one positive and disjoint dense-ranked hard negatives") {
    val out = graft.SparkEntry.queries("s27_mined_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    try {
      val byQ = out.groupBy(_._1)
      assert(byQ.size === 8)
      for ((q, rows) <- byQ) {
        val pos = rows.filter(_._2 == "positive")
        val negs = rows.filter(_._2 == "hard_negative").sortBy(_._3)
        assert(pos.length === 1 && pos.head._3 === 1L, s"q=$q needs exactly one positive")
        assert(negs.length <= 4, s"q=$q too many negatives")
        assert(negs.map(_._3).toSeq === (1L to negs.length).toSeq, s"q=$q negative ranks not dense")
        // the positive (semantic top-1) can never be mined as a negative
        // (negatives are anti-joined against the whole semantic list)
        assert(!negs.map(_._4).contains(pos.head._4), s"q=$q positive leaked into negatives")
        assert(rows.map(_._4).distinct.length === rows.length, s"q=$q duplicate candidates")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("d25: a planted 20-token verbatim quote is recovered as exactly one 20-token span") {
    // the span-granularity case d12's non-overlapping segments miss: the
    // shared run sits at arbitrary offsets in both docs
    val a = (0 until 30).map(i => s"wa$i").mkString(" ")
    val shared = (10 until 30).map(i => s"wa$i").mkString(" ")
    val b = (0 until 10).map(i => s"xb$i").mkString(" ") + " " + shared
    val planted = java.nio.file.Files.createTempDirectory("graft_d25spec").toString
    try {
      spark.createDataFrame(Seq(
        (1L, a, "en", "s1", a.length.toLong),
        (2L, b, "en", "s2", b.length.toLong),
        (3L, (0 until 30).map(i => s"zc$i").mkString(" "), "en", "s3", 100L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(planted + "/documents.parquet")
      val out = graft.SparkEntry.queries("d25_dup_spans")(spark, planted)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out(1L) === ((1L, 20L)), s"doc 1: ${out(1L)}")
      assert(out(2L) === ((1L, 20L)), s"doc 2: ${out(2L)}")
      assert(out(3L) === ((0L, 0L)), s"doc 3 must be clean: ${out(3L)}")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(planted))
    }
  }

  test("d24: source sketches are invariant to shard count (the merge law)") {
    // minhash(∪ shards) == elementwise-min of shard sketches, whatever
    // the sharding — 1 (one-pass), 2 (the query's split), 5 (re-shard)
    def sk(n: Int) = graft.ops.Dedup.sourceSketches(spark, dir, n)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toVector).toMap
    try {
      val (one, two, five) = (sk(1), sk(2), sk(5))
      assert(one === two, "2-shard merge diverged from the one-pass sketch")
      assert(one === five, "5-shard merge diverged from the one-pass sketch")
      assert(one.nonEmpty && one.values.forall(_.length === 128))
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("s26: cluster cards partition the corpus and headline only qualifying terms") {
    val out = graft.SparkEntry.queries("s26_cluster_cards")(spark, dir).collect()
    try {
      // the cards PARTITION the embedded corpus: member counts sum to
      // the number of usable (nrm > 0, doc-joined) vectors
      val total = out.map(_.getLong(1)).sum
      val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
      assert(total <= corpus && total > 0, s"member total $total vs corpus $corpus")
      for (r <- out) {
        val terms = r.getString(3).split(",").filter(_.nonEmpty)
        assert(terms.length <= 5, s"cid=${r.getLong(0)} more than 5 terms")
        assert(terms.distinct.length === terms.length, s"cid=${r.getLong(0)} duplicate terms")
        assert(terms.forall(_.length >= 5), s"cid=${r.getLong(0)} short term leaked: ${terms.mkString(",")}")
        assert(r.getLong(2) > 0, "sum_chars must be positive for a non-empty cluster")
      }
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("z-order read path: a 2-D box becomes sargable z ranges that push down to the scan") {
    // grid-exhaustive synthetic (one row per 256x256 cell, value == bin)
    // so the geometry is exact and assertions aren't data-dependent
    val df = spark.range(256L * 256).selectExpr("id DIV 256 AS a", "id % 256 AS b")
    val root = java.nio.file.Files.createTempDirectory("graft_zread").toFile
    try {
      graft.ops.Zorder.write(df, root.getAbsolutePath, col("a"), col("b"), shards = 32)
      // aligned 16x16 box: ONE contiguous curve run of exactly 256 codes
      val aligned = graft.ops.Zorder.zRanges(96, 111, 96, 111)
      assert(aligned === Seq((aligned.head._1, aligned.head._1 + 255)),
        s"aligned power-of-two box must be one z run, got $aligned")
      // unaligned box: exact cover (no slack) when ranges are unbounded
      val exact = graft.ops.Zorder.zRanges(3, 9, 250, 255, maxRanges = Int.MaxValue)
      assert(exact.map { case (lo, hi) => hi - lo + 1 }.sum === 7L * 6)
      // coalescing keeps a SUPERSET within the range budget
      val coarse = graft.ops.Zorder.zRanges(3, 9, 250, 255, maxRanges = 4)
      assert(coarse.length <= 4)
      for (ba <- 3L to 9; bb <- 250L to 255) {
        val z = graft.ops.Zorder.interleave(ba, bb)
        assert(coarse.exists { case (lo, hi) => z >= lo && z <= hi },
          s"coalesced ranges dropped box cell ($ba,$bb)")
      }
      // read-back: pruning predicate + exact residual == the plain box
      val back = spark.read.parquet(root.getAbsolutePath)
      val pruned = back.filter(
        graft.ops.Zorder.boxPruningPredicate(col("z"), 0, 255, 0, 255, 96, 111, 96, 111) &&
          col("a").between(96, 111) && col("b").between(96, 111))
      assert(pruned.count() === 256L)
      // and the z ranges reach the parquet scan as pushed filters — the
      // row-group/file skipping hook (file skipping itself is asserted
      // geometrically in ScaleTechniquesSpec's layout test)
      val formatted = pruned.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pushed = formatted.linesIterator.filter(_.contains("PushedFilters")).mkString
      assert(pushed.contains("z"), s"z ranges must push down to the scan:\n$pushed")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("es26 replay: a two-file micro-batched stream equals the one-shot frozen assignment") {
    // batching must be invisible: the codebook is frozen before the
    // stream starts and the fold is per-row, so two micro-batches must
    // emit exactly the batch s24 assignment
    import graft.ops.Similarity
    val isDelta = col("vec_id") % 10 === 0
    val (corpus, gArr) = Similarity.trainedGroupArray(
      Similarity.vecs(spark, dir).filter(!isDelta))
    gArr.count()
    val emb = graft.core.Tables.embeddings(spark, dir)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es26spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es26run").toFile
    StreamFiles.writeOne(emb.filter(isDelta && col("vec_id") % 20 === 0),
      streamDir.toString, "embeddings_a")
    StreamFiles.writeOne(emb.filter(isDelta && col("vec_id") % 20 =!= 0),
      streamDir.toString, "embeddings_b")
    try {
      val streamed = graft.streaming.StreamingGate.runDocBatchStream(spark,
        graft.streaming.StreamingGate.readEmbeddings(spark, streamDir.getAbsolutePath, Some(1)),
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath,
        Seq("vec_id", "cell"))(
        b => Similarity.frozenAssign(Similarity.vecsOf(b), gArr))
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected >= 2 micro-batches, got ${batchDirs.length}")
      val batch = Similarity.frozenAssign(Similarity.vecs(spark, dir).filter(isDelta), gArr)
      assert(batch.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "micro-batched assignment must equal the one-shot batch assignment")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("es27 replay: two micro-batched shards' sketches merge to the one-shot matrix") {
    // the merge law live: batch boundaries are shards, so a two-file
    // stream's landed partials must compact to exactly d24's matrix
    import graft.ops.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es27spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es27run").toFile
    StreamFiles.writeOne(docs.filter(col("doc_id") % 2 === 0), streamDir.toString, "documents_a")
    StreamFiles.writeOne(docs.filter(col("doc_id") % 2 =!= 0), streamDir.toString, "documents_b")
    try {
      val streamed = Dedup.sketchMatrix(Dedup.sketchArrays(
        graft.streaming.StreamingGate.runDocBatchStream(spark,
          graft.streaming.StreamingGate.readDocuments(spark, streamDir.getAbsolutePath, Some(1)),
          new java.io.File(runBase, "out").getAbsolutePath,
          new java.io.File(runBase, "ckpt").getAbsolutePath,
          Seq("source", "i", "v"))(Dedup.partialSketchRows)))
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected >= 2 micro-batches, got ${batchDirs.length}")
      val oneShot = Dedup.sketchMatrix(Dedup.sourceSketches(spark, dir, 1))
      assert(oneShot.count() > 0)
      assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty,
        "micro-batched sketch matrix must equal the one-shot matrix")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("es24/es25 clean up their own scratch dirs and never touch a sibling's") {
    // the round-11 advisory: the old prefix sweep of the GLOBAL tmpdir
    // could delete a concurrent run's live checkpoint. Now: a planted
    // sibling directory with the same prefix must survive the query,
    // and the query's own scratch must be gone when it returns. Listing
    // and planting happen in this process's own scratch base, so a
    // concurrent Bench or Verify run cannot change what is listed.
    val tmpRoot = graft.core.ProcessStore.base
    def dirsWithPrefix(p: String): Set[String] =
      Option(tmpRoot.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(p)).map(_.getName).toSet
    for ((q, prefix) <- Seq(("es22_available_now", "graft-es22"),
                            ("es24_stream_neardup", "graft-es24"),
                            ("es25_stream_encode", "graft-es25"),
                            ("es27_stream_sketch", "graft-es27"),
                            ("es30_stream_blocks", "graft-es30"))) {
      val sibling = java.nio.file.Files.createTempDirectory(tmpRoot.toPath, prefix).toFile
      val canary = new java.io.File(sibling, "ckpt-canary")
      assert(canary.mkdir())
      val before = dirsWithPrefix(prefix)
      try {
        val n = SparkEntry.queries(q)(spark, dir).count()
        assert(n > 0)
        assert(canary.isDirectory, s"$q deleted a sibling run's scratch dir")
        assert(dirsWithPrefix(prefix) === before,
          s"$q must remove exactly the scratch dir it created")
      } finally {
        graft.core.Sessions.sweepPersistedState(spark)
        org.apache.commons.io.FileUtils.deleteDirectory(sibling)
      }
    }
  }

  test("p15 scratch lives under the process store: a canary at the shared tmpdir path survives") {
    // java.io.tmpdir/graft-ingest-<uuid of the input dir> is one path for
    // every process on the machine: p15 deleting and rebuilding it would
    // delete the live shards of another process running p15 on the same
    // input. A canary planted there must survive.
    val shared = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-ingest-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    val canary = new java.io.File(shared, "shards/canary")
    assert(canary.mkdirs() || canary.isDirectory)
    try {
      assert(SparkEntry.queries("p15_stream_ingest")(spark, dir).count() > 0)
      assert(canary.isDirectory, "p15 deleted a directory outside its process's scratch base")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(shared)
  }
}
