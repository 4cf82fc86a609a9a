package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 hardening tests: the d23 index-append law replayed over a
  * multi-ingest sequence (VERDICT r10 #4) — the invariant the DuckDB
  * gate certifies for ONE corpus/delta split, here driven through the
  * shape production actually runs: an index maintained across several
  * appends must stay byte-identical to a from-scratch rebuild.
  */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def index(src: DataFrame): DataFrame =
    graft.ops.Dedup.bandedOf(graft.ops.Dedup.shingledDocs(src))

  test("d23 replay: two successive banded-delta appends equal the full index rebuild") {
    val docs = graft.core.Tables.documents(spark, dir)
    // ingest 0 seeds the index; ingests 1 and 2 append their banded
    // delta WITHOUT touching the stored rows — the d22 maintenance shape
    val batches = (0 to 2).map(b => docs.filter(col("doc_id") % 3 === b))
    val appended = batches.map(index).reduce(_ unionByName _)
    val rebuilt = index(docs)
    assert(appended.exceptAll(rebuilt).isEmpty, "appended index has rows a rebuild lacks")
    assert(rebuilt.exceptAll(appended).isEmpty, "rebuild has rows the appended index lacks")
    // and the law is not vacuous: the index is non-trivial at this SF
    assert(rebuilt.count() > 0)
  }

  test("t24 merge kernel: two-pass replace contract — greedy on disjoint pairs, exact on chains") {
    import spark.implicits._
    val T = graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "x x x"),       // self-overlapping chain: exactly ONE merge
      (2L, "x y x y"),     // back-to-back occurrences sharing a delimiter
      (3L, "a x y b x y"), // disjoint occurrences: both merge in pass one
      (4L, "lone")         // no pairs at all
    ).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), T.delimited(col("text")).as("s"))
    def merged(l: String, r: String): Map[Long, Seq[String]] = {
      val b = Seq((l, r)).toDF("lhs", "rhs")
      T.applyMerge(corpus, b).as[(Long, String)].collect()
        .map { case (id, s) => id -> s.split(T.Sep).filter(_.nonEmpty).toSeq }.toMap
    }
    val J = T.Joiner
    val mx = merged("x", "x")
    assert(mx(1L) === Seq(s"x${J}x", "x"), "chain x x x must merge once, leftmost")
    val my = merged("x", "y")
    assert(my(2L) === Seq(s"x${J}y", s"x${J}y"), "second pass must catch the delimiter-sharing occurrence")
    assert(my(3L) === Seq("a", s"x${J}y", "b", s"x${J}y"))
    assert(my(4L) === Seq("lone"))
    // and the pair statistic the selection reads: adjacent multiset
    // counts, overlaps included ((x,x) counts twice in x x x)
    val pairs = T.stepPairs(corpus).as[(String, String, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
    assert(pairs(("x", "x")) === 2L)
    assert(pairs(("x", "y")) === 4L)
    assert(pairs(("y", "x")) === 1L)
    assert(!pairs.contains(("lone", "lone")))
  }

  test("t24 end-to-end: step 1 equals t10's argmax count; token mass strictly decreases") {
    val T = graft.ops.TextAnalysis
    val out = SparkEntry.queries("t24_bpe_merge_loop")(spark, dir)
      .orderBy("step").collect()
    assert(out.length === T.MergeSteps)
    // the loop's first selection must agree with the independent t10
    // statistic (same tokenization, same count) — a drifted pair counter
    // would diverge here before the oracle ever sees it
    val maxN = T.bigramPairs(spark, dir).agg(max(col("n"))).head.getLong(0)
    assert(out(0).getAs[Long]("pair_n") === maxN)
    // every step merges at least one occurrence: token mass strictly falls
    val masses = out.map(_.getAs[Long]("tokens_after"))
    val total = graft.core.Tables.documents(spark, dir)
      .agg(sum(size(filter(split(lower(col("text")), " "), t => length(t) > 0))))
      .head.getLong(0)
    assert(masses(0) < total, s"step 1 must shrink the corpus: $total -> ${masses.toSeq}")
    assert(masses.sliding(2).forall(p => p(1) < p(0)), s"non-decreasing: ${masses.toSeq}")
    graft.core.Sessions.sweepPersistedState(spark)
  }

  test("t25 freeze contract: delta-only pairs never merge; trained pairs do") {
    import spark.implicits._
    val T = graft.ops.TextAnalysis
    val train = Seq((1L, "a b a b a b"), (2L, "a b c")).toDF("doc_id", "text")
      .select(col("doc_id"), T.delimited(col("text")).as("s"))
    val merges = T.mergeChain(train).map(_._1)
    // (z,z) dominates the delta but is absent from training — the frozen
    // table must leave it alone while the trained (a,b) merge applies
    val delta = Seq((10L, "z z z z a b")).toDF("doc_id", "text")
      .select(col("doc_id"), T.delimited(col("text")).as("s"))
    val enc = merges.foldLeft(delta)(T.applyMerge)
      .as[(Long, String)].collect().head._2
    val toks = enc.split(T.Sep).filter(_.nonEmpty).toSeq
    assert(toks.contains(s"a${T.Joiner}b"), s"trained merge must apply: $toks")
    assert(toks.count(_ == "z") === 4, s"delta-only pair must stay unmerged: $toks")
    graft.core.Sessions.sweepPersistedState(spark)
  }

  test("es24 replay: a two-file micro-batched stream equals the one-shot batch classification") {
    val docs = graft.core.Tables.documents(spark, dir)
    val isDelta = col("doc_id") % 10 === 0
    val corpusSh = graft.ops.Dedup.shingledDocs(docs.filter(!isDelta)).persist()
    val idx = graft.ops.Dedup.bandedOf(corpusSh).persist()
    idx.count()
    // the delta split across two FILES → two micro-batches under
    // maxFilesPerTrigger=1: the stream must emit the same verdicts as
    // one batch pass, because the index is static and verdicts per-doc
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es24spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es24run").toFile
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 === 0),
      streamDir.toString, "documents_a")
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 =!= 0),
      streamDir.toString, "documents_b")
    try {
      val streamed = graft.streaming.StreamingGate.runNearDupStream(spark,
        graft.streaming.StreamingGate.readDocuments(spark, streamDir.getAbsolutePath, Some(1)),
        corpusSh, idx,
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath)
      val batchDirs = new java.io.File(runBase, "out").listFiles()
        .filter(_.getName.startsWith("batch_id="))
      assert(batchDirs.length >= 2, s"expected ≥2 micro-batches, got ${batchDirs.length}")
      val batch = graft.ops.Dedup.classifyDelta(docs.filter(isDelta), corpusSh, idx)
      assert(streamed.exceptAll(batch).isEmpty, "stream emitted rows the batch pass lacks")
      assert(batch.exceptAll(streamed).isEmpty, "batch pass has rows the stream missed")
      assert(batch.count() > 0)
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("es25 replay: micro-batched frozen-merge encode equals the batch t25 report") {
    val docs = graft.core.Tables.documents(spark, dir)
    val isDelta = col("doc_id") % 10 === 0
    val merges = graft.ops.TextAnalysis.trainMergesOn(docs.filter(!isDelta))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_es25spec").toFile
    val runBase = java.nio.file.Files.createTempDirectory("graft_es25run").toFile
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 === 0),
      streamDir.toString, "documents_a")
    StreamFiles.writeOne(docs.filter(isDelta && col("doc_id") % 20 =!= 0),
      streamDir.toString, "documents_b")
    try {
      val streamed = graft.streaming.StreamingGate.runDocBatchStream(spark,
        graft.streaming.StreamingGate.readDocuments(spark, streamDir.getAbsolutePath, Some(1)),
        new java.io.File(runBase, "out").getAbsolutePath,
        new java.io.File(runBase, "ckpt").getAbsolutePath,
        Seq("doc_id", "n_raw", "n_enc", "n_merged", "ratio"))(
        batch => graft.ops.TextAnalysis.encodeReport(batch, merges))
      val batch = graft.ops.TextAnalysis.encodeReport(docs.filter(isDelta), merges)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      assert(batch.count() > 0)
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(streamDir)
      org.apache.commons.io.FileUtils.deleteDirectory(runBase)
    }
  }

  test("p28 locality: every planned z-file covers a narrow range of BOTH dimensions") {
    // the property data skipping buys: a z-file fixes the top 5 bits of
    // each dimension's 8-bit bin, so each file spans ≤ 8 bins ≈ 1/32 of
    // either column's range (a single-column sort would leave the other
    // column full-width in every file)
    val out = SparkEntry.queries("p28_zorder_layout")(spark, dir).collect()
    assert(out.nonEmpty)
    val li = graft.core.Tables.lineitem(spark, dir)
      .agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head
    val (ra, rb) = (li.getLong(1) - li.getLong(0) + 1, li.getLong(3) - li.getLong(2) + 1)
    for (r <- out) {
      val spanA = r.getAs[Long]("max_part") - r.getAs[Long]("min_part")
      val spanB = r.getAs[Long]("max_supp") - r.getAs[Long]("min_supp")
      // 8 bins of width ceil(range/256) each, plus one bin of slack
      assert(spanA <= ra * 9 / 256 + 2, s"zfile ${r.getAs[Long]("zfile")} part span $spanA of $ra")
      assert(spanB <= rb * 9 / 256 + 2, s"zfile ${r.getAs[Long]("zfile")} supp span $spanB of $rb")
    }
    // and the layout is total: file populations sum to the table
    assert(out.map(_.getAs[Long]("n")).sum === graft.core.Tables.lineitem(spark, dir).count())
  }

  test("bench regression tripwire: an fp:diff slowdown fails LOUD in both summary lines") {
    // synthetic fixture (VERDICT r10 #5's "done" bar): a committed local
    // reference where one query is ≥2x-and-≥1 s slower AND its plan
    // fingerprint changed — the code-attributable case — must land in
    // the `regressions` field of BOTH the full and compact JSON lines;
    // an equally large fp:same mover (environmental) and an fp:diff
    // SPEEDUP (plan improvement awaiting a ref refresh) must not.
    val dir = java.nio.file.Files.createTempDirectory("benchreg").toFile
    val ref = new java.io.File(dir, "ref.json")
    java.nio.file.Files.writeString(ref.toPath,
      """{"metric":"total","queries":{"qa":1.0,"qb":1.0,"qc":8.0},
        |"plan_fp":{"qa":"aaa","qb":"bbb","qc":"ccc"},"sf":"/data/sf0.1"}""".stripMargin.replace("\n", ""))
    val results = Seq(
      "qa" -> Bench.QRec(5.0, 5.0, Seq(5.0), 0.0, "zzz", suspect = false), // 5x slower, plan CHANGED -> regression
      "qb" -> Bench.QRec(4.0, 4.0, Seq(4.0), 0.0, "bbb", suspect = false), // 4x slower, same plan -> environmental
      "qc" -> Bench.QRec(2.0, 2.0, Seq(2.0), 0.0, "yyy", suspect = false)) // 4x FASTER, plan changed -> improvement
    val (deltaJson, regs) = Bench.deltaVsRef(results, "/x/sf0.1", ref.getAbsolutePath)
    assert(regs === Seq("qa"), s"regressions: $regs\n$deltaJson")
    val (full, compact) = Bench.renderSummary(results, "/x/sf0.1", "out.json", deltaJson, regs)
    for (line <- Seq(full, compact))
      assert(line.contains(""""regressions":["qa"]"""), line)
    // and the green path stays green: no regressions -> empty list
    val (fullOk, compactOk) = Bench.renderSummary(results, "/x/sf0.1", "out.json", "[]", Nil)
    for (line <- Seq(fullOk, compactOk))
      assert(line.contains(""""regressions":[]"""), line)
  }
}
