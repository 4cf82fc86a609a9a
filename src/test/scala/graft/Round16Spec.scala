package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 regression pins: sustained-disposition bench records stay
  * visible in the delta table (round-15 ADVICE — the analyzed-plan fp
  * cannot rule out an optimizer-level regression, so "sustained" must
  * not quarantine a possible code regression as machine noise), the
  * write-once commit-log lifecycle (no-rename publish, concurrent
  * publishers serialized, reclaim-failure warning counter), the
  * retrain-free arrival-drift proxy, and the N-dimensional z-order
  * basis.
  */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // ---- bench: sustained records stay in the delta table ------------------

  test("deltaVsRef keeps disposition=sustained suspects in the table, drops other suspects") {
    import Bench.QRec
    val ref = java.nio.file.Files.createTempFile("graft_ref", ".json")
    try {
      java.nio.file.Files.writeString(ref,
        """{"sf":"/root/testdata/sf0.1",
          |"queries":{"qa":0.25,"qb":0.25,"qc":0.25},
          |"plan_fp":{"qa":"f1","qb":"f1","qc":"f1"}}""".stripMargin.replace("\n", ""))
      val results = Seq(
        // sustained: suspect=true but disposition says "inflated all run,
        // fp same" — must STAY in the table with disp:"sustained"
        "qa" -> QRec(7.0, 7.0, Seq(6.8, 7.0, 7.2), 3.0, "f1", suspect = true),
        // spread-polluted suspect with no disposition: excluded as before
        "qb" -> QRec(7.0, 7.0, Seq(0.3, 7.0, 21.0), 40.0, "f1", suspect = true),
        // trusted mover: in the table as before
        "qc" -> QRec(7.0, 7.0, Seq(6.8, 7.0, 7.2), 3.0, "f9", suspect = false))
      val (json, regressions) = Bench.deltaVsRef(
        results, "/root/testdata/sf0.1", ref.toString, Map("qa" -> "sustained"))
      assert(json.contains(""""q":"qa"""") && json.contains(""""disp":"sustained""""),
        s"sustained record must stay in the delta table: $json")
      assert(!json.contains(""""q":"qb""""), s"plain suspect must stay out: $json")
      assert(json.contains(""""q":"qc""""))
      // sustained is fp:same — never a regression tripwire
      assert(regressions === Seq("qc"))
    } finally java.nio.file.Files.delete(ref)
  }

  // ---- the commit-log lifecycle (round-15 verdict #1/#3/#7) --------------

  test("CommitLog: write-once versions, burned entries skipped, contention serialized") {
    import graft.core.{CommitIo, CommitLog}
    val base = java.nio.file.Files.createTempDirectory("graft_clog").toFile
    try {
      val log = new CommitLog(base)
      assert(log.current === None)
      assert(log.commitNext("a") === 1L)
      assert(log.commitNext("b") === 2L)
      assert(log.current === Some((2L, "b")))
      // a taken version can never be re-committed — write-once
      assert(!log.tryCommit(2L, "evil"))
      assert(log.current === Some((2L, "b")))
      // a burned (empty) commit file: skipped by readers, version burned
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(base.getAbsolutePath, "_commits", f"${3L}%020d"))
      assert(log.current === Some((2L, "b")))
      assert(log.commitNext("c") === 4L, "commitNext must move past a burned version")
      assert(log.entries.map(_._1) === Seq(1L, 2L, 4L))
      // reclaim trims the log without disturbing current
      log.deleteEntry(1L)
      assert(log.entries.map(_._1) === Seq(2L, 4L) && log.current === Some((4L, "c")))
      assert(CommitLog.exists(base) && !CommitLog.exists(new java.io.File(base, "nope")))
      intercept[IllegalArgumentException] { log.tryCommit(9L, "") }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base)
  }

  test("concurrent publishers both land, serialized by the write-once commit — nothing destroyed") {
    import graft.ops.{IndexArtifact, IndexGenerations, Similarity}
    val base = java.nio.file.Files.createTempDirectory("graft_pubrace").toFile
    val root = new java.io.File(base, "gens").getAbsolutePath
    try {
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val m = IndexArtifact.loadManifest(Similarity.sharedIndexPath(spark, dir, split = true))
      val delta = Similarity.vecs(spark, dir).filter(Similarity.isDeltaVec)
      val deltaRanked = Similarity.rankCellsTwoLevel(delta, gArr, "l2", m.coarseGroups, m.probes)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        // the old protocol's recover() deleted any unpointed generation on
        // publish entry — a concurrent publisher's staged write was
        // collateral. The commit log serializes instead: both stages are
        // invisible until committed, the version race has one winner, the
        // loser re-commits at the next version with its intact stage.
        val a = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = IndexGenerations.publish(
            spark, root, gArr, ranked, m.probes, m.coarseGroups)
        })
        val b = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = IndexGenerations.publish(spark, root, gArr,
            ranked.unionByName(deltaRanked), m.probes, m.coarseGroups)
        })
        val (va, vb) = (a.get(120, java.util.concurrent.TimeUnit.SECONDS),
          b.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(va !== vb, "concurrent publishes must land distinct generations")
        assert(Set(va, vb) === Set(1L, 2L))
        assert(IndexGenerations.current(root) === Some(2L))
        // BOTH artifacts are complete and readable (grace window holds the
        // earlier one) — nothing was reclaimed mid-write
        val log = new graft.core.CommitLog(new java.io.File(root))
        log.entries.foreach { case (_, d) =>
          IndexArtifact.load(spark, new java.io.File(root, d).getAbsolutePath,
            m.probes, m.coarseGroups, verifyCounts = true)
        }
        // the serving read resolves whichever publish committed last
        val (_, served) = IndexGenerations.loadCurrent(
          spark, root, m.probes, m.coarseGroups, verifyCounts = true)
        val counts = Set(ranked.count(), ranked.count() + deltaRanked.count())
        assert(counts.contains(served.count()))
      } finally pool.shutdownNow()
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("reclaim failures are counted and surfaced, never silently swallowed") {
    import graft.core.CommitIo
    import graft.ops.{IndexArtifact, IndexGenerations, Similarity}
    val base = java.nio.file.Files.createTempDirectory("graft_reclaimwarn").toFile
    val root = new java.io.File(base, "gens").getAbsolutePath
    // the Io seam lets the test inject the substrate failure the silent
    // catch used to hide (a permissions error on reclaim)
    val failDeletes = new java.util.concurrent.atomic.AtomicBoolean(false)
    object FailingDeleteIo extends CommitIo {
      private val L = CommitIo.Local
      def createExclusive(p: java.io.File, c: String) = L.createExclusive(p, c)
      def readString(p: java.io.File) = L.readString(p)
      def list(d: java.io.File) = L.list(d)
      def exists(p: java.io.File) = L.exists(p)
      def mkdirs(p: java.io.File) = L.mkdirs(p)
      def mtimeMs(p: java.io.File) = L.mtimeMs(p)
      def deleteRecursively(p: java.io.File) =
        if (failDeletes.get() && p.getName.startsWith("gen-"))
          throw new java.io.IOException(s"injected reclaim failure: $p")
        else L.deleteRecursively(p)
    }
    try {
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val m = IndexArtifact.loadManifest(Similarity.sharedIndexPath(spark, dir, split = true))
      def pub() = IndexGenerations.publish(spark, root, gArr, ranked,
        m.probes, m.coarseGroups, io = FailingDeleteIo)
      pub(); pub()
      val before = IndexGenerations.reclaimWarningCount
      failDeletes.set(true)
      val v3 = pub() // retires gen 1 → injected failure
      assert(v3 === 3L, "a reclaim failure must not fail the publish")
      assert(IndexGenerations.reclaimWarningCount > before,
        "a failed reclaim must move the warning counter")
      // the failed generation is still there for the next pass to retry
      val log = new graft.core.CommitLog(new java.io.File(root), FailingDeleteIo)
      assert(log.entries.map(_._1).contains(1L))
      failDeletes.set(false)
      pub()
      assert(!new graft.core.CommitLog(new java.io.File(root))
        .entries.map(_._1).contains(1L), "the retried reclaim must finish the job")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("compactWhere commits through the Io seam; reclaim failures counted, retried, healed") {
    import graft.core.CommitIo
    import graft.ops.Compaction
    val base = java.nio.file.Files.createTempDirectory("graft_lwarn").toFile
    val root = new java.io.File(base, "layout").getAbsolutePath
    val failDeletes = new java.util.concurrent.atomic.AtomicBoolean(false)
    val opsSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // every commit-protocol file op flows through this instrumented Io —
    // there IS no rename op to intercept (the seam has none), so what
    // this records is the full op alphabet the protocol needs: exactly
    // the object-store-safe set
    object SeamIo extends CommitIo {
      private val L = CommitIo.Local
      def createExclusive(p: java.io.File, c: String) = { opsSeen.add("createExclusive"); L.createExclusive(p, c) }
      def readString(p: java.io.File) = { opsSeen.add("read"); L.readString(p) }
      def list(d: java.io.File) = { opsSeen.add("list"); L.list(d) }
      def exists(p: java.io.File) = { opsSeen.add("exists"); L.exists(p) }
      def mkdirs(p: java.io.File) = { opsSeen.add("mkdirs"); L.mkdirs(p) }
      def mtimeMs(p: java.io.File) = { opsSeen.add("mtime"); L.mtimeMs(p) }
      def deleteRecursively(p: java.io.File) = {
        opsSeen.add("delete")
        if (failDeletes.get() && p.getName.startsWith("day="))
          throw new java.io.IOException(s"injected reclaim failure: $p")
        L.deleteRecursively(p)
      }
    }
    try {
      val budget = 1024L
      val rows = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      Compaction.writeLayout(Compaction.planLayoutBy(rows,
        when(col("day") % 2 === 0, lit(budget)).otherwise(lit(128L))), root)
      def rowsNow() = graft.streaming.IngestPipeline.readShards(spark, root)
        .collect().map(_.toSeq.toList).groupBy(identity).view.mapValues(_.length).toMap
      val rowsBefore = rowsNow()
      failDeletes.set(true)
      val before = Compaction.reclaimWarningCount
      val (breached, _, _) = Compaction.compactWhere(spark, root, budget, io = SeamIo)
      assert(breached.nonEmpty)
      assert(Compaction.reclaimWarningCount > before,
        "a failed post-commit reclaim must move the warning counter")
      assert(rowsNow() === rowsBefore,
        "the commit must win over undeleted superseded dirs")
      // superseded plain dirs still present (their delete failed)...
      assert(breached.exists(d => new java.io.File(root, s"day=$d").exists()))
      failDeletes.set(false)
      // ...and the next pass's recovery finishes the job
      val (b2, _, _) = Compaction.compactWhere(spark, root, budget, io = SeamIo)
      assert(b2.isEmpty, "the committed state must census as healthy")
      assert(breached.forall(d => !new java.io.File(root, s"day=$d").exists()),
        "retried recovery must drop the superseded day dirs")
      assert(rowsNow() === rowsBefore)
      import scala.jdk.CollectionConverters._
      assert(opsSeen.asScala.subsetOf(Set(
        "createExclusive", "read", "list", "exists", "mkdirs", "mtime", "delete")),
        s"the commit protocol used an op outside the seam: ${opsSeen.asScala}")
      assert(opsSeen.contains("createExclusive"), "the commit itself must flow through the seam")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- the retrain-free drift proxy (round-15 verdict #2) ----------------

  test("arrivalDrift separates planted in- vs out-of-distribution arrivals without training") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.{sqrt => fsqrt}
    try {
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val corpusOcc = Similarity.membershipOf(ranked)
      val delta = Similarity.vecs(spark, dir).filter(Similarity.isDeltaVec)
      // planted IN-distribution arrivals: the gate Δ itself (a 10%
      // same-distribution sample) — drift should read sampling noise
      val idRate = Similarity.arrivalDrift(
        Similarity.frozenAssign(delta, gArr), corpusOcc)
      // planted OUT-of-distribution arrivals: the same rows shifted far
      // outside the corpus — they pile into the few nearest cells, so
      // the occupancy divergence must approach 1
      val ood = delta
        .withColumn("v", transform(col("v"), x => x + lit(100.0d)))
        .withColumn("nrm", fsqrt(graft.functions.VectorFunctions.vec_dot(col("v"), col("v"))))
      val oodRate = Similarity.arrivalDrift(
        Similarity.frozenAssign(ood, gArr), corpusOcc)
      info(s"arrivalDrift: in-distribution=$idRate, out-of-distribution=$oodRate")
      assert(idRate > 0.0 && idRate < 0.5,
        s"in-distribution arrivals must read sampling noise, got $idRate")
      assert(oodRate > 0.7, s"planted drift must read near-total divergence, got $oodRate")
      assert(oodRate > 2 * idRate, "the proxy must separate the two regimes decisively")
      // a perfectly-matching arrival population reads exactly zero:
      // assigning the corpus itself under its own frozen codebook IS the
      // stored membership (rank prefix stability), so TV = 0
      val selfRate = Similarity.arrivalDrift(
        Similarity.frozenAssign(Similarity.vecs(spark, dir).filter(!Similarity.isDeltaVec),
          gArr), corpusOcc)
      assert(selfRate === 0.0, s"self-assignment must measure zero drift, got $selfRate")
      // WHY migrationRate could not be the decision metric (round-15
      // verdict #2): even the in-distribution Δ makes a fresh retrain
      // migrate a large fraction of the corpus (K scales with n, the
      // seed cut re-rolls — retrain INSTABILITY, not data drift), so a
      // threshold on it conflates "arrivals changed" with "k-means
      // re-rolled". The stored-vs-fresh rate here is the instability
      // floor the proxy is immune to.
      val fresh = Similarity.membershipOf(Similarity.sharedIndex(spark, dir, split = false)._2)
      val instability = Similarity.migrationRate(Similarity.membershipOf(ranked), fresh)
      info(s"retrain-instability migration on in-distribution growth: $instability")
      assert(instability > idRate,
        "migrationRate must exceed the proxy on in-distribution growth — " +
          "the conflation the proxy exists to remove")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  test("architecture pin: the lifecycle sources perform no renames at all") {
    // the CommitIo seam has no move/rename on purpose; this pin keeps a
    // future edit from quietly reintroducing one into a lifecycle file.
    // (ProcessStore and IndexArtifact.write are process-private local
    // scratch paths — rename there is in-contract and documented.)
    val lifecycle = Seq(
      "src/main/scala/graft/core/CommitLog.scala",
      "src/main/scala/graft/ops/IndexGenerations.scala",
      "src/main/scala/graft/ops/Compaction.scala")
    lifecycle.foreach { p =>
      val src = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
      assert(!src.contains("Files.move") && !src.contains("ATOMIC_MOVE") &&
        !src.contains("renameTo"),
        s"$p must not rename — the commit log is the only commit primitive")
    }
  }

  test("architecture pin: StreamingGate creates its scratch dirs in one place") {
    // every gate's scratch directory comes from the one helper that also
    // deletes it; a second createTempDirectory would be a second owner
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/StreamingGate.scala"))
    assert("createTempDirectory".r.findAllMatchIn(src).size === 1,
      "StreamingGate must create scratch dirs only through its scratch-dir helper")
  }
}
