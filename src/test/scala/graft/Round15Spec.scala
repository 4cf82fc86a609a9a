package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 regression pins: the per-key ProcessStore (concurrent
  * distinct-key builds, crash-clean retry), the atomic index-generation
  * publish (`_current` pointer, crash-between-write-and-swap recovery),
  * the drift-triggered retrain decision (planted migration + the real
  * operator's branch flip around the measured rate), the z-basis
  * refresh on full rewrite, the oversized-row census fallback, and the
  * bench's sustained-inflation re-sampler.
  */
class Round15Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // ---- ProcessStore: per-key locking + crash-clean builds ---------------

  test("ProcessStore: distinct keys build concurrently; a throwing build retries clean") {
    import graft.core.ProcessStore
    val gate = new java.util.concurrent.CountDownLatch(1)
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val slow = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = ProcessStore.once("r15-slow-key") { f =>
          slowEntered.countDown()
          assert(gate.await(10, java.util.concurrent.TimeUnit.SECONDS),
            "slow build abandoned")
          java.nio.file.Files.writeString(new java.io.File(f, "a").toPath, "a")
        }
      })
      assert(slowEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      // with the round-14 global store lock this would deadlock-until-
      // timeout behind the slow build; per-key cells let it finish now
      val fast = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = ProcessStore.once("r15-fast-key") { f =>
          java.nio.file.Files.writeString(new java.io.File(f, "b").toPath, "b")
        }
      })
      val fastPath = fast.get(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(new java.io.File(fastPath, "b").exists(),
        "unrelated key must build while another key's build is in flight")
      gate.countDown()
      assert(new java.io.File(slow.get(10, java.util.concurrent.TimeUnit.SECONDS), "a").exists())
    } finally { gate.countDown(); pool.shutdownNow() }

    // crash hygiene: a build that throws mid-write leaves NO keyed dir
    // (the tmp is reclaimed), and the retry builds from scratch
    var attempts = 0
    intercept[RuntimeException] {
      graft.core.ProcessStore.once("r15-crash-key") { f =>
        attempts += 1
        java.nio.file.Files.writeString(new java.io.File(f, "partial").toPath, "x")
        throw new RuntimeException("boom")
      }
    }
    val retried = graft.core.ProcessStore.once("r15-crash-key") { f =>
      attempts += 1
      assert(!new java.io.File(f, "partial").exists(),
        "retry must never see the crashed build's debris")
      java.nio.file.Files.writeString(new java.io.File(f, "ok").toPath, "y")
    }
    assert(attempts === 2)
    assert(new java.io.File(retried, "ok").exists())
    // and the memoized path returns without rebuilding
    assert(graft.core.ProcessStore.once("r15-crash-key")(_ => fail("must not rebuild")) === retried)
  }

  // ---- IndexGenerations: atomic publish + crash recovery ----------------

  test("generation publish: commit is atomic, predecessor reclaimed, crash debris recovered") {
    import graft.ops.{IndexArtifact, IndexGenerations, Similarity}
    val base = java.nio.file.Files.createTempDirectory("graft_gens").toFile
    val root = new java.io.File(base, "gens").getAbsolutePath
    def genDirs() = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSet
    def dirOf(gen: Long) = new graft.core.CommitLog(new java.io.File(root))
      .entries.find(_._1 == gen).map(_._2).get
    try {
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val m = IndexArtifact.loadManifest(Similarity.sharedIndexPath(spark, dir, split = true))
      assert(IndexGenerations.current(root) === None)
      intercept[IllegalStateException] { IndexGenerations.currentPath(root) }

      // gen 1: corpus-trained
      assert(IndexGenerations.publish(spark, root, gArr, ranked, m.probes, m.coarseGroups) === 1L)
      assert(IndexGenerations.current(root) === Some(1L))
      val (_, r1) = IndexGenerations.loadCurrent(spark, root, m.probes, m.coarseGroups,
        verifyCounts = true)
      assert(r1.count() === m.membershipRows)
      val gen1Dir = dirOf(1L)

      // crash window: the next generation fully staged, never committed —
      // the reader must keep serving gen 1 (the stage is invisible to the
      // log), and age-gated recovery must drop the debris once stale
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root, gen1Dir), new java.io.File(root, "gen-deadbeef"))
      assert(IndexGenerations.current(root) === Some(1L),
        "an uncommitted stage must never change the serving generation")
      assert(IndexGenerations.currentPath(root).endsWith(gen1Dir))
      // a burned commit file (crash mid-CREATE): readers skip it, the
      // version is burned, recovery reclaims it past the age gate
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(root, "_commits", f"${2L}%020d"))
      assert(IndexGenerations.current(root) === Some(1L),
        "an empty commit file must be skipped by readers")
      IndexGenerations.recover(root, staleMs = Long.MaxValue)
      assert(new java.io.File(root, "gen-deadbeef").exists(),
        "a YOUNG unreferenced stage may be a concurrent publisher's — aged recovery keeps it")
      IndexGenerations.recover(root, staleMs = 0)
      assert(!new java.io.File(root, "gen-deadbeef").exists(),
        "stale uncommitted stage debris must be dropped")
      assert(!new java.io.File(new java.io.File(root, "_commits"), f"${2L}%020d").exists(),
        "stale burned commit files must be dropped")
      assert(new java.io.File(root, gen1Dir).exists(),
        "the committed generation is never touched")

      // the publish AFTER the crash lands the next generation cleanly
      // (version 2 was burned by the crash debris, so the log moves to 3);
      // the predecessor stays as the reader GRACE WINDOW (a reader that
      // resolved the log just before the commit is still scanning it)
      val delta = Similarity.vecs(spark, dir).filter(Similarity.isDeltaVec)
      val deltaRanked = Similarity.rankCellsTwoLevel(
        delta, gArr, "l2", m.coarseGroups, m.probes)
      val g2 = IndexGenerations.publish(spark, root, gArr,
        ranked.unionByName(deltaRanked), m.probes, m.coarseGroups)
      assert(IndexGenerations.current(root) === Some(g2))
      assert(new java.io.File(root, gen1Dir).exists(),
        "the immediate predecessor must survive as the reader grace window")
      val (_, r2) = IndexGenerations.loadCurrent(spark, root, m.probes, m.coarseGroups,
        verifyCounts = true)
      assert(r2.count() === ranked.count() + deltaRanked.count())
      // the NEXT publish retires gen 1 — reclaim lags exactly one
      val g3 = IndexGenerations.publish(spark, root, gArr,
        ranked.unionByName(deltaRanked), m.probes, m.coarseGroups)
      assert(g3 === g2 + 1)
      assert(!new java.io.File(root, gen1Dir).exists(),
        "a generation beyond the grace window must be retired")
      assert(genDirs() === Set(dirOf(g2), dirOf(g3)),
        "exactly the grace window survives a clean publish — no stage debris")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("publish seam: readers resolving during a live publish always land a complete generation") {
    import graft.ops.{IndexArtifact, IndexGenerations, Similarity}
    val base = java.nio.file.Files.createTempDirectory("graft_genseam").toFile
    val root = new java.io.File(base, "gens").getAbsolutePath
    try {
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val m = IndexArtifact.loadManifest(Similarity.sharedIndexPath(spark, dir, split = true))
      IndexGenerations.publish(spark, root, gArr, ranked, m.probes, m.coarseGroups)
      val c1 = ranked.count()
      val delta = Similarity.vecs(spark, dir).filter(Similarity.isDeltaVec)
      val deltaRanked = Similarity.rankCellsTwoLevel(delta, gArr, "l2", m.coarseGroups, m.probes)
      val c2 = c1 + deltaRanked.count()
      // the reader: a serving node re-resolving the pointer per query
      // WHILE the publish runs — every read must land a complete
      // generation (old or new, never a partial, never a vanished dir:
      // the one-generation reclaim lag is what makes this safe)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val reader = new Thread(() => {
        while (!done.get()) {
          try seen.add(IndexGenerations.loadCurrent(
            spark, root, m.probes, m.coarseGroups)._2.count())
          catch { case t: Throwable => failures.add(t); done.set(true) }
        }
      })
      reader.start()
      try IndexGenerations.publish(spark, root, gArr,
        ranked.unionByName(deltaRanked), m.probes, m.coarseGroups)
      finally { Thread.sleep(200); done.set(true); reader.join(30000) }
      assert(failures.isEmpty,
        s"a concurrent read failed mid-publish: ${Option(failures.peek()).map(_.toString)}")
      val counts = { import scala.jdk.CollectionConverters._; seen.asScala.toSet }
      assert(counts.nonEmpty && counts.subsetOf(Set(c1, c2)),
        s"reads must land gen 1 ($c1) or gen 2 ($c2) rows, got $counts")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("s34 serves through the pointer exactly what s30 serves live; s33/s35/s36 publish their laws") {
    import graft.ops.Similarity
    def mset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).toList)
        .groupBy(identity).view.mapValues(_.length).toMap
    try {
      val q = SparkEntry.queries
      assert(mset(q("s34_generation_serve")(spark, dir)) ===
        mset(q("s30_serve_arrivals")(spark, dir)),
        "pointer-resolved serving diverged from the live index")
      assert(mset(q("s35_maintain_append")(spark, dir)) ===
        mset(q("s33_index_publish")(spark, dir)),
        "no-breach maintenance must publish exactly the append generation")
      assert(mset(q("s36_maintain_retrain")(spark, dir)) ===
        mset(Similarity.membershipOf(
          Similarity.sharedIndex(spark, dir, split = false)._2)),
        "breach maintenance must publish exactly the fresh-train membership")
    } finally graft.core.Sessions.sweepPersistedState(spark)
  }

  // ---- the drift decision: planted migration + real branch flip ---------

  test("migrationRate: planted drift counts only matched rows, at the planted fraction") {
    import spark.implicits._
    // 10 corpus rows; rows 0..2 migrate cells, 3..9 stay; rows 100..101
    // exist only in the NEW membership (arrivals) and must not vote
    val oldM = (0 to 9).map(i => (i.toLong, (i % 4).toLong)).toDF("vec_id", "cell")
    val newM = ((0 to 9).map(i => (i.toLong, if (i < 3) (i % 4 + 1).toLong else (i % 4).toLong)) ++
      Seq((100L, 7L), (101L, 8L))).toDF("vec_id", "cell")
    assert(graft.ops.Similarity.migrationRate(oldM, newM) === 0.3)
    assert(graft.ops.Similarity.migrationRate(oldM, oldM) === 0.0)
  }

  test("maintainIndex: the branch flips around the measured drift rate, each branch lands its law") {
    import graft.ops.Similarity
    val base = java.nio.file.Files.createTempDirectory("graft_maint").toFile
    try {
      // the decision metric is the RETRAIN-FREE proxy (round-15 verdict
      // #2): Δ assigned under the stored codebook vs the stored corpus
      // occupancy — nothing below trains anything to decide
      val (gArr, ranked) = Similarity.sharedIndex(spark, dir, split = true)
      val deltaCells = Similarity.frozenAssign(
        Similarity.vecs(spark, dir).filter(Similarity.isDeltaVec), gArr)
      val rate = Similarity.arrivalDrift(deltaCells, Similarity.membershipOf(ranked))
      info(s"measured arrival drift at sf0.001: $rate")
      // the gate thresholds (s35 at 1.0, s36 at 0.0) must sit on opposite
      // sides of the measured rate by a wide margin — a regenerated
      // dataset that collapses the rate toward either end fails HERE
      // before it can flip a gate entry. The gate Δ is in-distribution,
      // so the rate is sampling noise: strictly positive, far from 1.
      assert(rate > 0.02 && rate < 0.9, s"measured drift rate $rate left the pinned band")
      def mset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).toList)
          .groupBy(identity).view.mapValues(_.length).toMap
      // threshold ABOVE the measured rate: no breach → append law
      val rootA = new java.io.File(base, "a").getAbsolutePath
      val outA = mset(Similarity.maintainIndex(spark, dir, rootA, rate + (1.0 - rate) / 2))
      val appendLaw = mset(Similarity.membershipOf(ranked).unionByName(deltaCells))
      assert(outA === appendLaw, "below-threshold drift must take the append branch")
      // threshold BELOW the measured rate: breach → retrain law
      val fresh = Similarity.membershipOf(Similarity.sharedIndex(spark, dir, split = false)._2)
      val rootB = new java.io.File(base, "b").getAbsolutePath
      val outB = mset(Similarity.maintainIndex(spark, dir, rootB, rate / 2))
      assert(outB === mset(fresh), "above-threshold drift must take the retrain branch")
      assert(outA !== outB, "the two branches must be observably different publishes")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- z-basis refresh on full rewrite (r14 verdict #4) ------------------

  test("compact(zorder): full rewrite re-derives the basis and restores pruning on drifted data") {
    import graft.ops.{Compaction, Zorder}
    val base = java.nio.file.Files.createTempDirectory("graft_zrefresh").toFile
    try {
      val budget = 512L
      val rows0 = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      val basis0 = Compaction.zBasisOf(rows0)
      // the population drifts FAR outside the original basis: a shifted
      // copy lands every new row beyond the old grid's edge
      val (uShift, eShift) = (10L * (basis0.mxa - basis0.mna + 1),
        10L * (basis0.mxb - basis0.mnb + 1))
      val grown = rows0.unionByName(rows0
        .withColumn("user_id", col("user_id") + uShift)
        .withColumn("event_id", col("event_id") + eShift))
      // stale layout: the grown population packed under the FROZEN old
      // basis (what incremental optimize would keep producing forever)
      val stale = new java.io.File(base, "stale").getAbsolutePath
      val staleKey = Compaction.zPackKey(basis0)
      Compaction.writeLayout(Compaction.planLayout(grown, budget, staleKey), stale, staleKey)
      Zorder.writeManifest(stale, basis0)
      // the FULL rewrite: re-derives the basis from the entire
      // population and replaces the sidecar
      val refreshed = new java.io.File(base, "refreshed").getAbsolutePath
      val (_, after) = Compaction.compact(spark, stale, refreshed, budget, zorder = true)
      assert(after.nFiles > 0)
      val m1 = Zorder.loadManifest(refreshed)
      assert(m1 !== basis0, "full rewrite must refresh the basis")
      assert(m1 === Compaction.zBasisOf(grown),
        "the refreshed basis must cover the full rewritten population")
      // THE POINT: a box query in the drifted region opens far fewer
      // files under the refreshed basis than under the stale one, where
      // every drifted row binned at the old grid's edge
      def openCount(root: String, uLo: Long, uHi: Long, eLo: Long, eHi: Long) =
        Compaction.manifestClustered(spark, root).collect().count { r =>
          r.getLong(4) <= uHi && r.getLong(5) >= uLo &&
            r.getLong(6) <= eHi && r.getLong(7) >= eLo
        }
      val (uLo, uHi) = (basis0.mna + uShift, basis0.mna + uShift + (basis0.mxa - basis0.mna) / 8)
      val (eLo, eHi) = (basis0.mnb + eShift, basis0.mnb + eShift + (basis0.mxb - basis0.mnb) / 8)
      val freshOpen = openCount(refreshed, uLo, uHi, eLo, eHi)
      val staleOpen = openCount(stale, uLo, uHi, eLo, eHi)
      info(s"drifted-region box opens $freshOpen refreshed files vs $staleOpen stale files")
      assert(freshOpen < staleOpen,
        s"refreshed basis must prune the drifted region harder: $freshOpen vs $staleOpen")
      // determinism: the md5 (non-z) full rewrite is untouched by the flag
      val md = new java.io.File(base, "md").getAbsolutePath
      Compaction.compact(spark, stale, md, budget)
      assert(!Zorder.manifestExists(md), "a non-z rewrite must not write a basis sidecar")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("maintainLayout: the branch flips around the measured basis drift, each branch lands its law") {
    import graft.ops.{Compaction, Zorder}
    val base = java.nio.file.Files.createTempDirectory("graft_maintlayout").toFile
    try {
      val budget = 512L
      val rows0 = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      // p32/p33's fixture shape: the basis frozen when the monotone
      // event_id had only reached the midpoint of today's range
      val g = Compaction.zBasisOf(rows0)
      val m0 = g.copy(mxb = Math.floorDiv(g.mnb + g.mxb, 2L))
      val root = new java.io.File(base, "layout").getAbsolutePath
      val key = Compaction.zPackKey(m0)
      Compaction.writeLayout(Compaction.planLayout(rows0, budget, key), root, key)
      Zorder.writeManifest(root, m0)
      val rate = Compaction.basisDrift(
        graft.streaming.IngestPipeline.readShards(spark, root), m0)
      info(s"measured basis drift at sf0.001: $rate")
      assert(rate > 0.2 && rate < 0.98,
        s"the drifted fixture must measure substantial partial drift, got $rate")
      // threshold ABOVE the measured rate: the append branch — in
      // place, frozen basis kept, the recluster root never written
      val never = new java.io.File(base, "never")
      val (b1, r1, s1) = Compaction.maintainLayout(
        spark, root, budget, rate + 0.01, never.getAbsolutePath)
      assert(b1 === "append" && s1 === root)
      assert(r1 === rate, "the decision must report the measured rate")
      assert(Zorder.loadManifest(root) === m0,
        "the append branch must keep the frozen basis")
      assert(!never.exists(), "the append branch must not write the recluster root")
      // threshold BELOW the measured rate: the recluster branch — its
      // own root, basis refreshed to the full population, rows conserved
      val reclustered = new java.io.File(base, "reclustered").getAbsolutePath
      val (b2, r2, s2) = Compaction.maintainLayout(
        spark, root, budget, rate - 0.01, reclustered)
      assert(b2 === "recluster" && s2 === reclustered && r2 === rate)
      assert(Zorder.loadManifest(reclustered) === Compaction.zBasisOf(rows0),
        "the recluster branch must refresh the sidecar from the full population")
      assert(graft.streaming.IngestPipeline.readShards(spark, reclustered).count()
        === rows0.count(), "recluster must conserve rows")
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  test("maintainLayout under a live writer: open days never censused, rewritten, or exported") {
    import graft.ops.{Compaction, Zorder}
    val base = java.nio.file.Files.createTempDirectory("graft_maintwm").toFile
    try {
      val (litter, budget) = (2048L, 4096L)
      val rows0 = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      val g = Compaction.zBasisOf(rows0)
      val m0 = g.copy(mxb = Math.floorDiv(g.mnb + g.mxb, 2L))
      val root = new java.io.File(base, "layout")
      val key = Compaction.zPackKey(m0)
      // EVERY day littered, so each closed day has real incremental work
      Compaction.writeLayout(Compaction.planLayout(rows0, litter, key),
        root.getAbsolutePath, key)
      Zorder.writeManifest(root.getAbsolutePath, m0)
      val days = root.listFiles().filter(_.getName.startsWith("day="))
        .map(_.getName.stripPrefix("day=").toLong).sorted
      val closedF: Long => Boolean = _ % 2 == 0
      val (closedDays, openDays) = days.partition(closedF)
      assert(closedDays.nonEmpty && openDays.nonEmpty)
      def snap(d: Long): Seq[(String, Long)] = {
        val dd = new java.io.File(root, s"day=$d")
        java.nio.file.Files.walk(dd.toPath).filter(
          java.nio.file.Files.isRegularFile(_)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
          .map(p => dd.toPath.relativize(p).toString ->
            java.nio.file.Files.size(p)).sortBy(_._1)
      }
      val openBefore = openDays.map(d => d -> snap(d)).toMap
      // append branch under the watermark: closed days compact, open
      // days byte-identical (never read, never staged, never swapped)
      val (b1, _, _) = Compaction.maintainLayout(spark, root.getAbsolutePath,
        budget, 1.0, new java.io.File(base, "never").getAbsolutePath,
        closed = Some(closedF))
      assert(b1 === "append")
      openDays.foreach(d => assert(snap(d) === openBefore(d),
        s"open day=$d must be untouched by the append branch"))
      // recluster branch under the watermark: the new root holds the
      // CLOSED history only, its refreshed basis covers exactly that
      val out = new java.io.File(base, "reclustered")
      val (b2, _, s2) = Compaction.maintainLayout(spark, root.getAbsolutePath,
        budget, 0.0, out.getAbsolutePath,
        closed = Some(closedF), allowAppendInPlace = false)
      assert(b2 === "recluster" && s2 === out.getAbsolutePath)
      val outDays = out.listFiles().filter(_.getName.startsWith("day="))
        .map(_.getName.stripPrefix("day=").toLong).sorted
      assert(outDays === closedDays, "recluster must export closed days only")
      openDays.foreach(d => assert(snap(d) === openBefore(d),
        s"open day=$d must be untouched by the recluster branch"))
      assert(Zorder.loadManifest(out.getAbsolutePath) ===
        Compaction.zBasisOf(rows0.filter(col("day") % 2 === 0)),
        "the refreshed basis must cover exactly the rewritten population")
      // a caller forbidding in-place mutation fails BEFORE any work
      val err = intercept[IllegalArgumentException] {
        Compaction.maintainLayout(spark, root.getAbsolutePath, budget, 1.0,
          new java.io.File(base, "never2").getAbsolutePath,
          closed = Some(closedF), allowAppendInPlace = false)
      }
      assert(err.getMessage.contains("append branch"))
      assert(!new java.io.File(base, "never2").exists())
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- oversized-row census fallback (r14 ADVICE #2) ---------------------

  test("compactWhere prices oversized-row days exactly: the closed-form suppression is gone") {
    import graft.ops.Compaction
    val base = java.nio.file.Files.createTempDirectory("graft_oversize").toFile
    val root = new java.io.File(base, "layout").getAbsolutePath
    try {
      val budget = 64L
      // one day, ten small rows + one row whose bytes exceed the budget
      // (rowBytes = 32 + len(event_type)): the closed-form census reads
      // HIGH on such a day (skipped file_idx values)
      import spark.implicits._
      val rows = ((1 to 10).map(i => (i.toLong, i.toLong, 1L, "t", 1.0)) :+
        ((99L, 99L, 1L, "x" * 200, 1.0))).toDF(
        "event_id", "user_id", "day", "event_type", "value")
      val census = Compaction.plannedCountsByDay(rows, budget).collect()
      assert(census.length === 1 && census.head.getBoolean(2),
        "a day holding a row larger than the budget must flag oversized")
      val closedForm = census.head.getLong(1)
      val exact = Compaction.planLayout(rows, budget)
        .select(col("file_idx")).distinct().count()
      assert(exact < closedForm,
        s"fixture must exercise the suppression gap: exact=$exact closed=$closedForm")
      // litter the day to a file count INSIDE the gap: more files than
      // the exact plan needs, fewer than the closed form claims — the
      // round-14 census would call this day healthy FOREVER
      val littered = rows.withColumn("file_idx",
        (col("event_id") % closedForm).cast("long"))
      littered.repartition(col("day"), col("file_idx"))
        .write.partitionBy("day", "file_idx").parquet(root)
      val current = Compaction.layoutStats(root).nFiles
      assert(current > exact && current <= closedForm,
        s"fixture layout must sit in the gap: current=$current exact=$exact closed=$closedForm")
      val (breached, _, after) = Compaction.compactWhere(spark, root, budget)
      assert(breached === Seq(1L),
        "the oversized-row day must breach against the EXACT plan")
      assert(after.nFiles === exact, "the rewrite must converge to the exact plan")
      // and the pass is idempotent from there
      val (b2, _, a2) = Compaction.compactWhere(spark, root, budget)
      assert(b2.isEmpty && a2.nFiles === exact)
    } finally {
      graft.core.Sessions.sweepPersistedState(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(base)
    }
  }

  // ---- bench: sustained-inflation re-sampler (r14 verdict #1) ------------

  test("plan fingerprint strips map-literal payloads and JVM identities, keeps structure") {
    // GlobalOrder's offset maps are DATA (range-bound-dependent, RDD-id
    // seeded), not structure: two plans differing only in map payload
    // must fingerprint identically (round 15: seven GlobalOrder
    // consumers flapped fp between two identical full bench runs)
    val a = "Project [element_at(map(keys: [0,1,2], values: [0,10,20]), pid)]"
    val b = "Project [element_at(map(keys: [0,1], values: [0,999]), pid)]"
    val c = "Project [element_at(map(keys: [0,1], values: [0,999]), other)]"
    assert(Bench.fpOf(a) === Bench.fpOf(b), "map payloads must not enter the fp")
    assert(Bench.fpOf(b) !== Bench.fpOf(c), "structure outside the payload must still distinguish")
    assert(Bench.fpOf("x $$Lambda$123/0x7fab8 MyAgg@1a2b3c4d") ===
      Bench.fpOf("x $$Lambda$999/0x11111 MyAgg@deadbeef"),
      "per-JVM object identities must not enter the fp")
    // an InMemoryRelation's cached physical plan leaks raw exprIds and
    // plan_ids, both session-global counters: first-appearance
    // renumbering must make the counter OFFSET invisible while keeping
    // distinct columns distinct
    assert(Bench.fpOf("Project [spend#955, k#950L], [plan_id=78]") ===
      Bench.fpOf("Project [spend#6, k#1L], [plan_id=2756]"),
      "exprId/plan_id counter offsets must not enter the fp")
    assert(Bench.fpOf("Project [a#1, b#2]") !== Bench.fpOf("Project [a#1, b#1]"),
      "renumbering must keep distinct columns distinct")
    // a typed encoder's loop variable and a CTE carry JVM-global ids too:
    // renumbered by first appearance, each in its own numbering
    val lv = "lambdavariable(MapObject, ObjectType(class java.lang.Object), true, "
    assert(Bench.fpOf(s"Project [${lv}35), ${lv}36)]") ===
      Bench.fpOf(s"Project [${lv}-7), ${lv}912)]"),
      "lambdavariable id offsets must not enter the fp")
    assert(Bench.fpOf(s"Project [${lv}35), ${lv}36)]") !==
      Bench.fpOf(s"Project [${lv}35), ${lv}35)]"),
      "distinct lambda variables must stay distinct")
    assert(Bench.fpOf("CTERelationDef 3, false\n+- UnionLoop 3\n   +- UnionLoopRef 3, [none#0]\n" +
        "CTERelationRef 3, true, [none#0]") ===
      Bench.fpOf("CTERelationDef 6, false\n+- UnionLoop 6\n   +- UnionLoopRef 6, [none#0]\n" +
        "CTERelationRef 6, true, [none#0]"),
      "CTE id offsets must not enter the fp")
    assert(Bench.fpOf("CTERelationRef 3, true\nCTERelationRef 4, true") !==
      Bench.fpOf("CTERelationRef 3, true\nCTERelationRef 3, true"),
      "distinct CTEs must stay distinct")
    // canonicalization orders a flattened commutative chain's operands by
    // hash, which flipped t03/t20's `a + b + c + d = 0` between two runs:
    // the operands are sorted, the operator class and eval mode stay last
    val add = "class org.apache.spark.sql.catalyst.expressions.Add, Some(NumericEvalContext(ANSI,true))"
    val and = "class org.apache.spark.sql.catalyst.expressions.And, None"
    def mco(args: String*) = args.mkString("multicommutativeop(", ", ", ")")
    def filter(ops: String, cmp: String) = s"Filter (($ops = cast(0 as bigint)) AND $cmp)\n+- Relation [none#2L,none#3L,none#4L] parquet"
    val gt = mco("(none#2L >= none#4L)", "(none#2L >= none#3L)", and)
    assert(Bench.fpOf(filter(mco("none#2L", "none#3L", "none#4L", add), gt)) ===
      Bench.fpOf(filter(mco("none#4L", "none#2L", "none#3L", add),
        mco("(none#2L >= none#3L)", "(none#2L >= none#4L)", and))),
      "commutative operand order must not enter the fp")
    assert(Bench.fpOf(filter(mco("none#2L", mco("none#3L", "none#4L", add), add), gt)) ===
      Bench.fpOf(filter(mco(mco("none#4L", "none#3L", add), "none#2L", add), gt)),
      "nested commutative nodes are sorted too")
    assert(Bench.fpOf(filter(mco("none#2L", "none#2L", "none#3L", add), gt)) !==
      Bench.fpOf(filter(mco("none#2L", "none#3L", "none#3L", add), gt)),
      "the operand multiset must still distinguish")
    assert(Bench.fpOf(filter(mco("none#2L", "none#3L", add), gt)) !==
      Bench.fpOf(filter(mco("none#2L", "none#3L", and), gt)),
      "the operator class must still distinguish")
  }

  test("plan fingerprint is stable across two builds of the same query in one session") {
    // s01's as[KnnRow] encoder allocates a fresh lambdavariable id per
    // build and q40's recursive CTE a fresh CTE id: both must fingerprint
    // the same on the second build, or fp:same can never hold for them
    for (q <- Seq("s01_cosine_knn", "q40_recursive_cte")) {
      val fn = SparkEntry.queries(q)
      try assert(Bench.planFp(fn(spark, dir)) === Bench.planFp(fn(spark, dir)), q)
      finally graft.core.Sessions.sweepPersistedState(spark)
    }
  }

  test("sustained-inflation candidates and resolution obey the mover rule") {
    import Bench.{QRec, isMover, resolveSustained, sustainedCandidates}
    val refQ = Map("qa" -> 0.25, "qb" -> 0.25, "qc" -> 0.25, "qd" -> 0.25)
    val refFp = Map("qa" -> "f1", "qb" -> "f1", "qc" -> "f1", "qd" -> "f2")
    val results = Seq(
      // 28x the pin, same fp, trusted — the round-14 q48 shape: candidate
      "qa" -> QRec(7.0, 7.0, Seq(6.8, 7.0, 7.2), 3.0, "f1", suspect = false),
      // inflated but fp CHANGED: code-attributable, the regression
      // tripwire's case, never re-sampled
      "qb" -> QRec(7.0, 7.0, Seq(6.8, 7.0, 7.2), 3.0, "f9", suspect = false),
      // inflated but already quarantined by the spike detector
      "qc" -> QRec(7.0, 7.0, Seq(0.3, 7.0, 21.0), 40.0, "f1", suspect = true),
      // at the pin: not a mover
      "qd" -> QRec(0.3, 0.4, Seq(0.3, 0.3, 0.3), 3.0, "f2", suspect = false))
    assert(sustainedCandidates(results, refQ, refFp) === Seq("qa"))
    assert(isMover(7.0, 0.25) && !isMover(0.3, 0.25) && !isMover(7.0, -1.0))

    val rec = results.head._2
    // re-sample lands back at the pin → the clean number is reported
    val (r1, d1) = resolveSustained(rec, Seq(0.26, 0.25, 0.27), 0.25)
    assert(d1 === "transient_load" && r1.warm === 0.26 && !r1.suspect)
    assert(r1.samples === Seq(6.8, 7.0, 7.2, 0.26, 0.25, 0.27),
      "both measurements must survive into the artifact")
    // re-sample still inflated → sustained, quarantined from tripwires
    val (r2, d2) = resolveSustained(rec, Seq(6.9, 7.1, 7.0), 0.25)
    assert(d2 === "sustained" && r2.suspect)
    assert(r2.warm === Bench.combineWarm(rec.samples ++ Seq(6.9, 7.1, 7.0)))
    // re-sample produced nothing → original record untouched
    val (r3, d3) = resolveSustained(rec, Seq(-1.0, -1.0, -1.0), 0.25)
    assert(d3 === "resample_failed" && r3 === rec)
  }
}
