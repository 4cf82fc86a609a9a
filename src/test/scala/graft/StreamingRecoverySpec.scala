package graft

import graft.streaming.EventStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Streaming state recovery: an aggregation stopped mid-stream and
  * restarted from its checkpoint must (a) skip already-committed files
  * and (b) restore its aggregation state, so the final complete-mode
  * output equals the batch gold over ALL input — the exactly-once
  * property the reference approximates with idempotent task re-execution
  * over a shared FS (SURVEY.md §2.2 S4).
  *
  * The phase-1 files are DELETED before the restart: state restoration is
  * then the only way phase 2 can produce the full answer, so a silently
  * ignored checkpoint fails the assert instead of passing via reprocess.
  * (Complete mode keeps the watermark inert — watermark restoration
  * itself is not what this covers.)
  */
class StreamingRecoverySpec extends AnyFunSuite with ScratchTests {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  protected val scratchPrefix = "graft-recovery"

  scratchTest("tumbling agg restarted from checkpoint resumes state, no reprocessing") { tmp =>
    // split the events table into 4 parquet files (same rows, test plumbing)
    val splitDir = tmp.dir("evsplit")
    graft.core.Tables.events(spark, dir)
      .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000")) // back to raw ns longs
      .repartition(4)
      .write.mode("overwrite").parquet(splitDir)
    val parts = new java.io.File(splitDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.toPath).sortBy(_.toString).toSeq
    assert(parts.length === 4)

    val streamDir = tmp.dir("evstream")
    val checkpoint = tmp.dir("evckpt")
    def feed(ps: Seq[Path]): Unit = ps.foreach { p =>
      Files.copy(p, Paths.get(streamDir, s"events-${p.getFileName}"), StandardCopyOption.REPLACE_EXISTING)
    }
    def unfeed(ps: Seq[Path]): Unit =
      ps.foreach(p => Files.deleteIfExists(Paths.get(streamDir, s"events-${p.getFileName}")))

    def runOnce(name: String): Unit = {
      val q = EventStream.tumblingAgg(EventStream.readEvents(spark, streamDir))
        .writeStream
        .format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    feed(parts.take(2))
    runOnce("recovery_phase1")
    val phase1 = spark.table("recovery_phase1").count()
    assert(phase1 > 0)

    // remove consumed files: only restored state can account for them now
    unfeed(parts.take(2))
    feed(parts.drop(2))
    runOnce("recovery_phase2")

    val got = spark.table("recovery_phase2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = SparkEntry.queries("e02_tumbling_window")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want, "post-restart complete output must equal the full batch gold")
  }

  scratchTest("ingestion dedup restarted from checkpoint: a replayed file emits nothing new") { tmp =>
    val streamDir = tmp.dir("dupstream")
    val checkpoint = tmp.dir("dupckpt")
    // memory sink cannot recover an append query from a checkpoint — a
    // real (file) sink is the honest restart shape anyway
    val outDir = tmp.dir("dupout") + "/dedup"
    val src = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("events")).head.toPath

    def runOnce(): Long = {
      // schema-probing reader: normalizes whatever ts encoding the copied
      // files carry at the shared Tables seam
      val raw = EventStream.readEvents(spark, streamDir)
      val q = EventStream.dedupedEvents(raw)
        .select("event_id").writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(outDir).count()
    }

    Files.copy(src, Paths.get(streamDir, "events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val phase1 = runOnce()
    val distinctIds = graft.core.Tables.events(spark, dir).select("event_id").distinct().count()
    assert(phase1 === distinctIds)

    // the attack: the SAME data arrives again as a brand-new file after a
    // restart — only the restored checkpoint (dedup state + watermark)
    // can know these ids were already emitted
    Files.copy(src, Paths.get(streamDir, "events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val total = runOnce()
    assert(total === phase1, "replayed ids after restart must not re-emit")
    // and the sink holds each id exactly once
    assert(spark.read.parquet(outDir).distinct().count() === distinctIds)
  }

  scratchTest("as-of twin restarted from checkpoint carries per-user flatMapGroupsWithState state") { tmp =>
    // the third recovery class: CUSTOM (flatMapGroupsWithState) state.
    // Phase 1 feeds the first half by event time; its file is then
    // DELETED, so a user whose last signup sits in phase 1 can only get
    // the right last_signup_id for phase-2 events from the RESTORED
    // per-user state — reprocessing cannot save a silently ignored
    // checkpoint, and fresh state would emit a wrong (too-old) signup,
    // failing the set compare against the batch as-of join.
    // normalized load, then back to raw ns longs (the replay files
    // exercise the plain-int64 leg of the normalization seam)
    val raw = graft.core.Tables.events(spark, dir)
      .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      .cache()
    val cut = raw.selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS m")
      .collect()(0).getDouble(0).toLong
    val streamDir = tmp.dir("asofstream")
    val checkpoint = tmp.dir("asofckpt")
    val outDir = tmp.dir("asofout") + "/asof"

    def runOnce(): Unit = {
      val q = EventStream.asofSignup(spark, EventStream.readEvents(spark, streamDir))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    StreamFiles.writeOne(raw.filter(org.apache.spark.sql.functions.col("ts") <= cut),
      streamDir, "events_a")
    runOnce()
    Files.deleteIfExists(Paths.get(streamDir, "events_a.parquet"))
    StreamFiles.writeOne(raw.filter(org.apache.spark.sql.functions.col("ts") > cut),
      streamDir, "events_b")
    // sentinel flush (user -1, 60 days out): the round-8 buffered as-of
    // twin finalizes events only once the watermark passes them, so the
    // tail — including phase-1 rows RESTORED FROM THE CHECKPOINT BUFFER —
    // emits on this final watermark advance; the sentinel itself stays
    // buffered and never reaches the sink
    val maxTs = raw.agg(org.apache.spark.sql.functions.max("ts")).collect()(0).getLong(0)
    locally {
      import spark.implicits._
      StreamFiles.writeOne(Seq((-1L, maxTs + 60L * 86400 * 1000000000L, -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), streamDir, "events_z")
    }
    raw.unpersist()
    runOnce()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), Option(r.get(2)))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val want = SparkEntry.queries("e04_asof_last_signup")(spark, dir).collect().map(key).toSet
    assert(want.nonEmpty)
    assert(got === want,
      "post-restart emitted rows must equal the batch as-of join over ALL input")
  }

  scratchTest("stream-stream interval join restarted from checkpoint recovers JOIN state") { tmp =>
    // the fourth recovery class: symmetric-hash JOIN state. Phase 1 feeds
    // every event at-or-before a cut chosen ON a paired event, then its
    // file is DELETED; phase 2 feeds the rest. A cross-boundary pair
    // (one side in each phase, within the ±5 min window) can only emit if
    // the restarted query joins phase-2 rows against the phase-1 side
    // RESTORED from the checkpointed join state — fresh state would lose
    // exactly those pairs, and the multiset compare against the batch
    // pair join would fail.
    import org.apache.spark.sql.functions.{col, unix_micros}
    val winUs = 5L * 60 * 1000 * 1000
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val pairs = ev.as("a").join(ev.select(col("user_id").as("ub"),
        col("event_id").as("oid"), col("ts_us").as("tb")),
        col("user_id") === col("ub") && col("event_id") =!= col("oid") &&
          col("tb") >= col("ts_us") - winUs && col("tb") <= col("ts_us") + winUs)
      .select(col("user_id"), col("event_id").as("eid"), col("oid"), col("ts_us").as("ta"), col("tb"))
      .cache()
    // cut ON the earlier member of some pair, so that pair straddles the
    // phase boundary by construction
    val straddle = pairs.filter(col("ta") < col("tb")).orderBy(col("ta")).limit(1).collect()(0)
    val cutUs = straddle.getLong(3)
    val nCross = pairs.filter(col("ta") <= cutUs && col("tb") > cutUs
      || col("tb") <= cutUs && col("ta") > cutUs).count()
    assert(nCross > 0, "chosen cut must straddle at least one pair")

    val raw = graft.core.Tables.events(spark, dir)
      .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      .cache()
    val cutNs = cutUs * 1000
    val streamDir = tmp.dir("joinstream")
    val checkpoint = tmp.dir("joinckpt")
    val outDir = tmp.dir("joinout") + "/pairs"
    def runOnce(): Unit = {
      val q = EventStream.intervalJoin(EventStream.readEvents(spark, streamDir), "inner")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    StreamFiles.writeOne(raw.filter(col("ts") <= cutNs), streamDir, "events_a")
    runOnce()
    Files.deleteIfExists(Paths.get(streamDir, "events_a.parquet"))
    // phase-2 rows all sit above the cut, and the phase-1 watermark is
    // 1 h below it, so no phase-2 row is dropped as late
    StreamFiles.writeOne(raw.filter(col("ts") > cutNs), streamDir, "events_b")
    raw.unpersist()
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = pairs.select(col("user_id"), col("eid"), col("oid")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    pairs.unpersist()
    assert(want.nonEmpty)
    assert(got === want,
      s"post-restart pair multiset must equal the batch join (incl. $nCross cross-boundary pairs)")
  }

  scratchTest("left-outer join restarted from checkpoint still emits null rows from restored state") { tmp =>
    // The fifth recovery class: OUTER-join eviction emission. A
    // partnerless event ingested in phase 1 has its null row pending in
    // join state when the query stops; after a restart (phase-1 file
    // deleted), the sentinel-driven watermark advance must emit that
    // null row from the RESTORED state — fresh state would silently
    // drop it, and a re-delivery would double it. The multiset compare
    // catches both failure modes.
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val winUs = 5L * 60 * 1000 * 1000
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .cache()
    val pairs = ev.as("a").join(ev.select(col("user_id").as("ub"),
        col("event_id").as("oid"), col("ts_us").as("tb")),
        col("user_id") === col("ub") && col("event_id") =!= col("oid") &&
          col("tb") >= col("ts_us") - winUs && col("tb") <= col("ts_us") + winUs)
      .select(col("user_id"), col("event_id").as("eid"), col("oid"))
      .cache()
    val lonely = ev.join(pairs.select(col("eid")), col("event_id") === col("eid"), "left_anti")
      .select(col("user_id"), col("event_id")).cache()
    assert(lonely.count() > 0, "fixture must contain partnerless events")

    val raw = graft.core.Tables.events(spark, dir)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .cache()
    val b = raw.selectExpr(
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS m", "max(ts) AS hi").collect()(0)
    val (cutNs, maxNs) = (b.getDouble(0).toLong, b.getLong(1))
    val streamDir = tmp.dir("louterstream")
    val checkpoint = tmp.dir("louterckpt")
    val outDir = tmp.dir("louterout") + "/rows"
    def runOnce(): Unit = {
      val q = EventStream.intervalJoin(EventStream.readEvents(spark, streamDir), "left_outer")
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    StreamFiles.writeOne(raw.filter(col("ts") <= cutNs), streamDir, "events_a")
    runOnce()
    Files.deleteIfExists(Paths.get(streamDir, "events_a.parquet"))
    import spark.implicits._
    StreamFiles.writeOne(raw.filter(col("ts") > cutNs), streamDir, "events_b")
    StreamFiles.writeOne(Seq((-1L, maxNs + 60L * 86400 * 1000000000L, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), streamDir, "events_z")
    raw.unpersist()
    runOnce()

    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).sorted(
        Ordering.by((t: (Long, Long, Option[Any])) => (t._1, t._2, t._3.map(_.toString).getOrElse(""))))
    val want = (pairs.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))) ++
      lonely.collect().map(r => (r.getLong(0), r.getLong(1), None: Option[Any]))).sorted(
        Ordering.by((t: (Long, Long, Option[Any])) => (t._1, t._2, t._3.map(_.toString).getOrElse(""))))
    ev.unpersist(); pairs.unpersist(); lonely.unpersist()
    assert(got.toSeq === want.toSeq,
      "post-restart multiset must hold every pair and EXACTLY one null row per partnerless event")
  }

  scratchTest("ingest sink: a batch replayed after crash-before-commit does not duplicate output") { tmp =>
    // the exactly-once claim of p15's idempotent-by-batch-directory
    // sink, attacked directly: after phase 1 commits, the checkpoint's
    // COMMIT marker for the last batch is deleted — exactly the state a
    // crash between the foreachBatch write and the commit leaves behind.
    // The restart re-executes that batch; a non-idempotent sink (append
    // mode, or a shared output dir) would now hold phase-1 rows twice.
    import org.apache.spark.sql.functions.{col, expr}
    val raw = graft.core.Tables.events(spark, dir)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .cache()
    val cut = raw.selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS m")
      .collect()(0).getDouble(0).toLong
    val streamDir = tmp.dir("ingeststream")
    val base = tmp.dir("ingestrec")
    val root = s"$base/shards"
    val ckpt = s"$base/ckpt"
    StreamFiles.writeOne(raw.filter(col("ts") <= cut), streamDir, "events_a")
    graft.streaming.IngestPipeline.ingest(spark, streamDir, root, ckpt)
    val phase1 = spark.read.parquet(root).count()
    assert(phase1 > 0)
    // crash-before-commit: offsets/0 exists, commits/0 gone
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(lastCommit.delete())
    // the local FS keeps a CRC sidecar that would block the replayed
    // commit's rename (a real object store has no such artifact)
    new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
    StreamFiles.writeOne(raw.filter(col("ts") > cut), streamDir, "events_b")
    raw.unpersist()
    graft.streaming.IngestPipeline.ingest(spark, streamDir, root, ckpt)
    val got = graft.streaming.IngestPipeline.readShards(spark, root)
    assert(got.count() === got.dropDuplicates("event_id").count(),
      "replayed batch must overwrite its own directory, never duplicate")
    // and the final shard set is exactly the full projected events table
    val want = graft.core.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
        col("event_type"), col("value"))
    assert(got.count() === want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "post-recovery shards must equal the projected events table")
  }

  scratchTest("session_window agg restarted from checkpoint merges sessions across the restart") { tmp =>
    // The SIXTH recovered state class: the engine's session-merge state
    // (UpdatingSessionsExec), distinct from windowed-agg, dedup, custom
    // fMGWS, join, and outer-join state. Time-split feed: any session
    // whose early events arrived in phase 1 but whose close the
    // watermark only reaches in phase 2 can ONLY emit correctly if the
    // partial session survived the restart (phase-1 files are deleted).
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.events(spark, dir)
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // raw ns longs
      .cache()
    val cut = ev.selectExpr("percentile_cont(0.5) WITHIN GROUP (ORDER BY ts) AS m")
      .collect()(0).getDouble(0).toLong
    val streamDir = tmp.dir("sessstream")
    val checkpoint = tmp.dir("sessckpt")
    val outDir = tmp.dir("sessout") + "/sessions"
    def runOnce(): Unit = {
      val q = EventStream.sessionWindowAgg(EventStream.readEvents(spark, streamDir))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val a = StreamFiles.writeOne(ev.filter(col("ts") <= cut), streamDir, "events_a")
    runOnce()
    Files.deleteIfExists(a.toPath) // restored state is now the only memory of half A
    StreamFiles.writeOne(ev.filter(col("ts") > cut), streamDir, "events_b")
    runOnce()
    ev.unpersist()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val got = spark.read.parquet(outDir).collect().map(key).toSet
    val wmUs = (graft.core.Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) / 1000) * 1000
    val want = SparkEntry.queries("e11_session_window")(spark, dir)
      .filter(col("end_us") <= wmUs).collect().map(key).toSet
    assert(want.nonEmpty)
    assert(got === want,
      "post-restart append output must equal the closed batch sessions — cross-restart merges included")
  }

  scratchTest("tumbling agg on ROCKSDB restarts from checkpoint: snapshot+changelog state restores") { tmp =>
    // the es23 backend under the same deleted-input restart discipline as
    // the HDFS-backed test above: phase-1 files are gone before the
    // restart, so only RocksDB's recovered state can complete the answer
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val splitDir = tmp.dir("rocksplit")
      graft.core.Tables.events(spark, dir)
        .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
        .repartition(4)
        .write.mode("overwrite").parquet(splitDir)
      val parts = new java.io.File(splitDir).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.toPath).sortBy(_.toString).toSeq
      val streamDir = tmp.dir("rockstream")
      val checkpoint = tmp.dir("rockckpt")
      def feed(ps: Seq[Path]): Unit = ps.foreach { p =>
        Files.copy(p, Paths.get(streamDir, s"events-${p.getFileName}"), StandardCopyOption.REPLACE_EXISTING)
      }
      def runOnce(name: String): Unit = {
        val q = EventStream.tumblingAgg(EventStream.readEvents(spark, streamDir))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .option("checkpointLocation", checkpoint)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      feed(parts.take(2))
      runOnce("rocks_phase1")
      assert(spark.table("rocks_phase1").count() > 0)
      parts.take(2).foreach(p => Files.deleteIfExists(Paths.get(streamDir, s"events-${p.getFileName}")))
      feed(parts.drop(2))
      runOnce("rocks_phase2")
      val got = spark.table("rocks_phase2")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val want = SparkEntry.queries("e02_tumbling_window")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === want,
        "post-restart complete output under RocksDB must equal the full batch gold")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
