package graft.streaming

import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Streaming ingestion ETL: the continuous WRITER counterpart of the
  * es* analytics gates — events stream in, normalized/projected rows
  * land in a hive-partitioned (day=...) parquet shard layout, the shape
  * a training-data pipeline tails into.
  *
  * Exactly-once without a transactional sink: every micro-batch writes
  * under its own `batch_id=<id>` directory with mode=overwrite, so a
  * batch REPLAYED after a crash (failure between the sink write and the
  * checkpoint commit) overwrites its own output instead of duplicating
  * it — the standard idempotent-by-batch-directory recipe for plain
  * object-store parquet. Readers see `batch_id`/`day` as partition
  * columns and prune on either. At 100 TB the same plan holds: the
  * foreachBatch write is a parallel executor-side parquet write (no
  * driver collect), day-partitioning bounds files-per-batch by the
  * delay window, and a compaction pass over closed days (plain batch
  * rewrite) is orthogonal.
  */
object IngestPipeline extends QueryModule {

  /** Run the bounded ingest stream from `srcDir` into `root`, using
    * `ckpt` for progress. Exposed for the recovery test, which replays
    * a committed-but-uncommitted batch against the same root.
    */
  def ingest(s: SparkSession, srcDir: String, root: String, ckpt: String,
             maxFilesPerTrigger: Option[Int] = None): Unit = {
    val ev = EventStream.readEventsWith(s, srcDir, maxFilesPerTrigger)
      .select(col("event_id"), col("user_id"),
        graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
        col("event_type"), col("value"))
    val writeBatch: (Dataset[Row], Long) => Unit = (df, id) =>
      df.write.mode("overwrite").partitionBy("day")
        .parquet(new java.io.File(root, s"batch_id=$id").getAbsolutePath)
    val q = ev.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Read the shard layout back, normalizing partition-column types
    * (directory values parse as int) to the declared schema. Goes
    * through [[graft.ops.Compaction.readLayout]] so a layout whose
    * days have been rewritten under the commit log serves the
    * committed live file set; a plain layout (this sink's own output,
    * never compacted) is the same directory read as always.
    */
  def readShards(s: SparkSession, root: String): DataFrame =
    graft.ops.Compaction.readLayout(s, root)
      .select(col("event_id"), col("user_id"), col("day").cast("long").as("day"),
        col("event_type"), col("value"))

  /** p15: the gate entry runs a fresh bounded ingest (stateless — no
    * watermark filtering, so the shard set is exactly the events table
    * projected) and returns the read-back rows; the oracle is the same
    * projection in SQL. Output root/checkpoint are keyed on the input
    * dir and rebuilt per run, so bench cold+warm samples measure the
    * full write+read cost each time — p15 MEASURES ingest, so unlike
    * the compaction entries its fixture cost IS the operator. They live
    * under the process's [[graft.core.ProcessStore.scratch]] base, so
    * another process running p15 on the same input never deletes them.
    */
  private def p15(s: SparkSession, dir: String): DataFrame = {
    val base = graft.core.ProcessStore.scratch(
      "ingest-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    org.apache.commons.io.FileUtils.deleteDirectory(base)
    val root = new java.io.File(base, "shards").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    ingest(s, dir, root, ckpt)
    readShards(s, root)
  }

  // ---- build-once compaction fixtures ----------------------------------
  //
  // p29/p30 measure COMPACTION, but until round 14 each sample rebuilt
  // its own input (a full micro-batch ingest / a ~2x-target littered
  // write) inside the timed region — 12.5% of the round-13 bench was
  // fixture I/O billed as query time, and the deterministic tmpdir raced
  // concurrent gate+bench processes. The store below is Graph's
  // materializedOnce discipline applied to layouts: fixtures build ONCE
  // per process under a per-process random base (no cross-process
  // collisions, reclaimed by a shutdown hook), and each sample pays only
  // the measured operator. p30's working layout is restored between
  // samples by copying back the littered days from the pristine copy —
  // driver-side file copies of day dirs, not a Spark rewrite.

  private def fixtureOnce(key: String)(build: java.io.File => Unit): String =
    graft.core.ProcessStore.once(s"fixture|$key")(build)

  /** p29's input: the p15 micro-batch shard layout, ingested once per
    * (process, dir). Read-only thereafter — compact() reads it and
    * writes elsewhere.
    */
  private def ingestFixture(s: SparkSession, dir: String): String =
    fixtureOnce(s"ingest|$dir") { base =>
      ingest(s, dir,
        new java.io.File(base, "shards").getAbsolutePath,
        new java.io.File(base, "ckpt").getAbsolutePath)
    } + "/shards"

  /** p30's pristine starting layout: even days at the target budget,
    * odd days littered — written once per (process, dir).
    */
  private def pristineMixed(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{lit, when}
    fixtureOnce(s"mixed|$dir") { base =>
      val rows = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      graft.ops.Compaction.writeLayout(
        graft.ops.Compaction.planLayoutBy(rows,
          when(col("day") % 2 === 0, lit(CompactBudgetBytes))
            .otherwise(lit(LitterBudgetBytes))), base.getAbsolutePath)
    }
  }

  /** The shared z-layout fixture recipe: the p30 mixed shape (even
    * days at the target budget, odd days littered) packed along the
    * Morton curve under `freeze` of the full-population basis, sidecar
    * included — written once per (process, tag, dir).
    */
  private def pristineZ(s: SparkSession, dir: String, tag: String)(
      freeze: graft.ops.Zorder.ZManifest => graft.ops.Zorder.ZManifest): String = {
    import org.apache.spark.sql.functions.{lit, when}
    fixtureOnce(s"$tag|$dir") { base =>
      val rows = graft.core.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
          col("event_type"), col("value"))
      val m = freeze(graft.ops.Compaction.zBasisOf(rows))
      val key = graft.ops.Compaction.zPackKey(m)
      graft.ops.Compaction.writeLayout(
        graft.ops.Compaction.planLayoutBy(rows,
          when(col("day") % 2 === 0, lit(CompactBudgetBytes))
            .otherwise(lit(LitterBudgetBytes)), key), base.getAbsolutePath, key)
      graft.ops.Zorder.writeManifest(base.getAbsolutePath, m)
    }
  }

  /** p31's pristine starting layout: packed under a basis frozen from
    * the full projected events, so compactWhere(zorder = true) loads
    * the same basis the fixture packed with (never re-derives it) and
    * even days provably sit at the z plan already.
    */
  private def pristineMixedZ(s: SparkSession, dir: String): String =
    pristineZ(s, dir, "mixedz")(identity)

  /** p32/p33's pristine DRIFTED layout: the canonical basis-growth
    * story. `event_id` is an ingest-time monotone id, so a basis frozen
    * when the table had only reached the MIDPOINT of today's id range
    * (frozen event max = `(min + max) DIV 2`, user basis global — every
    * bin numerator stays non-negative, so Spark's DIV and DuckDB's `//`
    * agree exactly) is what any real layout's sidecar looks like after
    * the table doubles: the newer half of the corpus bins beyond the
    * frozen grid edge — so the maintenance decision has both real
    * drift to measure and real fragmentation to fix.
    */
  private def pristineDriftedZ(s: SparkSession, dir: String): String =
    pristineZ(s, dir, "driftz")(g => g.copy(mxb = Math.floorDiv(g.mnb + g.mxb, 2L)))

  /** Reset p30's working layout to the pristine mixed state: first call
    * copies the whole pristine tree; later calls restore ONLY the
    * littered (odd) days — compactWhere provably leaves even days
    * byte-identical (pinned in ScaleTechniquesSpec), so copying them
    * again would be fixture I/O for nothing. A prior pass's commit log
    * and rewrite dirs are dropped with the days they superseded (the
    * pristine layout is plain directories, so the reset must be too —
    * a stale manifest would shadow the restored day dirs).
    */
  private def resetMixed(pristine: String, work: java.io.File): Unit = {
    val fresh = !work.exists()
    if (fresh) linkTree(new java.io.File(pristine), work)
    else {
      for (n <- Seq(graft.core.CommitLog.LogDirName, "_rewrites")) {
        val f = new java.io.File(work, n)
        if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
      }
      Option(new java.io.File(pristine).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("day=") &&
          f.getName.stripPrefix("day=").toLong % 2 != 0)
        .foreach { d =>
          val dst = new java.io.File(work, d.getName)
          org.apache.commons.io.FileUtils.deleteDirectory(dst)
          linkTree(d, dst)
        }
    }
  }

  /** Restore a fixture tree by HARD LINKS instead of byte copies: the
    * linked files are immutable parquet/sidecar artifacts that the
    * maintenance pass only ever UNLINKS (superseded-day reclaim) or
    * supersedes with new files — never modifies in place — so a link is
    * behaviorally identical to a copy while skipping the data bytes
    * (round-17 measurement: the per-sample odd-day restore was ~0.3-0.5 s
    * of fixture I/O billed inside p30/p31/p32's timed region; linking
    * makes the reset metadata-only). Pristine and work roots live under
    * the same per-process scratch dir (one filesystem); if the link call
    * ever fails (cross-device, unsupported FS) the byte copy is the
    * fallback, so behavior is unchanged everywhere links don't work.
    */
  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    Option(src.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val d = new java.io.File(dst, f.getName)
      if (f.isDirectory) linkTree(f, d)
      else
        try java.nio.file.Files.createLink(d.toPath, f.toPath)
        catch { case _: Exception =>
          org.apache.commons.io.FileUtils.copyFile(f, d)
        }
    }
  }

  private val p15Sql =
    """SELECT event_id, user_id,
      |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |  event_type, value
      |FROM events""".stripMargin

  /** p29: small-file COMPACTION — p15's sink layout (one file per
    * micro-batch per day, tiny by construction) rewritten into
    * byte-budget files by [[graft.ops.Compaction]], gated on the
    * manifest recomputed FROM THE COMPACTED FILES: day and file_idx
    * come back as physical partition directories, so a hash match
    * proves the written layout equals the deterministic plan the
    * DuckDB oracle computes from the raw events (m05's offset rule,
    * per day). The physical before/after win and idempotence are
    * pinned in ScaleTechniquesSpec.
    */
  // 16 KiB: big enough that the sf0.1 fixture stays in the hundreds of
  // files (the measured operator's write/read cost is ∝ file count, and
  // a 4 KiB budget billed ~3x the operator in tiny-file overhead), small
  // enough that every sf's days still fragment and compaction has real
  // work at the oracle SF
  private[graft] val CompactBudgetBytes = 16384L

  private def p29(s: SparkSession, dir: String): DataFrame = {
    val root = ingestFixture(s, dir)
    val out = graft.core.ProcessStore.scratch(
      "compacted-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))).getAbsolutePath
    graft.ops.Compaction.compact(s, root, out, CompactBudgetBytes)
    graft.ops.Compaction.manifestOf(s, out)
  }

  private val p29Sql =
    s"""WITH e AS (
       |  SELECT event_id, event_type,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
       |  FROM events),
       |o AS (
       |  SELECT day, event_id, 32 + strlen(event_type) AS nb,
       |    sum(32 + strlen(event_type)) OVER (
       |      PARTITION BY day
       |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM e)
       |SELECT day, CAST((s - nb) // $CompactBudgetBytes AS BIGINT) AS file_idx,
       |  count(*) AS n_rows, CAST(sum(nb) AS BIGINT) AS sum_bytes,
       |  min(event_id) AS min_event, max(event_id) AS max_event
       |FROM o GROUP BY 1, 2""".stripMargin

  /** p30: INCREMENTAL compaction — `OPTIMIZE ... WHERE fragmented`, the
    * pass a lakehouse actually schedules nightly (rewriting the whole
    * table every night, p29's shape, is the demo form): the starting
    * layout has even days already at the target budget and odd days
    * littered at [[LitterBudgetBytes]]-byte files (micro-batch debris),
    * and [[graft.ops.Compaction.compactWhere]] rewrites ONLY the days
    * whose physical file count exceeds the deterministic plan's —
    * healthy days are never read-modified (byte-identity pinned in
    * ScaleTechniquesSpec, along with re-run no-op-ness).
    *
    * Gate: the final manifest, recomputed FROM THE FILES, must equal
    * the FULL compaction plan — incremental and full OPTIMIZE converge
    * to the same deterministic layout (both pack at the same budget and
    * the unbreached days provably already sit at it), so the oracle is
    * p29's SQL verbatim and a hash match proves selective-rewrite ==
    * full-rewrite == plan.
    */
  // litter at budget/2: strictly finer than the target wherever a day
  // needs more than one file (for day bytes b > budget/2, packing at
  // budget/2 plans more files than packing at budget; for b <= budget/2
  // both plan exactly one file and the layouts coincide), so every
  // fragmented day breaches and every unbreached day already IS the
  // plan — while keeping the fixture's physical file count ~2x the
  // target instead of the blowup a byte-sized litter would write
  private[graft] val LitterBudgetBytes = CompactBudgetBytes / 2

  private def p30(s: SparkSession, dir: String): DataFrame = {
    val pristine = pristineMixed(s, dir)
    val work = graft.core.ProcessStore.scratch(
      "optwhere-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    resetMixed(pristine, work)
    graft.ops.Compaction.compactWhere(s, work.getAbsolutePath, CompactBudgetBytes)
    graft.ops.Compaction.manifestOf(s, work.getAbsolutePath)
  }

  /** p31: OPTIMIZE ... WHERE ... ZORDER BY (user_id, event_id) — the
    * full lakehouse maintenance pass: p30's incremental day-local
    * breach scan composed with p28's multi-dimensional clustering in
    * ONE rewrite. The starting layout is the p30 mixed shape but
    * packed along the Morton curve (even days at the target budget,
    * odd days littered — BOTH z-ordered under the same frozen basis,
    * persisted as the layout's `_zorder_manifest.json` sidecar), so
    * breached days re-pack onto the identical curve and incremental ==
    * full rewrite == plan holds exactly as in p30.
    *
    * Gate: the final manifest, recomputed FROM THE FILES with both
    * clustered columns' per-file min/max (the two-predicate pruning
    * surface the rewrite exists to narrow), must hash-match the DuckDB
    * z-plan — the oracle interleaves the same frozen bins (p28's
    * literal Morton terms) and packs the same per-day running sum, so
    * a match certifies budget-packing AND clustering end to end. The
    * narrow-box pruning win and re-run no-op-ness are pinned in
    * Round14Spec.
    */
  private def p31(s: SparkSession, dir: String): DataFrame = {
    val pristine = pristineMixedZ(s, dir)
    val work = graft.core.ProcessStore.scratch(
      "optzorder-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    resetMixed(pristine, work)
    graft.ops.Compaction.compactWhere(s, work.getAbsolutePath, CompactBudgetBytes,
      zorder = true)
    graft.ops.Compaction.manifestClustered(s, work.getAbsolutePath)
  }

  /** The composed z-plan mirror, parameterized on the event
    * dimension's frozen bin edge: the z basis (user global, event edge
    * = `mxbExpr` — today's max for p31's fresh basis, the range
    * midpoint for p32's frozen one), p28's literal Morton bin +
    * interleave terms, then p29's per-day running sum packing ordered
    * by (z, md5, id) and the clustered manifest with both columns'
    * per-file min/max. One generator so the pack order, row-bytes
    * formula, and manifest columns can never diverge between the two
    * oracles.
    */
  private def zPlanSql(mxbExpr: String): String = {
    val g = graft.ops.Zorder.ZGrid
    val terms = (0 until graft.ops.Zorder.ZBits).map { i =>
      s"((ba >> $i) & 1) * ${1L << (2 * i + 1)} + ((bb >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
       |  FROM events),
       |mm AS (
       |  SELECT min(user_id) AS mna, max(user_id) AS mxa,
       |         min(event_id) AS mnb,
       |         $mxbExpr AS mxb
       |  FROM e),
       |bins AS (
       |  SELECT day, user_id, event_id, event_type,
       |    CASE WHEN mxa > mna THEN ((user_id - mna) * $g) // (mxa - mna + 1)
       |         ELSE CAST(0 AS BIGINT) END AS ba,
       |    CASE WHEN mxb > mnb THEN ((event_id - mnb) * $g) // (mxb - mnb + 1)
       |         ELSE CAST(0 AS BIGINT) END AS bb
       |  FROM e CROSS JOIN mm),
       |o AS (
       |  SELECT day, user_id, event_id, 32 + strlen(event_type) AS nb,
       |    sum(32 + strlen(event_type)) OVER (
       |      PARTITION BY day
       |      ORDER BY ($terms), md5(CAST(event_id AS VARCHAR)), event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM bins)
       |SELECT day, CAST((s - nb) // $CompactBudgetBytes AS BIGINT) AS file_idx,
       |  count(*) AS n_rows, CAST(sum(nb) AS BIGINT) AS sum_bytes,
       |  min(user_id) AS min_user, max(user_id) AS max_user,
       |  min(event_id) AS min_event, max(event_id) AS max_event
       |FROM o GROUP BY 1, 2""".stripMargin
  }

  private val p31Sql = zPlanSql("max(event_id)")

  /** p32: the drift-triggered layout MAINTENANCE DECISION
    * ([[graft.ops.Compaction.maintainLayout]] — s35/s36's rule applied
    * to the clustered table) in its INCREMENTAL deployment
    * configuration (threshold 1.0 — the drift rate is a fraction and
    * the breach test strict, so NOTHING breaches: the never-recluster
    * config of a lakehouse that reclusters on a schedule, not on
    * drift). The
    * drifted fixture's rate is ~0.5 (half the corpus outgrew the
    * frozen edge), so the decision provably takes the append branch:
    * `compactWhere(zorder)` under the FROZEN basis — breached days
    * re-pack onto the stale curve, healthy days untouched. Gate: the
    * final clustered manifest must hash-match the z-plan under the
    * frozen basis — proving the no-breach branch never re-bins.
    * The data-driven branch flip (a threshold inside the measured
    * rate flips recluster) is pinned in Round15Spec.
    */
  private def p32(s: SparkSession, dir: String): DataFrame = {
    val pristine = pristineDriftedZ(s, dir)
    val work = graft.core.ProcessStore.scratch(
      "maintwhere-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    resetMixed(pristine, work)
    val (_, _, served) = graft.ops.Compaction.maintainLayout(
      s, work.getAbsolutePath, CompactBudgetBytes, 1.0,
      graft.core.ProcessStore.scratch(
        "maintwhere-out-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
        .getAbsolutePath)
    graft.ops.Compaction.manifestClustered(s, served)
  }

  /** The z-plan under the FROZEN basis: [[zPlanSql]] with the event
    * dimension's bin edge at the midpoint of the global id range — the
    * basis the fixture froze — instead of today's max. Rows beyond the
    * edge bin past the grid (both engines truncate the interleave to
    * ZBits low bits identically); all numerators are non-negative, so
    * DIV and `//` agree.
    */
  private val p32Sql = zPlanSql("(min(event_id) + max(event_id)) // 2")

  /** p33: the same decision in its RECLUSTER configuration (threshold
    * 0.0 — ANY drift breaches; the fixture's measured rate ~0.5 makes
    * the branch deterministic by a wide margin, and Round15Spec pins
    * the flip around a middle threshold): the "clustering is stale,
    * rebuild it" branch. The full rewrite re-derives the basis from
    * the ENTIRE population, re-packs every day, and replaces the
    * sidecar — [[graft.ops.Compaction.compact]]`(zorder = true)`, the
    * refresh path round 15 gave `compact()`. Gate: the manifest must
    * hash-match p31's oracle VERBATIM (the z-plan under the fresh
    * global basis) — the same certificate s36 carries: breach ⇒ the
    * rebuilt artifact equals what a from-scratch build produces. Reads
    * the pristine fixture read-only (the recluster branch writes to
    * its own root) so re-runs are idempotent in content.
    */
  private def p33(s: SparkSession, dir: String): DataFrame = {
    val pristine = pristineDriftedZ(s, dir)
    val out = graft.core.ProcessStore.scratch(
      "maintreclus-" + java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")))
    // the append branch would compactWhere the build-once fixture IN
    // PLACE — at threshold 0.0 it requires rate == 0 exactly, which the
    // drifted fixture makes impossible; allowAppendInPlace = false
    // makes maintainLayout fail loudly BEFORE touching anything if the
    // impossible ever happens
    val (_, _, served) = graft.ops.Compaction.maintainLayout(
      s, pristine, CompactBudgetBytes, 0.0, out.getAbsolutePath,
      allowAppendInPlace = false)
    graft.ops.Compaction.manifestClustered(s, served)
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("p15_stream_ingest", p15, Some(p15Sql)),
    QueryDef("p29_compact_manifest", p29, Some(p29Sql)),
    QueryDef("p30_optimize_where", p30, Some(p29Sql)),
    QueryDef("p31_optimize_zorder", p31, Some(p31Sql)),
    QueryDef("p32_maintain_where", p32, Some(p32Sql)),
    QueryDef("p33_maintain_recluster", p33, Some(p31Sql)),
  )
}
