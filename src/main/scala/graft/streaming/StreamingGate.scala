package graft.streaming

import graft.queries.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Gate (DuckDB-oracle) entries for streaming twins whose FINALIZED
  * output is batch-expressible.
  *
  * The twins run append-mode with a watermark, so by stream end they have
  * emitted exactly the windows/days the final watermark CLOSED — a
  * deterministic set: the final watermark is `max(event time) - delay`
  * regardless of how the file source batched the input. That makes the
  * finalized output an ANSI-SQL-expressible function of the events table
  * (the batch twin's aggregation plus a closed-under-watermark
  * predicate), which moves the streaming convergence property from
  * ScalaTest-only into the driver's row/schema/hash-matched gate.
  *
  * Each query here RUNS a bounded stream to completion (memory sink,
  * `processAllAvailable`) and returns the sink table. That is the honest
  * cost of the operator — the gate and bench both see the stream
  * actually execute, state, watermark and all. The gate readers ingest
  * ALL available files in the first batch (readEventsWith(None)): with
  * no intermediate watermark, no row can be discarded as late mid-
  * stream, so the finalized set depends on the data alone and the
  * oracles stay correct under any file layout the driver generates
  * (the multi-batch/late-arrival behavior is separately exercised by
  * the StreamingSpec replay harnesses).
  *
  * Watermark arithmetic mirrored in the oracles: Spark tracks event-time
  * stats in MILLISECONDS (each row contributes `ts_us DIV 1000`), so the
  * final watermark is `(max(epoch_us(ts)) // 1000 - delay_ms)` ms. A
  * tumbling window is emitted once `window.end <= watermark`; a
  * flatMapGroupsWithState day closes when its event-time timeout at the
  * day's end millisecond fires, i.e. `watermark > (day+1)*86400000`
  * (strict — the same predicate StreamingSpec pins against the twin).
  */
object StreamingGate extends QueryModule {

  /** Stream micro-batches pay one state-store task per shuffle partition
    * per stateful operator per batch; at gate/bench scale that fixed cost
    * dominates the actual work, so the bounded gate runs drop to 8
    * partitions for the stream's lifetime (results are partitioning-
    * independent: counts, mins, decimal sums, and pair sets only). A
    * production deployment sizes this to cluster cores instead.
    */
  private val StreamShufflePartitions = "8"

  /** Run `body` with the session's shuffle partitions at
    * [[StreamShufflePartitions]]; the session value is restored even on
    * failure.
    */
  private def withStreamPartitions[A](s: SparkSession)(body: => A): A = {
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions)
    try body finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Run `body` in a fresh directory named `prefix` plus a random
    * suffix under the per-process store base ([[graft.core.ProcessStore]],
    * whose shutdown hook reclaims what a killed run leaves), and delete
    * that directory in `finally`: the one owner of every gate's scratch
    * state. Each invocation gets its own directory and deletes only that
    * one, so a concurrent run of the same query never loses its live
    * checkpoint to a prefix sweep, and another process's runs never
    * share its parent.
    */
  private def inScratchDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(graft.core.ProcessStore.base.toPath, prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Run an ingest gate in its own scratch dir: `run` gets an output
    * root and a checkpoint path inside it, and its read-back is pinned
    * into block storage (`localCheckpoint()`) before the directory is
    * deleted, so the returned frame no longer reads the deleted files.
    */
  private def pinnedIngest(prefix: String)(
      run: (String, String) => DataFrame): DataFrame =
    inScratchDir(prefix)(base => run(s"$base/out", s"$base/ckpt").localCheckpoint())

  /** Run a (bounded) streaming frame to completion into a memory sink
    * and return the sink's table. The temp view is dropped first so
    * re-runs in one session (bench cold + warm samples) don't collide.
    * The checkpoint is throwaway by design and lives in a scratch dir
    * like the other gates'; recovery semantics are pinned by
    * StreamingRecoverySpec against real checkpoints. The memory sink
    * holds the rows, so the result needs no pinning.
    */
  private def runToTable(s: SparkSession, name: String, mode: String = "append")(
      out: => DataFrame): DataFrame = {
    try s.catalog.dropTempView(name) catch { case NonFatal(_) => () }
    inScratchDir(s"graft_ck_$name") { ck =>
      withStreamPartitions(s) {
        val q = out.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ck.toString)
          .outputMode(mode).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    s.table(name)
  }

  /** es02: the e02 tumbling-window twin's finalized (closed-window)
    * output — EventStream.tumblingAgg in append mode, 2 h watermark.
    */
  private def es02(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es02_sink") {
      EventStream.tumblingAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es02Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events)
      |SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, wm
      |WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm.wm_us
      |GROUP BY 1, 2, wm.wm_us""".stripMargin

  /** es10: the e10 daily-paths twin's finalized (closed-day) output —
    * EventStream.dailyPaths in append mode, 0 s watermark delay, one
    * (user_id, day, path) row per day the final watermark passed.
    */
  private def es10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    runToTable(s, "es10_sink") {
      EventStream.dailyPaths(s, EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
        .select(col("user_id"), col("day"), col("path"))
    }
  }

  private val es10Sql =
    s"""WITH wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events),
       |ev AS (
       |  SELECT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day, event_type,
       |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |                       ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events)
       |SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
       |FROM ev, wm
       |WHERE rn <= ${graft.queries.EventsQueries.PathLen}
       |  AND (day + 1) * 86400000 < wm.wm_ms
       |GROUP BY 1, 2, wm.wm_ms""".stripMargin

  /** es03: the e03 sessionize twin's finalized (closed-session) output —
    * EventStream.sessionize in append mode, 0 s watermark delay. A
    * session is closed either by the user's next event arriving more
    * than the 30-min gap later (then the batch rule splits there too) or
    * by its event-time timeout at `end + gap + 1 ms` firing, which needs
    * the final watermark STRICTLY past it. So the closed set is every
    * batch session except a user's LAST one whose timeout the watermark
    * has not strictly exceeded — the same predicate StreamingSpec pins.
    */
  private def es03(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es03_sink") {
      EventStream.sessionize(s, EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es03Sql =
    """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events),
      |t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ts_us,
      |    CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM t),
      |sess AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |    min(ts_us) AS start_us, max(ts_us) AS end_us,
      |    max(session_id) OVER (PARTITION BY user_id) AS last_sid
      |  FROM s GROUP BY user_id, session_id)
      |SELECT user_id, session_id, n_events, start_us, end_us
      |FROM sess, wm
      |WHERE NOT (session_id = last_sid AND end_us // 1000 + 1800001 >= wm.wm_ms)""".stripMargin

  /** es07: the e07 retention twin's finalized (user, cohort, offset)
    * pairs — EventStream.retention in append mode, 2 h watermark. The
    * buffered harness finalizes exactly the events strictly below the
    * final watermark (`ts_us < wm_ms * 1000`); over that subset the
    * cohort is the user's min day and every distinct (cohort, day)
    * activity pair emits once — a plain SQL function of the finalized
    * event set.
    */
  private def es07(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es07_sink") {
      EventStream.retention(s,
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es07Sql =
    """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
      |fin AS (
      |  SELECT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
      |  FROM events, wm WHERE epoch_us(ts) < wm.wm_ms * 1000),
      |coh AS (SELECT user_id, min(day) AS cohort_day FROM fin GROUP BY 1)
      |SELECT DISTINCT f.user_id, c.cohort_day, f.day - c.cohort_day AS day_offset
      |FROM fin f JOIN coh c USING (user_id)""".stripMargin

  /** es01: the e01 twin's converged snapshot — EventStream.jsonAgg is a
    * plain streaming aggregation keyed by event_type (no watermark; the
    * key domain, not time, bounds its state), so a complete-mode sink
    * holds exactly the batch rollup once all input is processed. The
    * oracle is e01's SQL verbatim.
    */
  private def es01(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es01_sink", mode = "complete") {
      EventStream.jsonAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es01Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** es04: the e04 as-of twin's finalized rows — EventStream.asofSignup
    * in append mode, 2 h watermark. The buffered harness hands the step
    * the finalized prefix (`ts_us < wm_ms*1000`) in (ts, event_id)
    * order, so each emitted row carries the newest finalized signup
    * at-or-before it. The as-of window only looks backward and the
    * finalized set is a time-prefix per user, so restricting the batch
    * e04 window to that subset is exactly the twin's output.
    */
  private def es04(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es04_sink") {
      EventStream.asofSignup(s,
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es04Sql =
    """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
      |fin AS (
      |  SELECT user_id, event_id, event_type, ts
      |  FROM events, wm WHERE epoch_us(ts) < wm.wm_ms * 1000)
      |SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
      |FROM fin""".stripMargin

  /** es05: the e05 twin's emitted pair set — the watermark-bounded
    * stream-stream interval self-join. The gate reader ingests all files
    * in one batch, so every row joins against fully-populated state
    * before any watermark eviction: the emitted set is the complete
    * batch pair join (eviction bounds state on an unbounded stream; it
    * never suppresses a pair here). Raw pairs, not the per-event count:
    * the gate hashes the multiset the join actually emitted.
    */
  private def es05(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es05_sink") {
      EventStream.intervalJoin(
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None), "inner")
    }

  private val es05Sql =
    """SELECT a.user_id, a.event_id AS eid, b.event_id AS oid
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
      | AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 300000000 AND epoch_us(a.ts) + 300000000""".stripMargin

  /** es06: the e06 sliding-window twin's finalized (closed-window)
    * output — EventStream.slidingAgg in append mode, 2 h watermark.
    * Window starts sit on the epoch-aligned 30-minute grid (each event
    * in the d∈{0,1} pair of 1-hour windows), and a window is emitted
    * once `end <= watermark` (non-strict — DETERMINISM.md rule 13).
    */
  private def es06(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es06_sink") {
      EventStream.slidingAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es06Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events)
      |SELECT CAST((k - d) * 1800000000 AS BIGINT) AS bucket_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT epoch_us(ts) // 1800000000 AS k, event_type, value FROM events)
      |CROSS JOIN (SELECT unnest([0, 1]) AS d)
      |CROSS JOIN wm
      |WHERE (k - d) * 1800000000 + 3600000000 <= wm.wm_us
      |GROUP BY 1, 2, wm.wm_us""".stripMargin

  /** es08: the e08 funnel twin's finalized per-user rows —
    * EventStream.funnel in append mode, 2 h watermark. Single-batch
    * ingest finalizes each user's in-watermark events in ONE chunk, so
    * exactly one row per user with finalized events is emitted, holding
    * the three value-based stage minimums over that subset — the batch
    * e08 query restricted to `ts_us < wm_ms*1000`.
    */
  private def es08(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es08_sink") {
      EventStream.funnel(s,
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es08Sql =
    """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
      |fin AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events, wm WHERE epoch_us(ts) < wm.wm_ms * 1000)
      |SELECT user_id, min(fv) AS first_view_us, min(fc) AS first_click_us,
      |  min(fp) AS first_purchase_us
      |FROM (
      |  SELECT user_id, fv, fc,
      |    min(CASE WHEN event_type = 'purchase' AND ts_us >= fc THEN ts_us END)
      |      OVER (PARTITION BY user_id) AS fp
      |  FROM (
      |    SELECT user_id, event_type, ts_us, fv,
      |      min(CASE WHEN event_type = 'click' AND ts_us >= fv THEN ts_us END)
      |        OVER (PARTITION BY user_id) AS fc
      |    FROM (
      |      SELECT user_id, event_type, ts_us,
      |        min(CASE WHEN event_type = 'view' THEN ts_us END)
      |          OVER (PARTITION BY user_id) AS fv
      |      FROM fin)))
      |GROUP BY user_id""".stripMargin

  /** es09: the e09 transitions twin's finalized bigram rows —
    * EventStream.transitions in append mode, 2 h watermark. One TransOut
    * row per adjacent (ts, event_id)-ordered pair within the finalized
    * prefix of each user; the gate hashes the raw multiset (the batch
    * e09 matrix is its count rollup), so multiplicity is still checked.
    */
  private def es09(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es09_sink") {
      EventStream.transitions(s,
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es09Sql =
    """WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
      |fin AS (
      |  SELECT user_id, event_id, event_type, ts
      |  FROM events, wm WHERE epoch_us(ts) < wm.wm_ms * 1000)
      |SELECT event_type AS src_type, nxt AS dst_type
      |FROM (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM fin)
      |WHERE nxt IS NOT NULL""".stripMargin

  /** es11: watermark-evicted ingestion dedup, live with REAL duplicates —
    * the events stream unioned with a second reader over the same files
    * (every event_id arrives twice, the at-least-once-delivery shape)
    * through `dropDuplicatesWithinWatermark(event_id)`. Exactly one row
    * per event_id survives regardless of batching, and since duplicate
    * rows are bit-identical the survivor is unambiguous — so the emitted
    * set is the plain events projection, which the oracle states
    * directly. The watermark's job here is STATE EVICTION (ids older
    * than the delay stop occupying the store on an unbounded stream);
    * it never suppresses output in a bounded run. The duplicate-file
    * replay attack on the same operator is separately pinned by
    * StreamingRecoverySpec across a checkpoint restart.
    */
  private def es11(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es11_sink") {
      import org.apache.spark.sql.functions.col
      val once = EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)
      val again = EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)
      EventStream.dedupedEvents(once.unionAll(again))
        .select(col("event_id"), col("user_id"), col("event_type"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts_us"),
          col("value"))
    }

  private val es11Sql =
    """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      |FROM events""".stripMargin

  /** es14: the LEFT OUTER stream-stream interval join — es05's pair set
    * PLUS a null-oid row per event the engine could PROVE partnerless:
    * an outer row emits only when the watermark passes the end of the
    * event's ±5-minute match window (state eviction), so the finalized
    * null-row set is `no partner exists AND ta + 5 min < final
    * watermark` — tail events inside the last watermark-delay+5min
    * stay in state and contribute no null row. Matched pairs emit
    * immediately and are watermark-independent, exactly as in es05.
    */
  private def es14(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es14_sink") {
      EventStream.intervalJoin(
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None), "left_outer")
    }

  private val es14Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events),
      |pairs AS (
      |  SELECT a.user_id, a.event_id AS eid, b.event_id AS oid
      |  FROM events a JOIN events b
      |    ON a.user_id = b.user_id AND a.event_id <> b.event_id
      |   AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 300000000
      |                          AND epoch_us(a.ts) + 300000000)
      |SELECT user_id, eid, oid FROM pairs
      |UNION ALL
      |SELECT a.user_id, a.event_id AS eid, CAST(NULL AS BIGINT) AS oid
      |FROM events a, wm
      |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.eid = a.event_id)
      |  AND epoch_us(a.ts) + 300000000 < wm.wm_us""".stripMargin

  /** es15: UPDATE output mode on the tumbling window agg — the third
    * emission contract (es02 covers append = closed-only, es01/es12
    * complete = full snapshot): update emits each group once per batch
    * it CHANGED in, including still-open windows append must withhold.
    * Single-batch ingest touches every window exactly once and the
    * trailing no-data batch changes none, so the emitted multiset is
    * the plain batch window aggregation with NO watermark cutoff — the
    * distinction from es02 the oracle pins (an upsert sink consumes
    * exactly this changelog in production).
    */
  private def es15(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es15_sink", mode = "update") {
      EventStream.tumblingAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es15Sql =
    """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** es12: CDC changelog compaction of the event stream — the latest
    * event per user plus the version count (the q42 pattern, live).
    * `max_by` folds incrementally so the complete-mode snapshot equals
    * the batch window query under any batching/arrival order; the
    * oracle is that batch form. No batch e12 exists — the oracle IS the
    * batch equivalent.
    */
  private def es12(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es12_sink", mode = "complete") {
      EventStream.compactSnapshot(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es12Sql =
    """SELECT user_id, n_events, ts_us AS last_ts_us, event_id AS last_event_id,
      |  event_type AS last_type, value AS last_value
      |FROM (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  /** es13: stream-static enrichment — the events stream joined per
    * micro-batch against the static customer dimension. Stateless, so
    * the emitted set is the plain batch left join regardless of
    * batching; the gate hashes every enriched row.
    */
  private def es13(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es13_sink") {
      EventStream.enrichStatic(
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None),
        graft.core.Tables.customer(s, dir))
    }

  private val es13Sql =
    """SELECT e.event_id, e.user_id, e.event_type,
      |  c.c_mktsegment AS mktsegment, c.c_nationkey AS nationkey
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  /** es23: the es02 tumbling aggregation run on the ROCKSDB state store
    * — the state backend a 100 TB deployment actually runs: the
    * HDFS-backed default holds every state row in executor HEAP (state
    * size is bounded by memory), while RocksDB spills to local SSD and
    * bounds only the working set. Same query, same oracle; what the
    * gate proves is that results are IDENTICAL under the swapped
    * backend — the provider is a pure storage choice, not a semantics
    * choice. The conf is session-scoped, so it is set for this start
    * and restored after (a production job sets it once in
    * spark-defaults).
    */
  private def es23(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToTable(s, "es23_sink") {
      EventStream.tumblingAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    } finally before match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  private val es23Sql = es02Sql

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("es01_rollup_snapshot", es01, Some(es01Sql)),
    QueryDef("es02_tumbling_closed", es02, Some(es02Sql)),
    QueryDef("es03_sessions_closed", es03, Some(es03Sql)),
    QueryDef("es04_asof_closed", es04, Some(es04Sql)),
    QueryDef("es05_interval_pairs", es05, Some(es05Sql)),
    QueryDef("es06_sliding_closed", es06, Some(es06Sql)),
    QueryDef("es07_retention_closed", es07, Some(es07Sql)),
    QueryDef("es08_funnel_closed", es08, Some(es08Sql)),
    QueryDef("es09_transitions_closed", es09, Some(es09Sql)),
    QueryDef("es10_daily_paths_closed", es10, Some(es10Sql)),
    QueryDef("es11_dedup_ingest", es11, Some(es11Sql)),
    QueryDef("es12_compact_snapshot", es12, Some(es12Sql)),
    QueryDef("es13_enrich_static", es13, Some(es13Sql)),
    QueryDef("es14_interval_left_outer", es14, Some(es14Sql)),
    QueryDef("es15_update_emission", es15, Some(es15Sql)),
    QueryDef("es16_window_topk", es16, Some(es16Sql)),
    QueryDef("es17_daily_quota", es17, Some(es17Sql)),
    QueryDef("es18_session_window", es18, Some(es18Sql)),
    QueryDef("es19_live_denylist", es19, Some(es19Sql)),
    QueryDef("es20_window_matrix", es20, Some(es20Sql)),
    QueryDef("es21_window_distinct_users", es21, Some(es21Sql)),
    QueryDef("es22_available_now", es22, Some(es22Sql)),
    QueryDef("es23_rocksdb_state", es23, Some(es23Sql)),
    QueryDef("es24_stream_neardup", es24, Some(es24Sql)),
    QueryDef("es25_stream_encode", es25, Some(es25Sql)),
    QueryDef("es26_stream_assign", es26, Some(es26Sql)),
    QueryDef("es27_stream_sketch", es27, Some(es27Sql)),
    QueryDef("es28_stream_spans", es28, Some(es28Sql)),
    QueryDef("es29_stream_serve", es29, Some(es29Sql)),
    QueryDef("es30_stream_blocks", es30, Some(es30Sql)),
    QueryDef("es31_stream_scrub", es31, Some(es31Sql)),
  )

  /** es20: per-closed-window event-type MATRIX — one row per finalized
    * tumbling hour with a count column per type plus an exact decimal
    * value total. This is the streaming PIVOT: `pivot()` is unsupported
    * on streams (the engine can't discover pivot values incrementally),
    * so the production rewrite pins the column set up front and folds
    * each type with a conditional count INSIDE the one windowed
    * aggregate — same state, same single shuffle as es02, wide output.
    * A dashboard reads this row as-is; no second stage re-shapes it.
    *
    * Determinism: conditional counts are integers, the value total is
    * an exact DECIMAL sum; the closed-window set is fixed by the final
    * watermark exactly as es02.
    */
  private def es20(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    runToTable(s, "es20_sink") {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)
      val aggCols =
        graft.core.Num.dsum(col("value")).as("sum_value") +:
          types.map(t =>
            sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
      ev.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_total"), aggCols: _*)
        .select(
          unix_micros(col("w.start")).as("bucket_us") +:
            col("n_total") +: col("sum_value") +:
            types.map(t => col(s"n_$t")): _*)
    }
  }

  private val es20Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events)
      |SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
      |  count(*) AS n_total,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events, wm
      |WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm.wm_us
      |GROUP BY 1, wm.wm_us""".stripMargin

  /** es19: stream-static LEFT ANTI join — live denylist enforcement at
    * the ingest door (p21's erasure run as a STREAM): every micro-batch
    * anti-joins the static banned-user table and only clean events pass.
    * The third stream-static join semantic in the gate (es13 = inner
    * enrich, es14 = stream-stream outer; anti = "must NOT match", which
    * no inner/outer composition expresses). Stateless, so append emits
    * exactly the filtered projection — the oracle is the NOT-IN batch
    * query. The banned table here derives deterministically from the
    * corpus (hash-bucketed 5% of users) standing in for a real
    * denylist dim; the JOIN against it is what executes per batch.
    */
  private def es19(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es19_sink") {
      import org.apache.spark.sql.functions._
      val banned = graft.core.Tables.events(s, dir)
        .select(col("user_id")).distinct()
        .filter(graft.ops.Sampling.hash60(
          concat(lit("ban_"), col("user_id").cast("string"))) % 20 === 0)
      EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)
        .join(banned, Seq("user_id"), "left_anti")
        .select(col("user_id"), col("event_id"), col("event_type"))
    }

  private val es19Sql =
    s"""WITH banned AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE (${graft.ops.OracleSql.hex60("'ban_' || user_id")}) % 20 = 0)
       |SELECT user_id, event_id, event_type
       |FROM events
       |WHERE user_id NOT IN (SELECT user_id FROM banned)""".stripMargin

  /** es18: native session_window running as a REAL stream (append mode,
    * engine-managed session-merge state) — the e11 batch aggregation's
    * streaming twin, finalized = sessions whose end (`last ts + gap`)
    * the final watermark passed. The oracle restates e11's `>=`-gap
    * session construction (the session_window boundary contract) plus
    * the closed-session predicate.
    */
  private def es18(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es18_sink") {
      EventStream.sessionWindowAgg(
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }

  private val es18Sql =
    """WITH wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 AS wm_us FROM events),
      |ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |marked AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |              IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |              >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM ev),
      |sess AS (
      |  SELECT user_id, ts_us,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |g AS (
      |  SELECT user_id, min(ts_us) AS start_us,
      |    max(ts_us) + 1800000000 AS end_us,
      |    count(*) AS n_events
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, start_us, end_us, n_events
      |FROM g, wm WHERE end_us <= wm.wm_us""".stripMargin

  /** es17: per-(user, day) ingest quota accounting — the live throttle
    * ([[EventStream.dailyQuota]]) run to completion; one row per day the
    * final watermark closed (es10's strict day-close predicate). The
    * batch oracle is a plain (user, day) count with least/greatest
    * arithmetic — all integers.
    */
  private def es17(s: SparkSession, dir: String): DataFrame =
    runToTable(s, "es17_sink") {
      EventStream.dailyQuota(s,
        EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)).toDF()
    }

  private val es17Sql =
    s"""WITH wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events),
       |c AS (
       |  SELECT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
       |    count(*) AS n_seen
       |  FROM events GROUP BY 1, 2)
       |SELECT user_id, day, n_seen,
       |  least(n_seen, ${EventStream.QuotaPerDay}) AS n_kept,
       |  greatest(n_seen - ${EventStream.QuotaPerDay}, 0) AS n_suppressed
       |FROM c, wm
       |WHERE (day + 1) * 86400000 < wm.wm_ms""".stripMargin

  /** es16: streaming top-k per closed window — the live "trending now"
    * board: the es02 tumbling aggregation runs as a REAL stream (append
    * mode, 2 h watermark), and each finalized window's event types are
    * ranked by count, top 3 kept. The rank is a stateless view over the
    * closed-window stream output (rows rank only against their own
    * window, and a closed window's rows are final by construction), so
    * it composes AFTER the stream without a second stateful operator —
    * the production shape: state pays for the windowed counts once;
    * leaderboards are derived.
    *
    * Determinism: ties break (n DESC, event_type ASC) — total. The rank
    * window partitions by bucket (per-window frames, no global window).
    */
  private def es16(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sink = runToTable(s, "es16_sink") {
      EventStream.tumblingAgg(EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
    }
    val w = Window.partitionBy(col("bucket_us")).orderBy(col("n").desc, col("event_type"))
    sink.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("bucket_us"), col("event_type"), col("n"), col("rn"))
  }

  private val es16Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events),
      |agg AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
      |    count(*) AS n
      |  FROM events, wm
      |  WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm.wm_us
      |  GROUP BY 1, 2, wm.wm_us)
      |SELECT bucket_us, event_type, n, rn FROM (
      |  SELECT bucket_us, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY bucket_us ORDER BY n DESC, event_type) AS BIGINT) AS rn
      |  FROM agg)
      |WHERE rn <= 3""".stripMargin

  /** es21: DISTINCT USERS per closed tumbling hour — the live
    * unique-visitors board, and the engine's CHAINED-STATEFUL-OPERATOR
    * demonstration: stateful op 1 is a watermark-scoped
    * `dropDuplicates` on (window, user) (dedup state evicted when the
    * window closes), whose APPEND output feeds stateful op 2, the
    * per-window count — the multi-stateful pipeline shape (dedup →
    * windowed agg in ONE query) that Spark supports when every stage
    * shares the same event-time watermark. COUNT(DISTINCT) does not
    * decompose incrementally; this rewrite (exact dedup state + plain
    * count) is the production-exact form — contrast e15's batch
    * distinct-fanout rewrite of the same non-decomposability.
    *
    * Scale shape: dedup state is one entry per (open window, user) —
    * bounded by watermark eviction; the count state is one long per
    * open window. Both stages partition by the same keys the state
    * needs, no extra exchange beyond the two stateful shuffles.
    */
  private def es21(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    runToTable(s, "es21_sink") {
      EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None)
        .withWatermark("ts", "2 hours")
        .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .dropDuplicates("w", "user_id")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_users"))
        .select(unix_micros(col("w.start")).as("bucket_us"), col("n_users"))
    }
  }

  private val es21Sql =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 7200000) * 1000 AS wm_us FROM events),
      |du AS (
      |  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events)
      |SELECT epoch_us(du.h) AS bucket_us, count(*) AS n_users
      |FROM du, wm
      |WHERE epoch_us(du.h) + 3600000000 <= wm.wm_us
      |GROUP BY 1, wm.wm_us""".stripMargin

  /** es22: Trigger.AvailableNow incremental-batch runs — the THIRD
    * execution mode after continuous micro-batching (es02…es21) and
    * foreachBatch sinks (p15): the query starts, drains everything
    * available in rate-limited batches, commits the checkpoint, and
    * STOPS — the nightly-catchup / cost-controlled shape that replaces
    * cron-managed manual batch jobs. Run TWICE against the same
    * checkpoint: run 1 ingests the data; run 2 finds nothing new and
    * must emit ZERO rows (checkpoint-held progress, the idempotent
    * re-run contract an orchestrator retries against). The gate result
    * is the sink after both runs — equal to es02's closed-window set,
    * with the run-2 silence asserted in code (a duplicate emission
    * would double rows and fail the hash anyway).
    */
  private def es22(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    pinnedIngest("graft-es22") { (out, ckpt) =>
      withStreamPartitions(s) {
        // a DURABLE file sink (memory sinks can't recover a checkpoint):
        // the parquet sink's _spark_metadata manifest is what makes the
        // re-run exactly-once — readers see only committed batches
        def runOnce(): Unit = {
          val q = EventStream.tumblingAgg(
            EventStream.readEventsWith(s, dir, maxFilesPerTrigger = None))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          try q.awaitTermination() finally q.stop()
        }
        runOnce()
        val afterFirst = s.read.parquet(out).count()
        runOnce()
        require(s.read.parquet(out).count() == afterFirst,
          "AvailableNow re-run against the committed checkpoint must emit nothing")
        s.read.parquet(out)
      }
    }
  }

  private val es22Sql = es02Sql

  /** Streaming reader over the documents table (no event-time column —
    * document ingest is sequence-ordered, not time-ordered, so the
    * stateless consumers below need no watermark).
    */
  private[graft] def readDocuments(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    readGlobStream(s, dir, "documents*.parquet", maxFilesPerTrigger)

  /** Streaming reader over the embeddings table (es26's arrival feed —
    * sequence-ordered like documents, no watermark needed).
    */
  private[graft] def readEmbeddings(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    readGlobStream(s, dir, "embeddings*.parquet", maxFilesPerTrigger)

  private def readGlobStream(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = s.readStream.schema(graft.core.Tables.globSchema(s, dir, glob))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    reader.option("pathGlobFilter", glob).parquet(dir)
  }

  /** Run a documents stream through an arbitrary per-batch transform,
    * landing each micro-batch's output under its own `batch_id=<id>`
    * dir (p15's idempotent-by-batch-directory recipe — a replayed
    * batch overwrites its own output) and reading the shard set back
    * with the given projection. The shared plumbing of the stateless
    * ingest gates (es24 near-dup classify, es25 frozen-merge encode);
    * exposed for the multi-batch replay tests.
    */
  private[graft] def runDocBatchStream(s: SparkSession, deltaStream: DataFrame,
      root: String, ckpt: String, outCols: Seq[String])(
      perBatch: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val rootDir = new java.io.File(root)
    rootDir.mkdirs() // read-back below must not throw on a no-op stream
    withStreamPartitions(s) {
      val writeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, id) =>
          perBatch(batch.toDF())
            .write.mode("overwrite")
            .parquet(new java.io.File(root, s"batch_id=$id").getAbsolutePath)
      val q = deltaStream.writeStream
        .foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // A delta that matched ZERO files/rows never fires foreachBatch, so
    // no batch_id dir exists and a bare parquet read can't infer a
    // schema. Shape the empty result the same way the batches would
    // have been shaped: perBatch over an empty delta-schema frame.
    val wroteAny = Option(rootDir.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isDirectory && f.getName.startsWith("batch_id="))
    if (wroteAny) s.read.parquet(root).select(outCols.map(col): _*)
    else perBatch(s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], deltaStream.schema))
      .select(outCols.map(col): _*).limit(0)
  }

  private[graft] def runNearDupStream(s: SparkSession, deltaStream: DataFrame,
      corpusSh: DataFrame, corpusIdx: DataFrame, root: String, ckpt: String): DataFrame =
    runDocBatchStream(s, deltaStream, root, ckpt,
      Seq("doc_id", "dup_of", "jaccard", "verdict"))(
      batch => graft.ops.Dedup.classifyDelta(batch, corpusSh, corpusIdx))

  /** es24: STREAMING near-duplicate ingest — d22's delta-vs-corpus
    * MinHash-LSH classification run LIVE: the day's documents arrive as
    * a stream, and each micro-batch computes its own signatures
    * (row-local), probes the STATIC corpus band index by (band, bucket)
    * equi-join, exact-verifies candidates, and lands per-doc verdicts
    * (`near` + best match, or `new`). The per-batch logic needs a
    * per-doc best-match window, which streams can't express natively —
    * so the production shape is foreachBatch (the documented escape
    * hatch for per-batch batch semantics), landing each batch under its
    * own idempotent `batch_id` dir like p15.
    *
    * This closes the dedup matrix: exact-incremental (d13), sketch-
    * incremental batch (d22), exact-streaming (es11), and now sketch-
    * streaming — the shape an at-ingest near-dup filter actually runs.
    *
    * Scale shape: NO stateful operator — the stream's only state is the
    * file-source progress log. The corpus index is built once before
    * the stream starts and only ever probed by equi-join; per-batch
    * work is ∝ batch signatures + bucket hits. Batching cannot change
    * the result: the index is static within the run (the day's index
    * refresh is d23's append, between runs), verdicts are per-doc, and
    * every doc arrives exactly once — so the emitted set equals the
    * batch d22 classification and the oracle is d22's SQL verbatim.
    */
  private def es24(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isDelta = col("doc_id") % 10 === 0
    val corpusSh = graft.ops.Dedup.shingledDocs(
      graft.core.Tables.documents(s, dir).filter(!isDelta)).persist()
    val idx = graft.ops.Dedup.bandedOf(corpusSh).persist()
    idx.count() // materialize the index before the stream starts ingesting
    pinnedIngest("graft-es24") { (out, ckpt) =>
      runNearDupStream(s, readDocuments(s, dir).filter(isDelta), corpusSh, idx, out, ckpt)
    }
  }

  private val es24Sql = graft.ops.Dedup.d22Sql

  /** es25: TOKENIZE AT INGEST — t25's frozen-merge encode run live:
    * the merge table trains ONCE on the corpus split before the stream
    * starts (the forced 1-row selections broadcast), then every
    * micro-batch of arriving documents is encoded by the shared
    * [[graft.ops.TextAnalysis.encodeReport]] kernel — a pure row-local
    * fold of replace() rewrites, so the per-batch plan has NO shuffle
    * at all — and lands its per-doc compression report under an
    * idempotent `batch_id` dir. The production tokenizer-at-the-door
    * shape: the vocabulary is fixed by training, ingest only applies
    * it; re-fitting per batch would drift the vocabulary shard by
    * shard (t25's freeze contract, live).
    *
    * Scale shape: stateless (file-source progress log is the only
    * state); work ∝ batch tokens; the trained merge table is
    * MergeSteps 1-row broadcasts however large the corpus. Batching
    * cannot change the result — the table is frozen and the encode is
    * per-doc — so the oracle is t25's SQL verbatim.
    */
  private def es25(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isDelta = col("doc_id") % 10 === 0
    val merges = graft.ops.TextAnalysis.trainMergesOn(
      graft.core.Tables.documents(s, dir).filter(!isDelta))
    pinnedIngest("graft-es25") { (out, ckpt) =>
      runDocBatchStream(s, readDocuments(s, dir).filter(isDelta), out, ckpt,
        Seq("doc_id", "n_raw", "n_enc", "n_merged", "ratio"))(
        batch => graft.ops.TextAnalysis.encodeReport(batch, merges))
    }
  }

  private lazy val es25Sql = graft.ops.TextAnalysis.t25Sql

  /** es26: FROZEN-INDEX ASSIGN AT INGEST — s24's cheap ingest path run
    * live: the quantizer trains ONCE on the corpus split before the
    * stream starts (the trained codebook is the one nested broadcast),
    * then every micro-batch of arriving embeddings normalizes
    * (row-local cast/dot/zero-norm filter) and takes the two-level
    * rank-1 fold to its membership cell — per-batch plan has NO
    * shuffle, work ∝ batch rows × O(√K). The index-side twin of es25's
    * tokenizer-at-the-door: the vocabulary there, the codebook here,
    * both frozen by training with ingest only applying them; s23 is
    * the drift monitor that decides when to retrain.
    *
    * Scale shape: stateless (file-source progress log only); batching
    * cannot change the result — the codebook is frozen and assignment
    * is per-row — so the oracle is s24's SQL verbatim.
    */
  private def es26(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the d22 split convention comes from the store's owner
    val isDelta = graft.ops.Similarity.isDeltaVec
    // the codebook comes from the stored artifact (round-14 store:
    // trained once per process, the production frozen-index shape);
    // persist the one-row frame so every micro-batch re-broadcasts
    // from memory instead of re-scanning parquet (round-12 advice)
    val gArr = graft.ops.Similarity.sharedIndex(s, dir, split = true)._1
    gArr.persist().count()
    pinnedIngest("graft-es26") { (out, ckpt) =>
      runDocBatchStream(s, readEmbeddings(s, dir).filter(isDelta), out, ckpt,
        Seq("vec_id", "cell"))(
        batch => graft.ops.Similarity.frozenAssign(
          graft.ops.Similarity.vecsOf(batch), gArr))
    }
  }

  private lazy val es26Sql = graft.ops.Similarity.s24Sql

  /** es27: SOURCE SKETCHES AT INGEST — d24's shard-merge law run live:
    * each micro-batch of arriving documents computes its own partial
    * per-source sketch rows (shingle → signature → per-(source, perm)
    * min — all batch-local) and lands them under an idempotent
    * `batch_id` dir; after the stream drains, the landed partials
    * merge by the same elementwise min and pay off as the
    * source×source estimated-Jaccard matrix. The micro-batches ARE
    * d24's shards: the merge law is exactly why an at-ingest sketch
    * maintainer never needs to revisit yesterday's text — each batch
    * contributes 128 longs per source it touches, and the stored
    * partials compact by min at read time (or any time — min is
    * idempotent, so replayed batches change nothing).
    *
    * Scale shape: stateless stream (file-source progress log only);
    * per-batch work ∝ batch shingles, per-batch OUTPUT ≤ sources×128
    * rows however large the batch; the read-back merge aggregates
    * (source, i) rows — batches×sources×128, never the corpus. The
    * oracle is d24's SQL verbatim: batching cannot change an
    * elementwise-min.
    */
  private def es27(s: SparkSession, dir: String): DataFrame = {
    pinnedIngest("graft-es27") { (out, ckpt) =>
      graft.ops.Dedup.sketchMatrix(graft.ops.Dedup.sketchArrays(
        runDocBatchStream(s, readDocuments(s, dir), out, ckpt, Seq("source", "i", "v"))(
          batch => graft.ops.Dedup.partialSketchRows(batch))))
    }
  }

  private lazy val es27Sql = graft.ops.Dedup.d24Sql

  /** The corpus gram index shared by es28/es31: distinct 8-byte hashed
    * gram keys of the non-delta corpus. A STATIC artifact (built once
    * per corpus generation; the d23 distinct-union seam refreshes it),
    * so it goes through the materialized store — repeated runs in one
    * process read the stored table instead of re-running the corpus
    * distinct (the round-13 es28 start-up spike); the caller persists
    * the returned frame for the stream's batches and the post-run
    * sweep reclaims it.
    */
  private def corpusGramIndex(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Graph.materializedOnce(s,
        s"corpus_gram_index|$dir|" +
          graft.core.Tables.fileFingerprint(s, s"$dir/documents.parquet")) {
      graft.ops.Dedup.gramKeyed(
        graft.core.Tables.documents(s, dir).filter(!(col("doc_id") % 10 === 0)),
        hashed = true)
        .select(col("gk")).distinct()
    }
  }

  /** es28: SPAN CHECK AT INGEST — d26 run live: the corpus gram set
    * builds ONCE before the stream starts (distinct grams, persisted),
    * then each micro-batch of arriving documents streams its
    * overlapping grams (row-local generate), marks them by semi-join
    * against the static set, and lands each doc's span report under an
    * idempotent `batch_id` dir. A document arrives whole in one row,
    * so its islands are complete within its own batch — batching
    * cannot change the result, and the oracle is d26's SQL verbatim.
    * The quote/contamination gate at the door: "how much of this
    * arrival is already in my corpus, in how long a run".
    *
    * Scale shape: stateless stream; per-batch work ∝ batch grams; the
    * gram index stores and probes the shared 60-BIT HASH of each gram
    * (d25's key rule — 8 bytes against the ~60-byte string, and the
    * per-batch mark join ships hashes only); index refresh between
    * runs is a distinct-union append (the d23 seam).
    */
  private def es28(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isDelta = col("doc_id") % 10 === 0
    val corpusGrams = corpusGramIndex(s, dir).persist()
    corpusGrams.count() // materialize the gram index before ingest starts
    pinnedIngest("graft-es28") { (out, ckpt) =>
      runDocBatchStream(s, readDocuments(s, dir).filter(isDelta), out, ckpt,
        Seq("doc_id", "n_spans", "max_span"))(
        batch => graft.ops.Dedup.spanReport(batch.select(col("doc_id")),
          graft.ops.Dedup.islandSpans(
            graft.ops.Dedup.gramKeyed(batch, hashed = true)
              .join(corpusGrams, Seq("gk"), "left_semi"))))
    }
  }

  private lazy val es28Sql = graft.ops.Dedup.d26Sql

  /** es29: SERVE AT INGEST — s30 run live, closing the vector-store
    * serving loop the es-family built up to: es26 ASSIGNS each arrival
    * to the frozen index; es29 ANSWERS each arrival — every
    * micro-batch of incoming embeddings is a query batch against the
    * frozen corpus-trained index, top-5 exact-cosine from live
    * (non-tombstoned) corpus rows, landed under an idempotent
    * `batch_id` dir. Both the codebook (one nested-array row) AND the
    * tombstone-filtered serving index (cell-keyed membership + member
    * vectors) are built and materialized BEFORE the stream starts —
    * the per-batch plan is a row-local probe fold plus one
    * occupancy-bounded equi-join, exactly [[graft.ops.Similarity.serveBatch]],
    * the SAME kernel the gated s30 entry runs, so the twin cannot
    * drift.
    *
    * Scale shape: stateless stream (file-source progress log only);
    * per-batch work ∝ batch rows × O(√K) + probed-cell occupancy; the
    * per-query top-5 window partitions by qid WITHIN the batch (a
    * query's candidates never span batches — the index is frozen and
    * each arrival is served exactly once), so batching cannot change
    * the result and the oracle is s30's dual-population SQL verbatim.
    */
  private def es29(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the d22 split convention comes from the store's owner
    val isDelta = graft.ops.Similarity.isDeltaVec
    // codebook AND membership from the stored artifact (the round-14
    // store): a serving node loads the published index, it never
    // re-trains or re-assigns the corpus
    val (gArr, ranked) = graft.ops.Similarity.sharedIndex(s, dir, split = true)
    gArr.persist().count() // freeze the codebook frame itself (es26's rule)
    val index = graft.ops.Similarity.liveIndexFrom(
      graft.ops.Similarity.vecs(s, dir).filter(!isDelta),
      graft.ops.Similarity.membershipOf(ranked)).persist()
    index.count() // materialize the serving index before ingest starts
    pinnedIngest("graft-es29") { (out, ckpt) =>
      runDocBatchStream(s, readEmbeddings(s, dir).filter(isDelta), out, ckpt,
        Seq("qid", "nid", "sim", "rn"))(
        batch => graft.ops.Similarity.serveBatch(
          graft.ops.Similarity.vecsOf(batch), index, gArr))
    }
  }

  private lazy val es29Sql = graft.ops.Similarity.s30Sql

  /** es30: CAS REFCOUNT MAINTENANCE AT INGEST — m13's bookkeeping run
    * live, es27's discipline applied to storage: each micro-batch of
    * arriving documents computes its own per-block reference PARTIALS
    * (block split + hash row-local, one batch-local aggregate — integer
    * total/live counts, the mergeable form of DETERMINISM rule 17) and
    * lands them under an idempotent `batch_id` dir; after the stream
    * drains, the landed partials sum-merge by block hash and the GC
    * worklist is the zero-live-refs cut. This is how a store actually
    * keeps refcounts current: ingest only ever ADDS partials (a
    * replayed batch overwrites its own, so counts never double), and
    * the nightly GC is a metadata-sized merge over landed partials —
    * yesterday's text is never re-read.
    *
    * Scale shape: stateless stream (file-source progress log only);
    * per-batch output ≤ distinct blocks in the batch; the read-back
    * merge aggregates (bh) partial rows — batches × batch-blocks,
    * never the corpus text. Batching cannot change an integer sum, so
    * the oracle is m13's SQL verbatim.
    */
  private def es30(s: SparkSession, dir: String): DataFrame = {
    pinnedIngest("graft-es30") { (out, ckpt) =>
      graft.ops.Multimodal.gcWorklist(
        runDocBatchStream(s, readDocuments(s, dir), out, ckpt,
          Seq("bh", "n_refs", "live_refs", "block_chars"))(
          batch => graft.ops.Multimodal.partialBlockRefs(batch)))
    }
  }

  private lazy val es30Sql = graft.ops.Multimodal.m13Sql

  /** es31: SCRUB AT THE DOOR — d29 run live, the last stage of the
    * span family's detect→apply arc (es28 MEASURES each arrival's
    * corpus-copied spans; es31 REMOVES them before the doc lands): the
    * corpus gram set builds once before the stream starts (8-byte
    * hashes, persisted), and each micro-batch of arriving documents
    * marks its grams by semi-join against it and rewrites itself with
    * the shared [[graft.ops.Dedup.applyCuts]] tail — the same kernel
    * the gated d29 entry runs, so the twin cannot drift. A document
    * arrives whole in one row, so its cut set and rewrite complete
    * within its own batch — batching cannot change the result, and the
    * oracle is d29's SQL verbatim.
    *
    * Scale shape: stateless stream; per-batch work ∝ batch grams +
    * marked windows; the rewrite is row-local (cut sets are one array
    * row per scrubbed arrival); index refresh between runs is the d23
    * distinct-union seam.
    */
  private def es31(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val isDelta = col("doc_id") % 10 === 0
    val corpusGrams = corpusGramIndex(s, dir).persist()
    corpusGrams.count() // materialize the gram index before ingest starts
    pinnedIngest("graft-es31") { (out, ckpt) =>
      runDocBatchStream(s, readDocuments(s, dir).filter(isDelta), out, ckpt,
        Seq("doc_id", "tok_total", "tok_scrubbed", "clean_text"))(
        batch => graft.ops.Dedup.applyCuts(batch,
          graft.ops.Dedup.gramKeyed(batch, hashed = true)
            .join(corpusGrams, Seq("gk"), "left_semi")
            .select(col("doc_id"), col("gpos"))))
    }
  }

  private lazy val es31Sql = graft.ops.Dedup.d29Sql
}

