package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Structured Streaming versions of the event-table computations.
  *
  * The reference is strictly batch (SURVEY.md §2.5 — `Run` is a one-shot
  * pipeline, `/root/reference/src/mapreduce.go:344-355`), so streaming is
  * pure extension surface: the same `events` parquet drives a file-source
  * stream, and each query's batch twin (EventsQueries e02/e03) is the gold
  * result the streaming output must converge to — asserted in
  * StreamingSpec.
  *
  * At production scale the source would be Kafka/queue-backed; everything
  * from the watermark down is unchanged.
  */
object EventStream {

  /** File-source stream over the events table, ts normalized to
    * TimestampType via the same Tables.normalizeEventTs seam the batch
    * loader uses. The stream's fixed schema is taken from the files
    * actually present (a batch-read schema probe, inferred once per
    * version of the matching files by Tables.globSchema) rather than
    * hard-coded: round 8 proved a forced `ts LONG` schema silently
    * reinterprets a µs-encoded file as nanos. For long-typed files the
    * epoch unit comes from the parquet footer, also shared with the batch
    * loader.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsWith(spark, dir, maxFilesPerTrigger = Some(1))

  /** [[readEvents]] with the batching knob exposed. `Some(1)` (the
    * replay/convergence-test default) delivers one file per micro-batch —
    * the multi-batch shape the cross-batch state tests need.
    * `None` reads every available file in the FIRST batch: no
    * intermediate watermark exists, so no row can be dropped as late
    * against a mid-stream watermark — which makes a bounded run's
    * finalized output a function of the DATA alone, not the file
    * layout. The es* gate queries use `None` for exactly that reason: a
    * driver regeneration that splits events across files must not
    * change what the oracle has to predict.
    */
  def readEventsWith(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int]): DataFrame = {
    // defensive conf-set, as in Tables.events: nanos-era files only read
    // (as raw longs) when nanosAsLong is on
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case NonFatal(_) => () }
    val glob = "events*.parquet"
    val probed = graft.core.Tables.globSchema(spark, dir, glob)
    val unit =
      if (probed("ts").dataType == LongType)
        graft.core.Tables.eventTsLongUnit(spark, dir, glob)
      else "ns"
    val reader = spark.readStream.schema(probed)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    graft.core.Tables.normalizeEventTs(
      reader
        // file source requires a directory: stream the sf dir, filtered to
        // the events table file(s)
        .option("pathGlobFilter", glob)
        .parquet(dir),
      unit)
  }

  /** Tumbling 1-hour window counts/sums with a 2-hour watermark —
    * streaming twin of e02_tumbling_window. Late data beyond the watermark
    * is dropped; in append mode a window only emits once it is closed by
    * the watermark.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.core.Num.dsum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour/30-minute window aggregation — streaming twin of
    * e06_sliding_window. Same watermark semantics as [[tumblingAgg]];
    * each event contributes to two overlapping windows.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.core.Num.dsum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Exactly-once ingestion dedup: duplicate event_ids (e.g. a replayed
    * source file) are dropped, with state evicted by the watermark so an
    * unbounded stream doesn't accumulate every id forever — the streaming
    * counterpart of d01's batch dedup.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Bucket width for the interval-join equi-key = the match radius
    * (5 min): a partner within ±5 min sits in the SAME or an ADJACENT
    * bucket, so advertising each probe-side row under its 3 neighbor
    * buckets makes (user_id, bucket) a complete equi-key. The symmetric
    * hash join then probes only the ±1-bucket slice of a user's state
    * instead of ALL of it — on this corpus ~1 event per (user, bucket)
    * versus ~67 per user, a ~20x probe-work cut that grows with history
    * length (unbounded at 100 TB: a user's total state is unbounded,
    * the bucket slice is not).
    */
  private val IntervalBucketUs = graft.queries.EventsQueries.IntervalWinUs

  /** Stream-stream interval self-join — the streaming twin of e05: each
    * event pairs with the same user's other events within ±5 minutes.
    * Both sides carry watermarks and the join condition bounds event
    * time, so Spark can evict join state once the watermark passes an
    * event's ±5-minute reach — bounded state on an unbounded stream (an
    * unbounded-time stream-stream join would hoard every row forever).
    *
    * `joinType` is `"inner"` (es05) or `"left_outer"` (es14). The outer
    * join also owes the null-extended rows: an event with NO same-user
    * partner within ±5 minutes is emitted with a null `oid` once the
    * watermark passes the end of its match window (only then can the
    * engine PROVE no partner is coming — the state-eviction emission
    * that distinguishes streaming outer joins from inner ones). Matched
    * pairs emit immediately in both; a tail row whose match window the
    * final watermark never clears stays in state and emits nothing —
    * the es14 oracle states that predicate. The EXPLODE stays on the
    * probe (right) side, so the left side is one row per event and a
    * partnerless event owes exactly ONE null row — exploding the left
    * side would emit three.
    */
  def intervalJoin(events: DataFrame, joinType: String): DataFrame = {
    val a = events.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("eid"), col("ts").as("ta"),
        expr(s"unix_micros(ts) DIV $IntervalBucketUs").as("ba"))
    val b = events.withWatermark("ts", "1 hour")
      .select(col("user_id").as("user_b"), col("event_id").as("oid"), col("ts").as("tb"),
        explode(expr(
          s"array(unix_micros(ts) DIV $IntervalBucketUs - 1, " +
          s"unix_micros(ts) DIV $IntervalBucketUs, " +
          s"unix_micros(ts) DIV $IntervalBucketUs + 1)")).as("pb"))
    a.join(b, expr(
      """user_id = user_b AND ba = pb AND eid != oid AND
        |tb BETWEEN ta - INTERVAL 5 MINUTES AND ta + INTERVAL 5 MINUTES""".stripMargin),
      joinType)
      .select(col("user_id"), col("eid"), col("oid"))
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----------------

  /** ts is carried (unused by the lambda) because the watermark tag lives
    * on that column and must survive into the grouped Dataset.
    */
  case class Ev(user_id: Long, event_id: Long, ts_us: Long, ts: java.sql.Timestamp)
  case class SessionState(events: Seq[Long], lastTs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        start_us: Long, end_us: Long)

  private val GapUs = 30L * 60 * 1000 * 1000

  /** Streaming sessionization with explicit state: a >30-min gap closes a
    * session. Streaming twin of e03_sessionize (same gap rule). Event-time
    * timeout does the two things that make this viable on an unbounded
    * stream: a session whose gap has passed the watermark is emitted
    * without waiting for the user's next event, and the quiet user's state
    * is then evicted instead of growing forever.
    */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Vector[Long]), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[(Long, Vector[Long])]) =>
          if (state.hasTimedOut) {
            // the open session's gap has passed the watermark: close it.
            // Keep the advanced counter (a remove() would restart a
            // returning user at session_id 1, colliding with an emitted
            // key) — residual state shrinks to one counter per user;
            // full eviction would need memoryless ids (e.g. start_us).
            val (sessionId, open) = state.get
            state.update((sessionId + 1, Vector.empty))
            if (open.nonEmpty)
              Iterator.single(SessionOut(user, sessionId, open.size.toLong, open.head, open.last))
            else Iterator.empty
          } else {
            // batch iterator order is not guaranteed: sort by (ts, id)
            val evs = it.toVector.sortBy(e => (e.ts_us, e.event_id))
            var (nextSession, open) = state.getOption.getOrElse((1L, Vector.empty[Long]))
            val out = Vector.newBuilder[SessionOut]
            for (e <- evs) {
              if (open.nonEmpty && e.ts_us - open.last > GapUs) {
                out += SessionOut(user, nextSession, open.size.toLong, open.head, open.last)
                nextSession += 1
                open = Vector.empty
              }
              open = open :+ e.ts_us
            }
            state.update((nextSession, open))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.last / 1000 + GapUs / 1000 + 1)
            out.result().iterator
          }
      }
  }

  /** One buffered event: the fields every twin's step function needs
    * ((ts_us, event_id) order key, the type, and the session-zone epoch
    * day for retention). Encoded into flatMapGroupsWithState state.
    */
  case class BufEv(ts_us: Long, event_id: Long, event_type: String, day: Long)

  /** Watermark-buffered per-user event-time processing — the harness the
    * e04/e07/e08/e09 twins share.
    *
    * Events are BUFFERED in per-user state on arrival and handed to
    * `step` only once the watermark has passed them (strictly, at ms
    * granularity — the same cut Spark's own late-row filter uses, so the
    * finalized prefix can never be contradicted by a later arrival), in
    * (ts_us, event_id) order. Arrival order — within a batch or across
    * batches — is therefore invisible to `step`: any disorder the
    * watermark delay covers is REPAIRED, not merely counted, and the
    * twins converge to their batch queries under arbitrary bounded-delay
    * replay. An arrival already below the watermark can no longer be
    * ordered into the finalized prefix; it is dropped exactly as a
    * built-in streaming aggregation drops late rows. The `disorder`
    * accumulator counts both kinds of out-of-order arrival (buffered-
    * and-repaired, and beyond-watermark-dropped) — a health metric for
    * sizing the delay, no longer a divergence warning.
    *
    * Pending state wakes via EventTimeTimeout at watermark+1 whenever
    * events remain buffered, so a quiet user's tail still finalizes as
    * other users' data advances the watermark. State per user is the
    * twin's O(1) core plus the buffer, which the watermark bounds to the
    * delay window — the same bound every built-in watermarked stateful
    * operator carries at 100 TB scale.
    */
  private def bufferedTwin[S, O](
      spark: SparkSession, events: DataFrame, delay: String,
      disorder: Option[org.apache.spark.util.LongAccumulator], init: S,
      step: (Long, S, Vector[BufEv]) => (S, Vector[O]))(
      implicit stateEnc: org.apache.spark.sql.Encoder[(S, Vector[BufEv], Long, Long)],
      outEnc: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id"),
        graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
        col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[PathEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(S, Vector[BufEv], Long, Long), O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PathEv], state: GroupState[(S, Vector[BufEv], Long, Long)]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (core0, buf0, lastTs, lastId) = state.getOption
            .getOrElse((init, Vector.empty[BufEv], Long.MinValue, Long.MinValue))
          val arrivals =
            if (state.hasTimedOut) Vector.empty
            else it.map(e => BufEv(e.ts_us, e.event_id, e.event_type, e.day)).toVector
          // an arrival whose ms already sits below the watermark missed
          // its finalization window (defensive: Spark's own late filter
          // normally removes these upstream)
          val (dropped, kept) = arrivals.partition(_.ts_us < wmUs)
          for (acc <- disorder) {
            val late = dropped.size + kept.count(e =>
              e.ts_us < lastTs || (e.ts_us == lastTs && e.event_id < lastId))
            if (late > 0) acc.add(late.toLong)
          }
          val (mTs, mId) = kept.foldLeft((lastTs, lastId)) { case ((t, i), e) =>
            if (e.ts_us > t || (e.ts_us == t && e.event_id > i)) (e.ts_us, e.event_id) else (t, i)
          }
          // finalize strictly below the watermark: equal-ms events can
          // still legally arrive, so they stay buffered — which also
          // guarantees equal-timestamp ties always reach `step` in ONE
          // chunk (any later equal-ts arrival would be a dropped late row)
          val (ready, pending) = (buf0 ++ kept).partition(_.ts_us < wmUs)
          val (core1, out) =
            if (ready.isEmpty) (core0, Vector.empty[O])
            else step(user, core0, ready.sortBy(e => (e.ts_us, e.event_id)))
          state.update((core1, pending, mTs, mId))
          // wake when the watermark next advances; a fire with no advance
          // is impossible (Spark fires only on watermark > timestamp)
          if (pending.nonEmpty) state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          out.iterator
      }
  }

  case class TransOut(src_type: String, dst_type: String)

  /** Streaming twin of e09: per-user adjacent-event bigrams, one output
    * row per transition (the spec/consumer aggregates counts). Built on
    * [[bufferedTwin]]: the watermark buffer hands this step the user's
    * events in (ts, event_id) order regardless of arrival order, so the
    * core state is just the LAST finalized event type and the boundary
    * bigram between finalization chunks is emitted exactly once. The
    * round-7 design processed arrival batches directly and could only
    * COUNT cross-batch disorder while emitting against stale order;
    * buffering makes the matrix itself correct for any disorder within
    * `delay`.
    */
  def transitions(spark: SparkSession, events: DataFrame,
                  outOfOrder: Option[org.apache.spark.util.LongAccumulator] = None,
                  delay: String = "2 hours"): Dataset[TransOut] = {
    import spark.implicits._
    bufferedTwin[Option[String], TransOut](spark, events, delay, outOfOrder, None,
      (_, last, evs) => {
        val seq = last.toVector ++ evs.map(_.event_type)
        (Some(seq.last),
          seq.sliding(2).collect { case Vector(a, b) => TransOut(a, b) }.toVector)
      })
  }

  case class FunnelOut(user_id: Long, first_view_us: Option[Long],
                       first_click_us: Option[Long], first_purchase_us: Option[Long])

  /** Streaming twin of e08: the view → click → purchase funnel as THREE
    * MIN-TIMESTAMPS of core state per user (first view, first click
    * at-or-after it, first purchase at-or-after that). Each finalization
    * chunk runs three STAGE-ORDERED passes (all views, then all clicks,
    * then all purchases), so a click TIED with its qualifying view
    * counts exactly as batch e08's value-based `ts >= fv` admits — and
    * [[bufferedTwin]] guarantees equal-ts events always finalize in the
    * same chunk, so the tie case can never straddle a chunk boundary.
    * Chunks arrive in event-time order, so once a stage min is set no
    * later chunk can lower it: the emitted row per chunk converges
    * monotonically and the final (equivalently per-column min) row per
    * user IS the batch e08 row, under arbitrary arrival order within
    * `delay`.
    */
  def funnel(spark: SparkSession, events: DataFrame,
             outOfOrder: Option[org.apache.spark.util.LongAccumulator] = None,
             delay: String = "2 hours"): Dataset[FunnelOut] = {
    import spark.implicits._
    bufferedTwin[(Option[Long], Option[Long], Option[Long]), FunnelOut](
      spark, events, delay, outOfOrder, (None, None, None),
      (user, st, evs) => {
        var (fv, fc, fp) = st
        for (e <- evs if e.event_type == "view")
          if (fv.forall(e.ts_us < _)) fv = Some(e.ts_us)
        for (e <- evs if e.event_type == "click")
          if (fv.exists(e.ts_us >= _) && fc.forall(e.ts_us < _)) fc = Some(e.ts_us)
        for (e <- evs if e.event_type == "purchase")
          if (fc.exists(e.ts_us >= _) && fp.forall(e.ts_us < _)) fp = Some(e.ts_us)
        ((fv, fc, fp), Vector(FunnelOut(user, fv, fc, fp)))
      })
  }

  /** Streaming twin of e01: the JSON-prop extraction is stateless (the
    * same projection the batch query runs), and the per-event-type
    * rollup is a plain streaming aggregation — state is ONE row per
    * event type (no watermark needed; the key domain, not time, bounds
    * it). Complete/update sinks read the converged snapshot.
    */
  def jsonAgg(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** Stream-static dimension enrichment: each micro-batch joins the
    * event stream against a STATIC dimension frame — the standard
    * enrich-on-ingest shape (Spark plans the join per micro-batch; a
    * dim under the broadcast threshold rides a broadcast hash join, a
    * larger one shuffles — deliberately unhinted, since TPC-H's
    * customer scales with SF and a hard broadcast hint is exactly the
    * corpus-sized-hint smell ScaleLint kind-4 exists to catch).
    * Stateless: no watermark, every event emits enriched exactly once.
    */
  def enrichStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
        dim.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment").as("mktsegment"), col("c_nationkey").as("nationkey"))

  /** CDC-style changelog compaction of the event stream: the LATEST
    * event per user (by (ts, event_id) — the q42 pattern applied to a
    * live stream) plus the version count. A plain streaming aggregation
    * whose per-key state is one row — `max_by` folds incrementally, so
    * arrival order and batching are invisible by construction and the
    * snapshot equals the batch window query over all input. State is
    * bounded by the KEY domain, not time (no watermark); at 100 TB the
    * same plan feeds update mode into an upsert sink instead of a
    * complete-mode snapshot.
    */
  def compactSnapshot(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        max(struct(col("ts_us"), col("event_id"))).as("lk"),
        max_by(struct(col("event_type"), col("value")),
          struct(col("ts_us"), col("event_id"))).as("lv"))
      .select(col("user_id"), col("n_events"),
        col("lk.ts_us").as("last_ts_us"), col("lk.event_id").as("last_event_id"),
        col("lv.event_type").as("last_type"), col("lv.value").as("last_value"))

  case class AsofOut(event_id: Long, user_id: Long, last_signup_id: Option[Long])

  /** Streaming twin of e04: the as-of lookup (most recent signup
    * at-or-before each event, per user). Built on [[bufferedTwin]], the
    * core state is just the carried signup id: the harness finalizes
    * events in (ts_us, event_id) order, so every processed signup IS the
    * newest-so-far in event time and replaces the carried id
    * unconditionally — the round-7 containment logic (detecting a LATE
    * signup and refusing to regress state) became unreachable, because a
    * late signup inside `delay` is simply ordered into place before the
    * events it should answer, exactly as the batch window computes it. A
    * signup is its own as-of match (the batch frame includes the current
    * row), hence the update-before-emit.
    */
  def asofSignup(spark: SparkSession, events: DataFrame,
                 outOfOrder: Option[org.apache.spark.util.LongAccumulator] = None,
                 delay: String = "2 hours"): Dataset[AsofOut] = {
    import spark.implicits._
    bufferedTwin[Option[Long], AsofOut](spark, events, delay, outOfOrder, None,
      (user, st, evs) => {
        var sigId = st
        val out = evs.map { e =>
          if (e.event_type == "signup") {
            sigId = Some(e.event_id)
            AsofOut(e.event_id, user, Some(e.event_id))
          } else AsofOut(e.event_id, user, sigId)
        }
        (sigId, out)
      })
  }

  case class RetOut(user_id: Long, cohort_day: Long, day_offset: Long)

  /** Streaming twin of e07's per-user stage: each user's cohort is the
    * epoch day of their FIRST event, and every newly active (cohort,
    * day-offset) pair emits exactly once — the downstream
    * (cohort_day, day_offset) user count (e07's final aggregate) is then
    * a plain count over the emitted rows, one per (user, offset).
    *
    * Built on [[bufferedTwin]]: the first FINALIZED event is the true
    * event-time minimum among all in-watermark arrivals, so the cohort
    * is fixed correctly no matter the arrival order and every later
    * finalized event has `day >= cohort` — the round-7 negative-offset
    * skip (a late event from before a too-late-fixed cohort, dropped
    * because no emitted pair could repair the re-based offsets) is
    * unreachable by construction and gone.
    *
    * Core state per user: the cohort day plus the offsets already
    * emitted — O(distinct active days since signup), the retention
    * horizon, NOT the event count; a production deployment bounds it
    * hard by evicting users idle past the horizon with an event-time
    * timeout, exactly as [[dailyPaths]] closes days.
    */
  def retention(spark: SparkSession, events: DataFrame,
                outOfOrder: Option[org.apache.spark.util.LongAccumulator] = None,
                delay: String = "2 hours"): Dataset[RetOut] = {
    import spark.implicits._
    bufferedTwin[Option[(Long, Seq[Long])], RetOut](spark, events, delay, outOfOrder, None,
      (user, st, evs) => {
        val cohort = st.map(_._1).getOrElse(evs.head.day)
        var seen = st.map(_._2.toSet).getOrElse(Set.empty[Long])
        val out = Vector.newBuilder[RetOut]
        for (e <- evs) {
          val off = e.day - cohort // >= 0: finalization is event-time-ordered
          if (!seen(off)) {
            seen += off
            out += RetOut(user, cohort, off)
          }
        }
        (Some((cohort, seen.toSeq.sorted)), out.result())
      })
  }

  case class PathEv(user_id: Long, day: Long, event_id: Long,
                    event_type: String, ts_us: Long, ts: java.sql.Timestamp)
  case class PathOut(user_id: Long, day: Long, path: String)

  /** Streaming twin of e10's per-(user, day) path stage: the first
    * `pathLen` event types of each user-day, FINALIZED by the watermark.
    *
    * State per open (user, day) key is the bounded min-`pathLen` prefix
    * under (ts, event_id) — merging each batch keeps only the smallest
    * `pathLen` entries, so state is O(pathLen) per key no matter how many
    * events the day has, and an out-of-order event that belongs in the
    * prefix still displaces the right entry as long as it arrives before
    * the day closes. The path is emitted exactly once, when the event-
    * time timeout fires after the watermark passes the END of the day —
    * the point where the prefix can no longer change (in-watermark data
    * for that day is complete by definition); the state is then removed,
    * so closed days hold zero state. The downstream top-k (e10's second
    * stage) is a plain aggregation any sink-side batch query runs over
    * the emitted paths.
    */
  def dailyPaths(spark: SparkSession, events: DataFrame,
                 pathLen: Int = graft.queries.EventsQueries.PathLen): Dataset[PathOut] = {
    import spark.implicits._
    // day boundaries follow the SESSION timezone (same rule as the batch
    // twin, EventsQueries.epochDay); capture the zone at plan time so the
    // timeout below closes a day at ITS midnight, not UTC's — under a
    // non-UTC session a UTC-fixed (day+1)*86400000 would fire hours early,
    // truncating paths and double-emitting keys
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"),
        graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
        col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[PathEv]
      .groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[Vector[(Long, Long, String)], PathOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, day), it: Iterator[PathEv], state: GroupState[Vector[(Long, Long, String)]]) =>
          if (state.hasTimedOut) {
            val prefix = state.get
            state.remove()
            Iterator.single(PathOut(user, day, prefix.map(_._3).mkString(">")))
          } else {
            val merged =
              (state.getOption.getOrElse(Vector.empty) ++
                it.map(e => (e.ts_us, e.event_id, e.event_type)))
                .sortBy(t => (t._1, t._2))
                .take(pathLen)
            state.update(merged)
            // fire when the watermark passes the day boundary (in the
            // session zone); the max() guard keeps the timestamp legal if
            // this batch's events are already behind the current watermark
            val dayEndMs = java.time.LocalDate.ofEpochDay(day + 1)
              .atStartOfDay(zone).toInstant.toEpochMilli
            state.setTimeoutTimestamp(
              math.max(dayEndMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Native streaming session_window aggregation — e11's STREAMING twin
    * through Spark's dedicated session plan path (UpdatingSessionsExec +
    * state-store session merge), not the custom flatMapGroupsWithState
    * sessionizer ([[sessionize]]/es03). Append mode emits a merged
    * session once the watermark passes its end (`end = last ts + gap`,
    * the `>=`-boundary contract e11's oracle states). The two streaming
    * sessionizers deliberately coexist: this one is the engine-native
    * operator a production job should reach for first; the custom one
    * exists for semantics session_window can't express (e03's `>` rule,
    * per-session ids).
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))

  case class QuotaOut(user_id: Long, day: Long, n_seen: Long, n_kept: Long, n_suppressed: Long)

  /** The es17 quota constant — small enough that real suppression occurs
    * at every test SF.
    */
  val QuotaPerDay = 5L

  /** Per-(user, day) ingest quota — the firehose throttle a 100 TB event
    * pipeline runs at the front door: each user-day may contribute at
    * most `quota` events downstream; the rest are counted as suppressed.
    * One accounting row emits per closed (user, day).
    *
    * State per open key is ONE counter (order doesn't matter for a
    * count, so unlike [[dailyPaths]] no prefix buffer is needed — the
    * cheapest possible stateful operator); the row emits exactly once
    * via the same session-zone end-of-day event-time timeout dailyPaths
    * uses, and closed days hold zero state.
    */
  def dailyQuota(spark: SparkSession, events: DataFrame,
                 quota: Long = QuotaPerDay,
                 delay: String = "0 seconds"): Dataset[QuotaOut] = {
    import spark.implicits._
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    events
      .withWatermark("ts", delay)
      .select(col("user_id"),
        graft.queries.EventsQueries.epochDay(col("ts")).as("day"),
        col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[PathEv]
      .groupByKey(e => (e.user_id, e.day))
      .flatMapGroupsWithState[Long, QuotaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((user, day), it: Iterator[PathEv], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.get
            state.remove()
            Iterator.single(QuotaOut(user, day, n,
              math.min(n, quota), math.max(n - quota, 0L)))
          } else {
            val n = state.getOption.getOrElse(0L) + it.size
            state.update(n)
            val dayEndMs = java.time.LocalDate.ofEpochDay(day + 1)
              .atStartOfDay(zone).toInstant.toEpochMilli
            state.setTimeoutTimestamp(
              math.max(dayEndMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}
