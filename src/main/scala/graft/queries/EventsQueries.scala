package graft.queries

import graft.core.Num
import graft.core.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream-shaped queries over the `events` table, processed batch-
  * style (the reference is strictly batch — SURVEY.md §2.5). The same
  * tumbling-window aggregation is also implemented as a genuine Structured
  * Streaming job in [[graft.streaming.EventStream]]; e02 is its
  * batch-equivalent gold result.
  *
  * Timestamps are emitted as epoch microseconds (BIGINT) for cross-engine
  * hash safety (DETERMINISM.md rule 6).
  */
object EventsQueries extends QueryModule {

  /** Semi-structured extraction: JSON props -> typed column -> agg.
    * Spark's get_json_object is a codegen'd path expression, no UDF.
    */
  private def e01(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  private val e01Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** Tumbling 1-hour window aggregation — the batch gold result for the
    * Structured Streaming path. Spark's window() aligns to the epoch, so
    * 1-hour tumbling buckets == date_trunc('hour').
    */
  private def e02(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Num.dsum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  private val e02Sql =
    """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Sliding 1-hour window, 30-minute slide — every event lands in
    * exactly two windows. Spark aligns sliding windows to the epoch, so
    * the window starts are the 30-minute grid points (k-d)*30min for
    * d in {0,1}, which is how the oracle regenerates them. Streaming twin:
    * [[graft.streaming.EventStream.slidingAgg]].
    */
  private def e06(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        Num.dsum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("w.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  private val e06Sql =
    """SELECT CAST((k - d) * 1800000000 AS BIGINT) AS bucket_us, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT epoch_us(ts) // 1800000000 AS k, event_type, value FROM events)
      |CROSS JOIN (SELECT unnest([0, 1]) AS d)
      |GROUP BY 1, 2""".stripMargin

  /** Sessionization: a >30-minute gap starts a new session. Classic
    * lag + running-sum-of-boundaries pattern; at 100 TB this is one
    * shuffle on user_id and the window work is per-partition sequential.
    */
  private def e03(s: SparkSession, dir: String): DataFrame = sessions(events(s, dir))

  /** e03's body over any events frame: one (user_id, session_id,
    * n_events, start_us, end_us) row per session. The batch reference
    * the streaming sessionize twin is checked against.
    */
  private[graft] def sessions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = lit(30L * 60 * 1000 * 1000)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
  }

  private val e03Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ts_us,
      |    CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM t)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts_us) AS start_us, max(ts_us) AS end_us
      |FROM s
      |GROUP BY user_id, session_id""".stripMargin

  /** As-of lookup (event-time join within a key): for every event, the most
    * recent signup event id by the same user at-or-before it. Composes
    * last_value(ignore nulls) over an ordered window — the (a)-tier
    * strategy for as-of semantics (compose built-ins) per the brief.
    */
  private def e04(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("last_signup_id",
        last(when(col("event_type") === "signup", col("event_id")), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("last_signup_id"))
  }

  private val e04Sql =
    """SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_id
      |FROM events""".stripMargin

  /** e05: interval self-join — per event, how many other events the same
    * user produced within ±5 minutes. Joining on user_id alone is
    * per-user quadratic (a power user with k lifetime events fans out k²
    * pairs before the time filter); instead both sides bucket time into
    * window-sized cells and join on (user_id, bucket), the probe side
    * exploded to its bucket ± 1. |tb - ta| <= win implies the bucket
    * distance is <= 1, so every qualifying pair meets in exactly one
    * (probe-bucket, build-bucket) cell — no dedup needed — and fanout is
    * bounded by local 5-minute density, not user lifetime.
    */
  private[graft] def intervalJoinCandidates(e: DataFrame, winUs: Long): DataFrame = {
    val a = e.select(col("user_id"), col("event_id").as("eid"), col("ts_us").as("ta"),
        // integer div: ts_us is nonnegative epoch micros, so div == floor
        explode(array(Seq(-1L, 0L, 1L).map(d => expr(s"ts_us div $winUs") + d): _*)).as("bkt"))
    val b = e.select(col("user_id"), col("event_id").as("oid"), col("ts_us").as("tb"),
      expr(s"ts_us div $winUs").as("bkt"))
    a.join(b, Seq("user_id", "bkt"), "inner")
  }

  /** The ±5-minute interval-join match radius, in micros — ONE constant
    * shared by batch e05, its oracle, and the streaming twins' bucketed
    * equi-key ([[graft.streaming.EventStream]]): the
    * radius-equals-bucket-width invariant that makes the ±1-bucket
    * explode complete must not drift between the twins.
    */
  private[graft] val IntervalWinUs = 5L * 60 * 1000 * 1000

  private def e05(s: SparkSession, dir: String): DataFrame = {
    val winUs = IntervalWinUs
    val e = events(s, dir).select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    intervalJoinCandidates(e, winUs)
      .filter(col("eid") =!= col("oid") &&
        col("tb") >= col("ta") - winUs && col("tb") <= col("ta") + winUs)
      .groupBy(col("user_id"), col("eid"))
      .agg(count(lit(1)).as("n_nearby"))
  }

  private val e05Sql =
    """SELECT a.user_id, a.event_id AS eid, count(*) AS n_nearby
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
      | AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 300000000 AND epoch_us(a.ts) + 300000000
      |GROUP BY a.user_id, a.event_id""".stripMargin

  /** e07: retention cohorts — users grouped by first-seen date, distinct
    * active users per (cohort, day offset). The classic product-analytics
    * rollup: one shuffle for the per-user minimum, a join back on
    * user_id (broadcastable when the user dimension is small relative to
    * events, shuffle otherwise — planner's call), one final aggregation.
    * Dates are emitted as epoch-day ints (DETERMINISM.md rule 6).
    */
  private def e07(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    e.join(first, "user_id")
      .groupBy(
        datediff(col("cohort"), lit("1970-01-01").cast("date")).cast("long").as("cohort_day"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private val e07Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
      |SELECT CAST(f.cohort - DATE '1970-01-01' AS BIGINT) AS cohort_day,
      |  CAST(e.d - f.cohort AS BIGINT) AS day_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** e08: ordered-sequence funnel — per user, the first view, the first
    * click AT OR AFTER that view, and the first purchase at or after that
    * click (behavioral funnel analysis). Three sequential conditional
    * mins over the SAME user partition: one shuffle, three WindowExec
    * nodes, and the final per-user aggregate reuses the partitioning —
    * never a self-join per stage.
    */
  private def e08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("fv", min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("fc", min(when(col("event_type") === "click" && col("ts_us") >= col("fv"),
        col("ts_us"))).over(w))
      .withColumn("fp", min(when(col("event_type") === "purchase" && col("ts_us") >= col("fc"),
        col("ts_us"))).over(w))
      .groupBy(col("user_id"))
      .agg(
        min(col("fv")).as("first_view_us"),
        min(col("fc")).as("first_click_us"),
        min(col("fp")).as("first_purchase_us"))
  }

  private val e08Sql =
    """SELECT user_id, min(fv) AS first_view_us, min(fc) AS first_click_us,
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
      |      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
      |        min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
      |          OVER (PARTITION BY user_id) AS fv
      |      FROM events)))
      |GROUP BY user_id""".stripMargin

  /** e09: event transition matrix — per-user next-event bigram counts
    * (the Markov-chain view of behavior). One partitioned window (full
    * deterministic tiebreak on (ts, event_id)) + one hash aggregate.
    */
  private def e09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("nxt").as("dst_type"))
      .agg(count(lit(1)).as("n"))
  }

  private val e09Sql =
    """SELECT event_type AS src_type, nxt AS dst_type, count(*) AS n
      |FROM (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events)
      |WHERE nxt IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** e10: top user-journey paths — per (user, day), the first 5 event
    * types in time order joined into a path string, then the corpus-wide
    * path frequency top-25 (the "what do sessions look like" rollup).
    * Ordering inside a group rides on the row_number computed in the
    * (user_id, day)-partitioned window; the path string is assembled by
    * sorting the collected (rn, type) structs — deterministic under
    * partition order and retries, unlike a bare collect_list. One
    * shuffle on (user_id, day), one on path, then TakeOrderedAndProject.
    */
  private[graft] val PathLen = 5
  private val TopPaths = 25

  /** Session-timezone epoch-day of an event timestamp — THE day rule,
    * shared by e10's batch stage and the streaming twin (EventStream
    * .dailyPaths) so the two can never drift apart.
    */
  private[graft] def epochDay(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    datediff(to_date(ts), lit("1970-01-01").cast("date")).cast("long")

  /** The per-(user, day) path stage of e10 over an events frame —
    * exposed so the streaming twin's spec can compare its watermark-
    * finalized paths against this batch formula key by key.
    */
  private[graft] def userDayPaths(ev: DataFrame): DataFrame = {
    val day = epochDay(col("ts"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_us"), col("event_id"))
    ev
      .select(col("user_id"), day.as("day"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen)
      .groupBy(col("user_id"), col("day"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type").as("et")))),
          x => x.getField("et")), ">").as("path"))
  }

  private def e10(s: SparkSession, dir: String): DataFrame =
    userDayPaths(events(s, dir))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy(col("n_user_days").desc, col("path"))
      .limit(TopPaths)

  private val e10Sql =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day, event_type,
       |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |                       ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |paths AS (
       |  SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM ev WHERE rn <= $PathLen GROUP BY 1, 2)
       |SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
       |FROM paths GROUP BY 1 ORDER BY n_user_days DESC, path LIMIT $TopPaths""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("e01_json_extract", e01, Some(e01Sql)),
    QueryDef("e08_funnel", e08, Some(e08Sql)),
    QueryDef("e09_transitions", e09, Some(e09Sql)),
    QueryDef("e02_tumbling_window", e02, Some(e02Sql)),
    QueryDef("e03_sessionize", e03, Some(e03Sql)),
    QueryDef("e06_sliding_window", e06, Some(e06Sql)),
    QueryDef("e07_retention_cohorts", e07, Some(e07Sql)),
    QueryDef("e04_asof_last_signup", e04, Some(e04Sql)),
    QueryDef("e05_interval_join", e05, Some(e05Sql)),
    QueryDef("e10_top_paths", e10, Some(e10Sql)),
    QueryDef("e11_session_window", e11, Some(e11Sql)),
    QueryDef("e12_gap_profile", e12, Some(e12Sql)),
    QueryDef("e13_run_lengths", e13, Some(e13Sql)),
    QueryDef("e14_conversion_lag", e14, Some(e14Sql)),
    QueryDef("e15_dau_wau", e15, Some(e15Sql)),
    QueryDef("e16_anomaly_mad", e16, Some(e16Sql)),
    QueryDef("e17_gap_fill", e17, Some(e17Sql)),
    QueryDef("e18_attribution", e18, Some(e18Sql)),
    QueryDef("e19_cooccurrence", e19, Some(e19Sql)),
    QueryDef("e20_activity_histogram", e20, Some(e20Sql)),
    QueryDef("e21_seasonality", e21, Some(e21Sql)),
    QueryDef("e22_bot_cohorts", e22, Some(e22Sql)),
    QueryDef("e23_session_conversion", e23, Some(e23Sql)),
    QueryDef("e24_recency_score", e24, Some(e24Sql)),
  )

  /** e12: inter-event gap profile — the think-time/arrival-rate
    * distribution per event type: for every event with a same-user
    * predecessor, the gap to it in µs, aggregated per the CURRENT
    * event's type. The input side of watermark-delay sizing (es*) and
    * session-gap tuning (e03/e11): you pick 30 minutes BECAUSE of this
    * table. Gaps are exact integer µs; the sum aggregates in
    * DECIMAL(38,0) (a 100 TB corpus's µs-gap sum overflows a long);
    * the mean is one division of exact ints (the q39 2^53 magnitude
    * note applies to the double cast).
    *
    * Scale shape: one user_id exchange feeds the lag window; the type
    * rollup is a second tiny aggregate with map-side combine.
    */
  private def e12(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        (sum(col("gap_us").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / count(lit(1))).as("mean_gap_us"))
  }

  private val e12Sql =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
      |  CAST(sum(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS mean_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** e13: run-length profile — consecutive same-type events per user
    * (the stuck-sensor / repeated-fire data-quality signal): a run is a
    * maximal streak of one event_type in a user's (ts, event_id) order;
    * per type, the run count, longest run, and how many runs reach the
    * ≥5 "stuck" threshold. The e03 boundary trick (running sum over
    * is-new markers) applied to type CHANGES instead of time gaps, so
    * both window passes ride ONE user_id exchange.
    */
  private def e13(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("is_new",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("run_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_runs"),
        max(col("run_len")).as("max_run_len"),
        sum(when(col("run_len") >= 5, 1L).otherwise(0L)).as("n_stuck"))
  }

  private val e13Sql =
    """WITH m AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(event_type) OVER (
      |           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_type,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM m),
      |runs AS (
      |  SELECT user_id, run_id, event_type, count(*) AS run_len
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT event_type, count(*) AS n_runs,
      |  max(run_len) AS max_run_len,
      |  CAST(sum(CASE WHEN run_len >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_stuck
      |FROM runs GROUP BY 1""".stripMargin

  /** e11: Spark's NATIVE session_window aggregation — gap-merged
    * per-user sessions through the dedicated SessionWindow plan path
    * (UpdatingSessionsExec / MergingSessionsExec), not e03's
    * lag+running-sum formulation. Semantics differ from e03 at the exact
    * boundary: a session window is `[ts, ts+gap)` and merges only on
    * OVERLAP, so a successor event arriving exactly `gap` later starts a
    * NEW session (`>=` rule), where e03's `>` rule keeps it — the oracle
    * states the `>=` rule, documenting the boundary contract instead of
    * papering over it. Window end is `last ts + gap` (not last ts),
    * mirrored as `max(ts_us) + gap`.
    *
    * Scale shape: one hash exchange on user_id, then per-partition sort
    * + linear session merge — the same single-shuffle budget as e03,
    * with the merge logic in the engine rather than in window functions.
    */
  private def e11(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))

  private val e11Sql =
    """WITH ev AS (
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
      |  FROM marked)
      |SELECT user_id, min(ts_us) AS start_us,
      |  max(ts_us) + 1800000000 AS end_us,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** e14: view→purchase conversion-lag histogram — per user, the time
    * from FIRST `view` to FIRST `purchase` (users who purchase at or
    * after their first view), bucketed to whole hours. The
    * time-to-conversion distribution funnels (e08) don't show: how LONG
    * the funnel takes, the signal behind attribution windows and the
    * es04 as-of join's staleness bound.
    *
    * Determinism: both firsts are exact integer-µs `min`s; the bucket is
    * integer division of non-negative longs (`DIV` truncation ==
    * DuckDB `//` floor on non-negatives). No doubles anywhere.
    *
    * Scale shape: one user_id hash aggregate (map-side combine on the
    * two conditional mins) then a tiny histogram aggregate — the
    * filter on the two event types is pushed into the scan.
    */
  private def e14(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts")))).as("fv"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("fb"))
      .filter(col("fv").isNotNull && col("fb").isNotNull && col("fb") >= col("fv"))
      .select(expr("(fb - fv) DIV 3600000000").as("lag_hours"))
      .groupBy(col("lag_hours"))
      .agg(count(lit(1)).as("n_users"))

  private val e14Sql =
    """WITH f AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS fv,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS fb
      |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1)
      |SELECT (fb - fv) // 3600000000 AS lag_hours, count(*) AS n_users
      |FROM f
      |WHERE fv IS NOT NULL AND fb IS NOT NULL AND fb >= fv
      |GROUP BY 1""".stripMargin

  /** e15: DAU / WAU / stickiness — daily active users, 7-day rolling
    * distinct actives ending each day, and their ratio (the engagement
    * metric every product dashboard carries). Rolling DISTINCT over a
    * time range is not window-expressible (distinct doesn't decompose),
    * so the plan pre-reduces to distinct (day, user) pairs — the
    * cardinality-collapsing step — then fans each pair out to the ≤7
    * window-end days it supports via a range join against the DAY LIST,
    * which is calendar-bounded (≤ a few thousand rows at ANY corpus
    * scale) and broadcast. Fan-out is exactly 7×pairs rows into a
    * count-distinct aggregate: linear, no corpus-side nested loop.
    *
    * Determinism: counts are exact; stickiness is one long/long IEEE
    * double division.
    */
  private def e15(s: SparkSession, dir: String): DataFrame = {
    val du = events(s, dir)
      .select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = du.select(col("day").as("d")).distinct()
    val wau = du
      .join(broadcast(days), col("day") >= col("d") - 6 && col("day") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
  }

  private val e15Sql =
    """WITH du AS (
      |  SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day, user_id
      |  FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      |days AS (SELECT DISTINCT day AS d FROM du),
      |wau AS (
      |  SELECT d, count(DISTINCT user_id) AS wau
      |  FROM du JOIN days ON du.day BETWEEN days.d - 6 AND days.d
      |  GROUP BY 1)
      |SELECT day, dau, wau, CAST(dau AS DOUBLE) / wau AS stickiness
      |FROM dau JOIN wau ON day = d""".stripMargin

  /** e16: robust anomaly days — per event type, flag days whose event
    * count deviates from the type's median by more than 3× the median
    * absolute deviation (the MAD rule — the robust outlier test that,
    * unlike z-scores, one broken day can't drag). The pipeline-health
    * alarm over ingest volume: a scraper outage or a duplicate replay
    * shows up as a flagged day.
    *
    * Both medians use the discrete rule (value at rank ceil(n/2) in
    * (value, day) order), so EVERYTHING here is integer arithmetic —
    * counts, deviations, the 3×MAD comparison — and the result is
    * bit-free deterministic on both engines with no float anywhere.
    *
    * Scale shape: one (type, day) hash aggregate over the corpus, then
    * all three window passes and both joins live on the tiny per-type
    * day table (|types|·|days| rows — calendar-bounded); the median
    * frames broadcast by size.
    */
  private def e16(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("event_type"), epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    def discMedian(in: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(valueCol), col("day"))
      val g = Window.partitionBy(col("event_type"))
      in.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(g))
        .filter(col("rn") === ceil(col("cnt") * 0.5))
        .select(col("event_type"), col(valueCol).as(outCol))
    }
    val med = discMedian(counts, "n", "med_n")
    val withDev = counts.join(med, "event_type")
      .withColumn("dev", abs(col("n") - col("med_n")))
    val mad = discMedian(withDev.select(col("event_type"), col("day"), col("dev")),
      "dev", "mad_n")
    withDev.join(mad, "event_type")
      .select(col("event_type"), col("day"), col("n"), col("med_n"), col("mad_n"),
        when(col("dev") > lit(3L) * col("mad_n"), 1L).otherwise(0L).as("anomaly"))
  }

  private val e16Sql =
    """WITH c AS (
      |  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |medr AS (
      |  SELECT event_type, n AS med_n FROM (
      |    SELECT event_type, day, n,
      |      CAST(row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS BIGINT) AS rn,
      |      count(*) OVER (PARTITION BY event_type) AS cnt
      |    FROM c)
      |  WHERE rn = CAST(ceil(cnt * 0.5) AS BIGINT)),
      |dev AS (
      |  SELECT c.event_type, c.day, c.n, m.med_n, abs(c.n - m.med_n) AS dev
      |  FROM c JOIN medr m USING (event_type)),
      |madr AS (
      |  SELECT event_type, dev AS mad_n FROM (
      |    SELECT event_type, day, dev,
      |      CAST(row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS BIGINT) AS rn,
      |      count(*) OVER (PARTITION BY event_type) AS cnt
      |    FROM dev)
      |  WHERE rn = CAST(ceil(cnt * 0.5) AS BIGINT))
      |SELECT d.event_type, d.day, d.n, d.med_n, md.mad_n,
      |  CAST(CASE WHEN d.dev > 3 * md.mad_n THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM dev d JOIN madr md USING (event_type)""".stripMargin

  /** e17: time-series gap fill — densify the per-type daily count series
    * onto the full corpus calendar spine (every (type, day) pair from
    * global min to max day), zero-filling missing days and carrying the
    * last OBSERVED count forward (LOCF). The regularization step
    * between raw event counts and anything window-shaped downstream
    * (e16's MAD, dashboards, forecasting): rolling statistics over a
    * series with holes silently skew without it.
    *
    * Scale shape: the corpus contributes ONE (type, day) aggregate; the
    * spine is |types| × |days| — calendar-bounded at any corpus size —
    * built from a broadcast 1-row bounds frame, and the fill join, LOCF
    * window, and output all live on that bounded spine.
    */
  private def e17(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("event_type"), epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = counts.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val types = counts.select(col("event_type")).distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        when(col("cnt").isNotNull, 1L).otherwise(0L).as("observed"),
        coalesce(last(col("cnt"), ignoreNulls = true).over(w), lit(0L)).as("locf"))
  }

  private val e17Sql =
    """WITH c AS (
      |  SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM c),
      |ty AS (SELECT DISTINCT event_type FROM c),
      |spine AS (
      |  SELECT ty.event_type, gs.day
      |  FROM ty CROSS JOIN b,
      |    LATERAL (SELECT unnest(generate_series(b.lo, b.hi)) AS day) gs),
      |f AS (
      |  SELECT s.event_type, s.day, c.cnt
      |  FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.day = c.day)
      |SELECT event_type, day,
      |  CAST(coalesce(cnt, 0) AS BIGINT) AS n,
      |  CAST(CASE WHEN cnt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
      |  CAST(coalesce(last_value(cnt IGNORE NULLS) OVER (
      |    PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS locf
      |FROM f""".stripMargin

  /** Attribution lookback window: a touch older than 7 days before the
    * conversion gets no credit.
    */
  private val AttributionWindowUs = 7L * 86400L * 1000000L

  /** e18: last-touch attribution — credit each purchase to the user's
    * most recent click/view STRICTLY before it (ties broken by
    * event_id), if that touch is within a 7-day lookback; otherwise the
    * purchase is organic. The marketing-analytics workhorse that is
    * neither a plain as-of join (e04 — one build row per probe key) nor
    * a funnel (e08 — existence, not credit): here every conversion ROW
    * resolves its own point-in-time predecessor from the SAME stream.
    *
    * One pass: a per-user window ordered by (ts, event_id) with an
    * UNBOUNDED..1 PRECEDING frame and last(_, ignoreNulls) over columns
    * that are null on non-touch rows — no self-join, no per-row probe.
    * Scale shape: ONE hash(user_id) exchange for the window, then a
    * 3-group aggregate; lag sums are integer µs, value sums exact
    * decimal, so the result is bit-free deterministic.
    */
  private def e18(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      col("user_id"), col("event_type"), col("event_id"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("click", "view")
    ev
      .withColumn("lt_ts", last(when(isTouch, col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("lt_ty", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attribution",
        when(col("lt_ts").isNotNull &&
          col("ts_us") - col("lt_ts") <= lit(AttributionWindowUs), col("lt_ty"))
          .otherwise(lit("organic")))
      .groupBy(col("attribution"))
      .agg(
        count(lit(1)).as("n_purchases"),
        Num.dsum(col("value")).as("sum_value"),
        sum(when(col("attribution") =!= "organic", col("ts_us") - col("lt_ts"))
          .otherwise(lit(0L))).as("sum_lag_us"))
  }

  private val e18Sql =
    """WITH ev AS (
      |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us
      |  FROM events),
      |lt AS (
      |  SELECT user_id, event_type, ts_us, value,
      |    last_value(CASE WHEN event_type IN ('click','view') THEN ts_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts,
      |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ty
      |  FROM ev),
      |p AS (
      |  SELECT CASE WHEN lt_ts IS NOT NULL AND ts_us - lt_ts <= 604800000000
      |              THEN lt_ty ELSE 'organic' END AS attribution,
      |    value, ts_us, lt_ts
      |  FROM lt WHERE event_type = 'purchase')
      |SELECT attribution, count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  CAST(sum(CASE WHEN attribution <> 'organic' THEN ts_us - lt_ts ELSE 0 END)
      |    AS BIGINT) AS sum_lag_us
      |FROM p GROUP BY 1""".stripMargin

  /** e19: event-type co-occurrence — for every unordered type pair
    * (a < b), in how many distinct (user, day) cells do BOTH occur, and
    * the lift of that co-occurrence vs independence (scaled to ppm,
    * integer floor-division so both engines compute identical bits).
    * The feature-correlation matrix behind "users who err also churn"
    * dashboards.
    *
    * Scale shape: the corpus collapses to distinct (user, day, type)
    * FIRST (one exchange; ≤ |types| rows per cell), and the pair stage
    * self-joins on the (user, day) cell key — per-cell fanout is
    * bounded by |types|² (25 here), so pair work is linear in cells,
    * never all-pairs in events. Lift arithmetic fits BIGINT while
    * n_ab·n_days·10⁶ < 2⁶³ (n_days ≲ 3·10⁶ cells); past that a
    * production run widens to DECIMAL(38,0) — documented, not silent.
    */
  private def e19(s: SparkSession, dir: String): DataFrame = {
    // NOT persisted, deliberately: ud feeds four subtrees (perType, the
    // cells count, both self-join sides) but they canonicalize to the
    // SAME scan+distinct exchange, which ReuseExchange dedups — measured
    // at sf0.1: unpersisted 0.6 s warm vs persisted 1.2 s (the cache
    // write costs more than the reuse saves at this shape)
    val ud = events(s, dir)
      .select(col("user_id"), epochDay(col("ts")).as("day"), col("event_type"))
      .distinct()
    val perType = ud.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val cells = ud.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_days"))
    val pairs = ud.as("a")
      .join(ud.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(perType.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n_t", "n_a"), "type_a")
      .join(perType.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n_t", "n_b"), "type_b")
      .crossJoin(broadcast(cells))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_days"),
        expr("n_ab * 1000000 * n_days DIV (n_a * n_b)").as("lift_ppm"))
  }

  private val e19Sql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day, event_type
      |  FROM events),
      |tot AS (SELECT count(*) AS n_days FROM (SELECT DISTINCT user_id, day FROM ud)),
      |n AS (SELECT event_type, count(*) AS n_t FROM ud GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      |  FROM ud a JOIN ud b
      |    ON a.user_id = b.user_id AND a.day = b.day
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, p.n_ab, na.n_t AS n_a, nb.n_t AS n_b, tot.n_days,
      |  p.n_ab * 1000000 * tot.n_days // (na.n_t * nb.n_t) AS lift_ppm
      |FROM p
      |JOIN n na ON na.event_type = p.type_a
      |JOIN n nb ON nb.event_type = p.type_b, tot""".stripMargin

  /** e24: recency-weighted activity ranking — the top-20 most-engaged
    * users under exponential decay, with the decay kept EXACT: an event
    * aged d days contributes weight 1e6 >> d (integer halving per day —
    * the geometric 2^−d kernel with no libm pow, no float accumulation,
    * identical bits in both engines; ages ≥ 20 days shift to 0, the
    * honest cutoff of ppm resolution). The engagement leaderboard a
    * ranking/retention system maintains — e15 counts WHO was active,
    * this weights HOW RECENTLY — and the integer-decay trick is the
    * general recipe for any half-life score under DETERMINISM.md.
    *
    * Scale shape: age is row-local integer µs arithmetic against a
    * 1-row aggregate-capped max-day broadcast; ONE user aggregate with
    * map-side combine; top-20 via distributed TakeOrderedAndProject
    * (never a global sort).
    */
  private def e24(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("unix_micros(ts) DIV 86400000000").as("day"))
    val mx = e.groupBy().agg(max(col("day")).as("mxd"))
    e.crossJoin(broadcast(mx))
      .select(col("user_id"),
        expr("shiftright(1000000L, cast(least(mxd - day, 62L) as int))").as("w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)
  }

  private val e24Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |mx AS (SELECT max(day) AS mxd FROM e)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(1000000 >> CAST(least(mx.mxd - e.day, 62) AS INTEGER)) AS BIGINT) AS score
      |FROM e CROSS JOIN mx
      |GROUP BY 1
      |ORDER BY score DESC, user_id
      |LIMIT 20""".stripMargin

  /** e23: session-level conversion report — e03's sessionization (same
    * 30-minute gap rule, same lag + running-sum plan) composed with an
    * in-session view→purchase funnel, rolled up by session LENGTH
    * bucket (bit-length of the event count — the t13 integer-log2
    * idiom): per bucket, sessions, converted sessions (a purchase at or
    * after the session's first view), and exact-integer conversion ppm.
    * The "do longer sessions convert" table — e08 measures the funnel
    * across a user's whole history; this measures it within the
    * session boundary e03 defines, which is what a UX/attribution
    * review actually reads.
    *
    * Scale shape: the session-id windows, the per-session first-view
    * window, and the (user, session) aggregate ALL ride the one
    * hash(user_id) exchange (subset clustering); the bucket rollup is a
    * ≤64-row aggregate. Determinism: all integer µs mins/flags, ppm by
    * integer division.
    */
  private def e23(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = lit(30L * 60 * 1000 * 1000)
    val sess = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy(col("user_id"), col("session_id"))
    val perSession = sess
      .withColumn("fv",
        min(when(col("event_type") === "view", col("ts_us"))).over(bySession))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase" && col("ts_us") >= col("fv"), 1L)
          .otherwise(0L)).as("converted"))
    perSession
      .select(length(bin(col("n_events"))).cast("long").as("len_bucket"),
        col("converted"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .select(col("len_bucket"), col("n_sessions"), col("n_converted"),
        expr("n_converted * 1000000 DIV n_sessions").as("conversion_ppm"))
  }

  private val e23Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |se AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM t),
      |fv AS (
      |  SELECT user_id, event_id, event_type, ts_us, session_id,
      |    min(CASE WHEN event_type = 'view' THEN ts_us END)
      |      OVER (PARTITION BY user_id, session_id) AS fv
      |  FROM se),
      |ps AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |    max(CASE WHEN event_type = 'purchase' AND ts_us >= fv THEN 1 ELSE 0 END) AS converted
      |  FROM fv GROUP BY 1, 2)
      |SELECT CAST(length(bin(n_events)) AS BIGINT) AS len_bucket,
      |  count(*) AS n_sessions,
      |  CAST(sum(converted) AS BIGINT) AS n_converted,
      |  CAST(sum(converted) AS BIGINT) * 1000000 // count(*) AS conversion_ppm
      |FROM ps GROUP BY 1""".stripMargin

  /** e22: bot-cohort audit — classify every user by two behavioral
    * signals and report the cohort rollup: `heavy` (sustained rate —
    * events per active day above 2.5), `rapid` (any sub-5-minute
    * inter-event gap), `bot_like` (both), `normal` (neither). The
    * pre-training event-log hygiene step: bot traffic inflates
    * engagement labels and near-duplicates sessions, so pipelines
    * quarantine these cohorts before e08/e10 are trusted. Thresholds
    * are tuning parameters; the SHAPE (per-user features → row-local
    * classification → tiny rollup) is the operator.
    *
    * Determinism: the rate test is the cross-multiplied integer
    * comparison 2·n_events > 5·active_days (no division anywhere); gaps
    * are exact integer µs; a single-event user has NULL min-gap, which
    * falls through CASE/when identically in both engines into the
    * non-rapid branch.
    *
    * Scale shape: the lag window and the per-user aggregate (count +
    * ONE distinct day count — the single-distinct plan, no Expand)
    * share one hash(user_id) exchange; the cohort rollup is a ≤4-row
    * aggregate with a 1-row totals broadcast for shares.
    */
  private def e22(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val perUser = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("day", expr("ts_us DIV 86400000000"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("active_days"),
        min(col("gap_us")).as("min_gap_us"))
    val classed = perUser.select(col("n_events"),
      when(lit(2) * col("n_events") > lit(5) * col("active_days"),
        when(col("min_gap_us") < 300000000L, lit("bot_like")).otherwise(lit("heavy")))
        .otherwise(
          when(col("min_gap_us") < 300000000L, lit("rapid")).otherwise(lit("normal")))
        .as("cohort"))
    val cells = classed.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
    val tot = cells.groupBy().agg(sum(col("n_events")).as("te"))
    cells.crossJoin(broadcast(tot))
      .select(col("cohort"), col("n_users"), col("n_events"),
        (col("n_events").cast("double") / col("te").cast("double")).as("event_share"))
  }

  private val e22Sql =
    """WITH g AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events),
      |u AS (
      |  SELECT user_id, count(*) AS n_events,
      |    count(DISTINCT day) AS active_days, min(gap_us) AS min_gap_us
      |  FROM g GROUP BY 1),
      |c AS (
      |  SELECT n_events,
      |    CASE WHEN 2 * n_events > 5 * active_days
      |         THEN (CASE WHEN min_gap_us < 300000000 THEN 'bot_like' ELSE 'heavy' END)
      |         ELSE (CASE WHEN min_gap_us < 300000000 THEN 'rapid' ELSE 'normal' END)
      |    END AS cohort
      |  FROM u),
      |cells AS (
      |  SELECT cohort, count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events
      |  FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS te FROM cells)
      |SELECT cells.cohort, cells.n_users, cells.n_events,
      |  CAST(cells.n_events AS DOUBLE) / CAST(t.te AS DOUBLE) AS event_share
      |FROM cells CROSS JOIN t""".stripMargin

  /** e21: seasonality profile — the (day-of-week × hour-of-day ×
    * event-type) load matrix with per-cell corpus share: the traffic
    * shape behind watermark-delay sizing (quiet hours stretch event-time
    * progress), autoscaling schedules, and anomaly baselines (e16 flags
    * days; this is the within-week rhythm those days deviate from).
    *
    * Determinism: dow/hour come from pure integer µs arithmetic on the
    * UTC epoch — day 0 (1970-01-01) was a Thursday, so
    * dow = (epoch_day + 4) % 7 gives 0=Sunday; no calendar library, no
    * timezone branch, bit-identical in both engines. Shares are one
    * int/int IEEE division under a 1-row aggregate-capped broadcast.
    *
    * Scale shape: row-local bucket extraction in codegen, ONE
    * ≤7·24·|types| hash aggregate with map-side combine.
    */
  private def e21(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir).select(
      expr("((unix_micros(ts) DIV 86400000000) + 4) % 7").as("dow"),
      expr("(unix_micros(ts) DIV 3600000000) % 24").as("hour"),
      col("event_type"))
      .groupBy(col("dow"), col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.groupBy().agg(sum(col("n_events")).as("te"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("event_type"), col("n_events"),
        (col("n_events").cast("double") / col("te").cast("double")).as("share"))
  }

  private val e21Sql =
    """WITH c AS (
      |  SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour, event_type,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3),
      |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS te FROM c)
      |SELECT c.dow, c.hour, c.event_type, c.n_events,
      |  CAST(c.n_events AS DOUBLE) / CAST(t.te AS DOUBLE) AS share
      |FROM c CROSS JOIN t""".stripMargin

  /** e20: user-activity concentration histogram — users bucketed by the
    * binary order of magnitude of their event count (bucket = bitlen(n),
    * so bucket b covers [2^(b−1), 2^b − 1]), with per-bucket user and
    * event totals and their corpus shares. The log2 histogram IS the
    * Pareto/power-law report behind p16's per-key skew: read the top
    * buckets' event_share to see what fraction of the log the heaviest
    * users generate (bot-detection and per-user-cap sizing input).
    *
    * Determinism: buckets are exact integer bit-lengths (the t13
    * `length(bin(x))` idiom — no libm log); bounds are 1-bit shifts;
    * shares are one int/int IEEE division each, token-for-token
    * mirrored.
    *
    * Scale shape: one user_id hash aggregate (map-side combined), a
    * row-local bucket map, a ≤64-row bucket aggregate, and a 1-row
    * aggregate-capped totals broadcast. Nothing scales with the event
    * count but the first exchange.
    */
  private def e20(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val buckets = perUser
      .select(length(bin(col("n"))).cast("long").as("bucket"), col("n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
    val tot = buckets.groupBy().agg(
      sum(col("n_users")).as("tu"), sum(col("n_events")).as("te"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr("shiftleft(1L, cast(bucket - 1 as int))").as("lo"),
        expr("shiftleft(1L, cast(bucket as int)) - 1L").as("hi"),
        col("n_users"), col("n_events"),
        (col("n_users").cast("double") / col("tu").cast("double")).as("user_share"),
        (col("n_events").cast("double") / col("te").cast("double")).as("event_share"))
  }

  private val e20Sql =
    """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |b AS (
      |  SELECT CAST(length(bin(n)) AS BIGINT) AS bucket,
      |    count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
      |  FROM u GROUP BY 1),
      |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
      |             CAST(sum(n_events) AS BIGINT) AS te FROM b)
      |SELECT b.bucket,
      |  (CAST(1 AS BIGINT) << CAST(b.bucket - 1 AS INTEGER)) AS lo,
      |  (CAST(1 AS BIGINT) << CAST(b.bucket AS INTEGER)) - 1 AS hi,
      |  b.n_users, b.n_events,
      |  CAST(b.n_users AS DOUBLE) / CAST(t.tu AS DOUBLE) AS user_share,
      |  CAST(b.n_events AS DOUBLE) / CAST(t.te AS DOUBLE) AS event_share
      |FROM b CROSS JOIN t""".stripMargin
}
