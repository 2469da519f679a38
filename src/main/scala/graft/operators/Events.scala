package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Materialized, Tables}

/** Event-stream analytics over the `events` table, batch-first (the
  * reference is a pure daily batch pipeline — SURVEY §2.10); the
  * Structured Streaming variant of the tumbling aggregation lives in
  * [[graft.streaming.EventsStream]] and is asserted equal to the batch
  * result in its spec.
  *
  * Timestamp parity notes: the parquet column is nanosecond-precision;
  * Spark truncates to microseconds, DuckDB keeps its own precision —
  * so oracle-compared outputs only ever expose epoch SECONDS (both
  * engines floor identically) and windows are epoch-second arithmetic,
  * not engine-native window functions. `sum(value)` goes through
  * DECIMAL(18,6) so it is order-independent under Spark's parallel
  * partial aggregation.
  */
object Events {

  // ---------------------------------------------------------------------
  // events_tumbling_agg — 1-hour tumbling windows per event_type.
  // ---------------------------------------------------------------------
  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEvents(spark, dir)
      .groupBy(expr("(sec - pmod(sec, 3600)) div 3600").as("bucket_hr"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("bucket_hr", "event_type")

  val tumblingAggSql: String =
    """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket_hr, event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // events_sliding_agg — 1-hour windows sliding by 30 min, via explode
  // of the (two) windows each event belongs to. This is exactly how
  // Spark's own window() with slide works logically; done in epoch
  // arithmetic for oracle parity.
  // ---------------------------------------------------------------------
  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEvents(spark, dir)
      .withColumn("win_start", explode(expr(
        "array(sec - pmod(sec, 1800) - 1800, sec - pmod(sec, 1800))")))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .orderBy("win_start", "event_type")

  val slidingAggSql: String =
    """WITH e AS (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |w AS (
      |  SELECT unnest([(sec // 1800) * 1800 - 1800, (sec // 1800) * 1800]) AS win_start,
      |    event_type, value
      |  FROM e)
      |SELECT win_start, event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // events_sessionize — gap-based sessions (30 min) per user via
  // lag + running sum; per-session rollup. The classic stateful-stream
  // operation expressed as two window passes (one shuffle on user_id).
  // ---------------------------------------------------------------------
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    Tables.loadEvents(spark, dir)
      .withColumn("new_session",
        when(col("sec") - lag(col("sec"), 1).over(byUser) > 1800, 1)
          .when(lag(col("sec"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).as("start_s"),
        max(col("sec")).as("end_s"),
        (max(col("sec")) - min(col("sec"))).as("dur_s"))
      .orderBy("user_id", "session_idx")
  }

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN lag(sec) OVER w IS NULL THEN 1
      |         WHEN sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sessions AS (
      |  SELECT user_id, sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  COUNT(*) AS n_events, MIN(sec) AS start_s, MAX(sec) AS end_s,
      |  MAX(sec) - MIN(sec) AS dur_s
      |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // events_hll_distinct — mergeable distinct-user sketches (SURVEY §7.3's
  // "mergeable HLL" north-star, via Spark 4's built-in DataSketches
  // functions — no custom TypedImperativeAggregate needed). Daily
  // sketches are built once and UNIONED into weekly estimates: at
  // 100 TB the daily sketch table is what you persist, and any rollup
  // (week, month, ad-hoc date range) is a cheap union over kilobyte
  // sketches instead of a re-scan of raw events. Estimates are
  // approximate → rows-only driver check; EventsSpec bounds the error
  // against exact counts.
  // ---------------------------------------------------------------------
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.loadEvents(spark, dir)
      .groupBy(expr("(sec - pmod(sec, 86400)) div 86400").as("bucket_day"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("day_sketch"),
        count(lit(1)).as("n_events"))
    daily
      .groupBy(expr("(bucket_day - pmod(bucket_day, 7)) div 7").as("bucket_wk"), col("event_type"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(day_sketch))").as("approx_users_wk"),
        sum(col("n_events")).as("n_events"))
      .orderBy("bucket_wk", "event_type")
  }

  /** Exact twin of [[hllDistinct]] for error-bound checks. */
  def exactDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEvents(spark, dir)
      .groupBy(expr("(sec - pmod(sec, 604800)) div 604800").as("bucket_wk"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users_wk"))
      .orderBy("bucket_wk", "event_type")

  // ---------------------------------------------------------------------
  // events_intervals — event-to-state interval build (the SCD-Type-2 /
  // temporal-table transformation): each user's event stream becomes
  // contiguous validity intervals [valid_from, valid_to), the last one
  // open-ended (is_current). This is how a mutable-dimension history
  // is reconstructed from a change-event log. Scale shape: ONE shuffle
  // on user_id and one per-partition sort shared by the lead() window;
  // the order key includes event_id so same-second events still form a
  // total order (deterministic intervals under at-least-once feeds).
  // ---------------------------------------------------------------------
  def intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
    Tables.loadEvents(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("sec"))
      .withColumn("valid_to", lead(col("sec"), 1).over(w))
      .withColumn("duration_sec", col("valid_to") - col("sec"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("sec").as("valid_from"), col("valid_to"), col("duration_sec"),
        col("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  val intervalsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |           FROM events),
      |i AS (SELECT user_id, event_id, event_type, sec AS valid_from,
      |        lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to
      |      FROM e)
      |SELECT user_id, event_id, event_type, valid_from, valid_to,
      |  valid_to - valid_from AS duration_sec,
      |  valid_to IS NULL AS is_current
      |FROM i ORDER BY user_id, valid_from, event_id""".stripMargin

  // ---------------------------------------------------------------------
  // events_json_props — the JSON scalar-function family (§2.8's one
  // unexercised type): parse the semi-structured `props` payload with
  // get_json_object, cast, and aggregate. JSON path extraction is
  // codegen'd per row, so the parse rides the scan with no shuffle;
  // the aggregate is the usual map-side-combined groupBy. avg_k is the
  // single IEEE division of two exactly-agreed integers (the
  // ratio-of-sums rule every oracle-matched average here follows).
  // ---------------------------------------------------------------------
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.loadEvents(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n_events"))
      .orderBy("event_type")

  val jsonPropsSql: String =
    """WITH e AS (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |           FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
      |  CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
      |FROM e WHERE k IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // events_funnel — ordered-sequence funnel (view → click → purchase):
  // per user, the earliest view, the earliest click AT-OR-AFTER that
  // view, and the earliest purchase at-or-after that click; stage =
  // how deep the user got.
  // At-or-after (>=) keeps same-second steps countable — the funnel is
  // about ordering, and equal seconds can't prove disorder.
  //
  // r21 rewrite (guide §2.4 — remove shuffles): the dependent-minimum
  // chain used to be three user-keyed aggregates with a join between
  // steps plus a distinct-users frame and three left joins back — a
  // persisted 4-branch scan and five exchange consumers. The chain is
  // expressible in ONE pass: sort each user's events by sec; a click
  // qualifies iff SOME view exists at-or-before it (that view's sec is
  // ≤ the click's, so sec ≥ t_view is implied and exact), and a
  // purchase qualifies iff some QUALIFIED click exists at-or-before it
  // (≥ t_click ⇔ ≥ the minimum qualified click ⇔ such a click is in
  // the at-or-before range). RANGE frames make same-second steps
  // countable regardless of intra-second row order. Both running
  // minima share one window spec — one exchange on user_id, one
  // in-partition sort, then a co-partitioned final aggregate covering
  // every user (the old distinct-users branch for stage-0 rows comes
  // free). Constant per-row state — nothing materializes a per-user
  // event array (the collect_list formulation dies on power users at
  // 100 TB), and a hot user costs one partition's sort, the same bound
  // events_sessionize already carries. Value-identical to the join
  // chain (EventsSpec + the unchanged oracle + the streaming twin's
  // ≡-batch spec all pin it).
  // ---------------------------------------------------------------------
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-user rows must report stage 0 / null timestamps, as the
    // oracle's equality joins (which drop null keys) do — without the
    // isNotNull guard the groupBy would fold all null-user events into
    // one group that can reach stage 3. eventsSchema declares user_id
    // nullable, so the guard is the table contract made explicit
    // (generated data carries no nulls; this is a latent-input fix).
    // Residual engine difference ON null inputs only: the single
    // null-user row sorts first here (Spark ASC NULLS FIRST) and last
    // in DuckDB — its VALUES agree.
    val viewSec =
      when(col("user_id").isNotNull && col("event_type") === "view", col("sec"))
    val staged = ev
      // earliest view at-or-before this row (same-sec views included)
      .withColumn("view_upto", min(viewSec).over(w))
      .withColumn("qual_click",
        when(col("event_type") === "click" && col("view_upto").isNotNull, col("sec")))
      // earliest QUALIFIED click at-or-before this row — same spec, so
      // both window functions share one sort
      .withColumn("click_upto", min(col("qual_click")).over(w))
    staged.groupBy(col("user_id"))
      .agg(
        min(viewSec).as("t_view"),
        min(col("qual_click")).as("t_click"),
        min(when(col("event_type") === "purchase" && col("click_upto").isNotNull,
          col("sec"))).as("t_purchase"))
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0))
      .orderBy("user_id")
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |           FROM events),
      |u AS (SELECT DISTINCT user_id FROM e),
      |v AS (SELECT user_id, MIN(sec) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(sec) AS t_click
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND sec >= t_view GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(sec) AS t_purchase
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND sec >= t_click GROUP BY 1)
      |SELECT u.user_id, t_view, t_click, t_purchase,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
      |       WHEN t_click IS NOT NULL THEN 2
      |       WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
      |FROM u LEFT JOIN v ON u.user_id = v.user_id
      |  LEFT JOIN c ON u.user_id = c.user_id
      |  LEFT JOIN p ON u.user_id = p.user_id
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // events_retention — cohort retention matrix: users grouped by their
  // first-activity week, counted in every later week they return
  // (week_offset 0 = the cohort week itself). The backbone of growth
  // analytics. Scale shape: first-week per user is one user-keyed
  // aggregate; distinct (user, week) pairs partial-aggregate before
  // the join; the matrix aggregate's cardinality is weeks², tiny. The
  // user-keyed join reuses the aggregate's partitioning (no extra
  // exchange under AQE).
  // ---------------------------------------------------------------------
  def retention(spark: SparkSession, dir: String): DataFrame = {
    // the distinct (user, week) frame, shared by the cohort aggregate
    // and the join probe: one distinct shuffle instead of two
    val weekly = Materialized(Tables.loadEvents(spark, dir)
      .select(col("user_id"),
        expr("(sec - pmod(sec, 604800)) div 604800").as("wk"))
      .distinct())
    val cohorts = weekly.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    weekly.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      // plain count, NOT countDistinct: (user_id, wk) is already
      // distinct and each user has one cohort_wk, so every group's
      // user_ids are unique by construction — a distinct aggregate
      // here would shuffle the full (cohort, offset, user) volume
      // instead of the weeks² matrix (the oracle keeps the naive
      // COUNT(DISTINCT) form as the semantic definition)
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  val retentionSql: String =
    """WITH w AS (SELECT DISTINCT user_id,
      |             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
      |           FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM w GROUP BY 1)
      |SELECT cohort_wk, wk - cohort_wk AS week_offset,
      |  COUNT(DISTINCT w.user_id) AS n_users
      |FROM w JOIN c ON w.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // events_topk_per_group — per-group top-k (top-5 users by event count
  // within each event type), the grouped companion of q10's global
  // top-k. Written as the canonical row_number-then-filter, which
  // Spark 4 compiles to a WindowGroupLimit: each map task keeps only a
  // bounded per-group heap BEFORE the shuffle, so the exchange carries
  // ≤ k·groups·tasks rows instead of every (type, user) pair — the
  // same bounded-intermediate property TakeOrderedAndProject gives the
  // global case (spec-asserted on the plan).
  // ---------------------------------------------------------------------
  private[graft] val topkK = 5

  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("n_events").desc, col("user_id").asc)
    Tables.loadEvents(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topkK)
      .orderBy("event_type", "rk")
  }

  val topkPerGroupSql: String =
    s"""WITH c AS (SELECT event_type, user_id, count(*) AS n_events
       |           FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, user_id, n_events,
       |        CAST(row_number() OVER (PARTITION BY event_type
       |          ORDER BY n_events DESC, user_id) AS INT) AS rk
       |      FROM c)
       |SELECT event_type, user_id, n_events, rk
       |FROM r WHERE rk <= $topkK
       |ORDER BY event_type, rk""".stripMargin

  // ---------------------------------------------------------------------
  // events_window_dedup — telemetry dedup: drop an event that repeats
  // its (user_id, event_type) within `dedupGapSec` of the immediately
  // preceding event of that key (double-fires, retry storms, at-least-
  // once delivery echoes). The rule is lag-based — "gap to the PREVIOUS
  // event", not "gap to the last KEPT event" — because the former is a
  // stateless window function both engines evaluate identically, while
  // the latter is a running recursion (the streaming twin's
  // mapGroupsWithState territory, not a batch window). Kept rows carry
  // their gap so downstream QA can audit the cut. Scale shape: ONE
  // shuffle on the dedup key, per-key ordered within partitions
  // (Spark's window sort is partition-local); deterministic tie-break
  // on event_id for same-second duplicates. The gap is sized to the
  // synthetic stream's density so the rule actually fires at every
  // test scale (60 s drops nothing at sf0.001 — a vacuously-green
  // gate); a real telemetry dedup runs seconds-scale gaps.
  // ---------------------------------------------------------------------
  private[graft] val dedupGapSec = 3600L

  def windowDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("sec", "event_id")
    Tables.loadEvents(spark, dir)
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("gap_sec",
        coalesce(col("sec") - col("prev_sec"), lit(-1L)))
      .filter(col("prev_sec").isNull || col("gap_sec") > dedupGapSec)
      .select("event_id", "user_id", "event_type", "sec", "gap_sec")
      .orderBy("event_id")
  }

  val windowDedupSql: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |             CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |           FROM events),
       |l AS (SELECT *, lag(sec) OVER (PARTITION BY user_id, event_type
       |        ORDER BY sec, event_id) AS prev_sec
       |      FROM e)
       |SELECT event_id, user_id, event_type, sec,
       |  CAST(COALESCE(sec - prev_sec, -1) AS BIGINT) AS gap_sec
       |FROM l WHERE prev_sec IS NULL OR sec - prev_sec > $dedupGapSec
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // events_debounce — the RECURSIVE cousin of events_window_dedup: keep
  // an event only if it is > `dedupGapSec` after the last KEPT event of
  // its (user_id, event_type), not the last event. That "distance to
  // the last survivor" rule is a running fold (each decision depends on
  // the previous decision), which no stateless window function can
  // express — so this is the catalog's showcase of the TYPED Dataset
  // tier: groupByKey + flatMapGroups running a per-key fold, the batch
  // twin of flatMapGroupsWithState. Each kept event reports how many
  // it suppressed, so the cut audits out. Scale shape: one shuffle on
  // the key (same as the window form); the fold is streamed per group,
  // and the in-memory per-group sort is bounded by the hottest
  // (user, type) key — the operator to salt if one key is a firehose.
  // The oracle is the same fold as a DuckDB recursive CTE walking each
  // key's row_number chain.
  // ---------------------------------------------------------------------
  private[graft] case class EvRow(
      user_id: Long, event_type: String, sec: Long, event_id: Long)
  private[graft] case class DebouncedEvent(event_id: Long, user_id: Long,
      event_type: String, sec: Long, n_suppressed: Long)

  def debounce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.loadEvents(spark, dir)
      .select("user_id", "event_type", "sec", "event_id").as[EvRow]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroups { (_: (Long, String), it: Iterator[EvRow]) =>
        val sorted = it.toVector.sortBy(e => (e.sec, e.event_id))
        var lastKept = Long.MinValue
        var suppressed = 0L
        sorted.iterator.flatMap { e =>
          if (lastKept == Long.MinValue || e.sec - lastKept > dedupGapSec) {
            lastKept = e.sec
            val n = suppressed
            suppressed = 0L
            Some(DebouncedEvent(e.event_id, e.user_id, e.event_type, e.sec, n))
          } else { suppressed += 1; None }
        }
      }
      .toDF()
      .orderBy("event_id")
  }

  /** The same fold as a recursive CTE: each key's row_number chain is
    * walked carrying (last kept sec, running suppressed count); a kept
    * row REPORTS the counter accumulated before it, then resets it. */
  val debounceSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, event_type, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |        ORDER BY sec, event_id) AS rn
       |      FROM e),
       |walk(user_id, event_type, rn, sec, event_id,
       |     last_kept, kept, reported, n_sup) AS (
       |  SELECT user_id, event_type, rn, sec, event_id,
       |    sec, TRUE, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.user_id, r.event_type, r.rn, r.sec, r.event_id,
       |    CASE WHEN r.sec - w.last_kept > $dedupGapSec
       |         THEN r.sec ELSE w.last_kept END,
       |    r.sec - w.last_kept > $dedupGapSec,
       |    w.n_sup,
       |    CASE WHEN r.sec - w.last_kept > $dedupGapSec
       |         THEN CAST(0 AS BIGINT) ELSE w.n_sup + 1 END
       |  FROM r JOIN walk w ON r.user_id = w.user_id
       |    AND r.event_type = w.event_type AND r.rn = w.rn + 1)
       |SELECT event_id, user_id, event_type, sec,
       |  reported AS n_suppressed
       |FROM walk WHERE kept
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // events_gap_fill — calendar densification: per-(event_type, day)
  // counts with every missing day in the observed span materialized as
  // an explicit zero row. Downstream time-series consumers (trend
  // fits, anomaly baselines, charting) need the zeros — a absent row
  // and a zero-activity day are different facts. Scale shape: ONE scan
  // of the events table into a tiny persisted (type, day) aggregate;
  // the calendar is generated from that aggregate's own bounds (types
  // × days — thousands of rows, never event-scale) and left-joins the
  // counts back. The big table is never joined against the calendar.
  // ---------------------------------------------------------------------
  /** The densified series WITHOUT the final sort — the anomaly
    * composition consumes it unordered (its aggregations would destroy
    * order anyway), mirroring the oracle side's order-free gf CTE. */
  private def gapFillCore(spark: SparkSession, dir: String): DataFrame = {
    // shared by the bounds, the type list and the join probe: one
    // scan of the events table instead of three
    val daily = Materialized(Tables.loadEvents(spark, dir)
      .groupBy(expr("(sec - pmod(sec, 86400)) div 86400").as("dayno"), col("event_type"))
      .agg(count(lit(1)).as("n_events")))
    val bounds = daily.agg(min("dayno").as("d0"), max("dayno").as("d1"))
    val calendar = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("dayno"))
    calendar.join(daily, Seq("event_type", "dayno"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("filled", col("n_events") === 0)
  }

  def gapFill(spark: SparkSession, dir: String): DataFrame =
    gapFillCore(spark, dir).orderBy("event_type", "dayno")

  /** The densified-series CTE, shared by the gap-fill oracle and the
    * anomaly oracle built on top of it. */
  private val gapFillCte: String =
    """daily AS (
      |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS dayno, event_type,
      |    count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(dayno) AS d0, max(dayno) AS d1 FROM daily),
      |cal AS (
      |  SELECT t.event_type, CAST(unnest(range(b.d0, b.d1 + 1)) AS BIGINT) AS dayno
      |  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN b),
      |gf AS (
      |  SELECT cal.event_type, cal.dayno,
      |    CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events,
      |    coalesce(daily.n_events, 0) = 0 AS filled
      |  FROM cal LEFT JOIN daily USING (event_type, dayno))""".stripMargin

  val gapFillSql: String =
    s"""WITH $gapFillCte
       |SELECT event_type, dayno, n_events, filled FROM gf
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // events_anomaly — robust per-day anomaly flags over the DENSIFIED
  // daily series: a day is anomalous for its event type when its count
  // deviates from the type's median by more than 3× the median
  // absolute deviation (MAD). Median/MAD, not mean/stddev, because
  // the anomalies being hunted are exactly what would poison the
  // baseline — and the series is gap-filled first so a silent missing
  // day (count 0) is flaggable instead of invisible. Counts are
  // integers and both engines interpolate medians identically
  // (q12 proved percentile ≡ quantile_cont), so the oracle is exact.
  // Scale shape: the daily aggregate is tiny (types × days); two
  // grouped percentile passes and two broadcast joins on event_type —
  // nothing event-scale past the first aggregate.
  // ---------------------------------------------------------------------
  private[graft] val madK = 3.0

  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    // the UNSORTED densified series (gapFill's global sort would be
    // wasted work here — every consumer below aggregates or re-sorts),
    // shared by the median, the deviations and the final join
    val gf = Materialized(gapFillCore(spark, dir))
    val med = gf.groupBy("event_type")
      .agg(expr("percentile(n_events, 0.5)").as("med"))
    val withMed = gf.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile(abs(n_events - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .withColumn("is_anomaly", abs(col("n_events") - col("med")) > lit(madK) * col("mad"))
      .select("event_type", "dayno", "n_events", "med", "mad", "is_anomaly")
      .orderBy("event_type", "dayno")
  }

  val anomalySql: String =
    s"""WITH $gapFillCte,
       |med AS (
       |  SELECT event_type, quantile_cont(n_events, 0.5) AS med
       |  FROM gf GROUP BY 1),
       |mad AS (
       |  SELECT gf.event_type, quantile_cont(abs(gf.n_events - med.med), 0.5) AS mad
       |  FROM gf JOIN med USING (event_type) GROUP BY 1)
       |SELECT gf.event_type, gf.dayno, gf.n_events, med.med, mad.mad,
       |  abs(gf.n_events - med.med) > $madK * mad.mad AS is_anomaly
       |FROM gf JOIN med USING (event_type) JOIN mad ON gf.event_type = mad.event_type
       |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_gap_fill"     -> (gapFill _),
    "events_anomaly"      -> (anomaly _),
    "events_window_dedup" -> (windowDedup _),
    "events_debounce"     -> (debounce _),
    "events_topk_per_group" -> (topkPerGroup _),
    "events_json_props"   -> (jsonProps _),
    "events_funnel"       -> (funnel _),
    "events_retention"    -> (retention _),
    "events_tumbling_agg" -> (tumblingAgg _),
    "events_sliding_agg"  -> (slidingAgg _),
    "events_sessionize"   -> (sessionize _),
    "events_hll_distinct" -> (hllDistinct _),
    "events_intervals"    -> (intervals _))

  val oracles: Map[String, String] = Map(
    "events_gap_fill"     -> gapFillSql,
    "events_anomaly"      -> anomalySql,
    "events_window_dedup" -> windowDedupSql,
    "events_debounce"     -> debounceSql,
    "events_topk_per_group" -> topkPerGroupSql,
    "events_json_props"   -> jsonPropsSql,
    "events_funnel"       -> funnelSql,
    "events_retention"    -> retentionSql,
    "events_tumbling_agg" -> tumblingAggSql,
    "events_sliding_agg"  -> slidingAggSql,
    "events_sessionize"   -> sessionizeSql,
    "events_intervals"    -> intervalsSql)
}
