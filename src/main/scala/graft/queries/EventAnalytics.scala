package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Time-series / event-analytics surface — the reference's identity
  * features (daisy: windowFunnel, retention, sequenceMatch/Count, rate,
  * deltaSum — `src/AggregateFunctions/registerAggregateFunctions.cpp:20-22,39`).
  * None exist in Spark; implemented as custom Aggregators
  * (graft.functions.aggs) plus window-function compositions.
  */
object EventAnalytics extends QueryModule {

  private val SevenDaysUs = 7L * 24 * 3600 * 1000000

  /** signup→view→purchase step mapping used by the funnel family. */
  private def stepped(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events")
      .withColumn("step",
        when(col("event_type") === "signup", 1)
          .when(col("event_type") === "view", 2)
          .when(col("event_type") === "purchase", 3)
          .otherwise(0))
      .filter(col("step") > 0)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("step"))

  def queries: Map[String, Q] = Map(
    // windowFunnel: deepest signup→view→purchase chain within 7 days.
    "q_window_funnel" -> ((s, dir) => {
      stepped(s, dir)
        .groupBy(col("user_id"))
        .agg(window_funnel(SevenDaysUs, 3)(col("ts_us"), col("step"))
          .cast("long").as("funnel_level"))
    }),

    // retention: cohort = active on day 1; retained on day 2 / day 8.
    "q_retention" -> ((s, dir) => {
      val d = to_date(col("ts"))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(retention(3)(array(
          d === lit("2024-01-01").cast("date"),
          d === lit("2024-01-02").cast("date"),
          d === lit("2024-01-08").cast("date"))).as("r"))
        .agg(sum(element_at(col("r"), 1)).cast("long").as("day1"),
             sum(element_at(col("r"), 2)).cast("long").as("day1_and_2"),
             sum(element_at(col("r"), 3)).cast("long").as("day1_and_8"))
    }),

    // sequenceMatch('(?1).*(?2)'): signup strictly before purchase.
    "q_sequence_match" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("step",
          when(col("event_type") === "signup", 1)
            .when(col("event_type") === "purchase", 2).otherwise(0))
        .filter(col("step") > 0)
      e.groupBy(col("user_id"))
        .agg(sequence_match(2)(unix_micros(col("ts")), col("step")).as("matched"))
    }),

    // windowFunnel strict_order mode (hash-checked: the DuckDB oracle
    // reproduces the greedy interleave-break scan as a list_reduce fold).
    "q_window_funnel_strict" -> ((s, dir) => {
      stepped(s, dir)
        .groupBy(col("user_id"))
        .agg(window_funnel_strict(SevenDaysUs, 3, strictOrder = true)(
          col("ts_us"), col("step")).cast("long").as("funnel_level"))
    }),

    // sequenceMatch('(?1)(?t<=3600)(?2)'): signup then purchase within
    // one hour (oracled — the 2-step time-bounded form is a plain EXISTS
    // join in SQL).
    "q_sequence_match_time" -> ((s, dir) => {
      val hourUs = 3600L * 1000000
      val e = t(s, dir, "events")
        .withColumn("step",
          when(col("event_type") === "signup", 1)
            .when(col("event_type") === "purchase", 2).otherwise(0))
        .filter(col("step") > 0)
      e.groupBy(col("user_id"))
        .agg(sequence_match_time(2, Seq((0L, hourUs)))(
          unix_micros(col("ts")), col("step")).as("matched"))
    }),

    // sequenceCount: non-overlapping signup→purchase chains; a signup and
    // a purchase at the same timestamp order signup first, as the
    // reference orders equal timestamps by condition (hash-checked: the
    // DuckDB oracle counts signup→purchase adjacencies in (ts, step)
    // order; exactness also covered by AggregatorSpec).
    "q_sequence_count" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("step",
          when(col("event_type") === "signup", 1)
            .when(col("event_type") === "purchase", 2).otherwise(0))
        .filter(col("step") > 0)
      e.groupBy(col("user_id"))
        .agg(sequence_count(2)(unix_micros(col("ts")), col("step")).as("n_chains"))
    }),

    // deltaSumTimestamp: per-user sum of positive value deltas in
    // (ts, event_id) order — event_id breaks duplicate-timestamp ties
    // exactly like the oracle's ORDER BY ts, event_id.
    "q_delta_sum" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(round(delta_sum_timestamp(
            unix_micros(col("ts")), col("event_id"), col("value")), 4)
          .as("delta_sum"))
    }),

    // rate: (last - first) / elapsed-seconds per user (reference:
    // AggregateFunctionRate.cpp) via max_by/min_by — O(1) state.
    // Tie-break on (t, event_id) so duplicate timestamps pick the same row
    // as the oracle; zero-elapsed (single event) groups yield NULL.
    "q_rate" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("value"))
      val key = struct(col("t"), col("event_id"))
      e.groupBy(col("user_id")).agg(
        round((max_by(col("value"), key) - min_by(col("value"), key)) /
          (nullif(max(col("t")) - min(col("t")), lit(0L)) / lit(1000000.0)), 6)
          .as("rate_per_sec"))
    }),

    // topK via SpaceSaving (capacity >= distinct ⇒ exact).
    "q_topk_events" -> ((s, dir) => {
      t(s, dir, "events")
        .agg(top_k(3, 16)(col("event_type")).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("long").as("rank"),
                col("col._1").as("value"), col("col._2").as("cnt"))
    }),

    // uniqUpTo(3): bounded distinct count per user.
    "q_uniq_upto" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(uniq_up_to(3)(col("event_type")).as("uniq_upto"))
    }),

    // groupBitmap: Roaring-bitmap distinct customers per segment.
    "q_group_bitmap" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(group_bitmap(col("c_custkey").cast("int")).as("n_distinct"))
    }),

    // sessionization: 30-min-gap sessions per user — count + avg length
    // (the batch analogue of session windows; streaming variant in
    // graft.streaming).
    "q_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      t(s, dir, "events")
        .withColumn("prev_t", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_t").isNull ||
               unix_micros(col("ts")) - col("prev_t") > gapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("dur_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             max(col("n_events")).as("max_session_events"),
             round(avg(col("dur_us")) / 1000000.0, 2).as("avg_session_sec"))
    }),

    // time-bucketed counts: toStartOfInterval(_time, 15 min) GROUP BY —
    // the reference's windowing idiom (AddTimeParamVisitor + toStartOf*).
    "q_time_bucket" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket_s", (floor(unix_timestamp(col("ts")) / 900) * 900).cast("long"))
        .groupBy(col("bucket_s"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .filter(col("n") >= 2)
    }))

  def oracles: Map[String, String] = Map(
    // The greedy signup→purchase scan completes one chain at every
    // purchase that directly follows a signup in (t, step) order, so the
    // count is a LAG adjacency count. (A list_reduce fold of the same
    // scan returned wrong counts for some users under DuckDB 1.0 when
    // many users' lists were folded in one query.)
    "q_sequence_count" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
        |    CASE WHEN event_type='signup' THEN 1 ELSE 2 END AS step
        |  FROM events WHERE event_type IN ('signup','purchase')),
        |s AS (SELECT user_id, step,
        |        lag(step) OVER (PARTITION BY user_id ORDER BY t, step) AS prev
        |      FROM e)
        |SELECT user_id,
        |  (count(*) FILTER (WHERE prev = 1 AND step = 2))::BIGINT AS n_chains
        |FROM s GROUP BY user_id""".stripMargin,

    // strict_order windowFunnel as a list_reduce fold carrying
    // (max level, current depth, chain start) through the sorted events;
    // events are time-sorted so t >= prev always holds and the break
    // rule reduces to "wrong step resets depth, step 1 restarts".
    "q_window_funnel_strict" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
        |    CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |         WHEN 'purchase' THEN 3 END AS step
        |  FROM events WHERE event_type IN ('signup','view','purchase')),
        |l AS (SELECT user_id,
        |        [struct_pack(maxl := 0::BIGINT, cur := 0::BIGINT,
        |                     start := 0::BIGINT, t := 0::BIGINT, k := 0::BIGINT)] ||
        |        list(struct_pack(maxl := 0::BIGINT, cur := 0::BIGINT,
        |                         start := 0::BIGINT, t := t, k := step::BIGINT)
        |             ORDER BY t, step) AS evs
        |      FROM e GROUP BY user_id)
        |SELECT user_id,
        |  list_reduce(evs, (acc, x) -> CASE
        |    WHEN x.k = acc.cur + 1 AND (acc.cur = 0 OR x.t - acc.start <= ${SevenDaysUs})
        |      THEN struct_pack(maxl := greatest(acc.maxl, acc.cur + 1),
        |                       cur := acc.cur + 1,
        |                       start := CASE WHEN acc.cur = 0 THEN x.t ELSE acc.start END,
        |                       t := 0::BIGINT, k := 0::BIGINT)
        |    WHEN x.k = 1
        |      THEN struct_pack(maxl := greatest(acc.maxl, 1::BIGINT), cur := 1::BIGINT,
        |                       start := x.t, t := 0::BIGINT, k := 0::BIGINT)
        |    ELSE struct_pack(maxl := acc.maxl, cur := 0::BIGINT, start := acc.start,
        |                     t := 0::BIGINT, k := 0::BIGINT)
        |  END).maxl AS funnel_level
        |FROM l""".stripMargin,

    "q_window_funnel" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t, event_type
        |           FROM events WHERE event_type IN ('signup','view','purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type='signup'),
        |l2 AS (SELECT DISTINCT a.user_id FROM e a JOIN e b ON a.user_id=b.user_id
        |       WHERE a.event_type='signup' AND b.event_type='view'
        |         AND b.t >= a.t AND b.t - a.t <= $SevenDaysUs),
        |pv AS (SELECT user_id, t, event_type,
        |        max(CASE WHEN event_type='view' THEN t END) OVER
        |          (PARTITION BY user_id
        |           ORDER BY t, CASE WHEN event_type='view' THEN 0 ELSE 1 END, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vstar
        |       FROM e),
        |l3 AS (SELECT DISTINCT p.user_id FROM pv p JOIN e s ON p.user_id=s.user_id
        |       WHERE p.event_type='purchase' AND s.event_type='signup'
        |         AND p.vstar IS NOT NULL AND s.t <= p.vstar
        |         AND p.t >= s.t AND p.t - s.t <= $SevenDaysUs)
        |SELECT u.user_id,
        | (CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
        |       WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
        |       WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
        |       ELSE 0 END)::BIGINT AS funnel_level
        |FROM u""".stripMargin,

    "q_retention" ->
      """WITH per_user AS (
        | SELECT user_id,
        |  bool_or(ts::DATE = DATE '2024-01-01') AS c1,
        |  bool_or(ts::DATE = DATE '2024-01-02') AS c2,
        |  bool_or(ts::DATE = DATE '2024-01-08') AS c3
        | FROM events GROUP BY user_id)
        |SELECT count(CASE WHEN c1 THEN 1 END)::BIGINT AS day1,
        | count(CASE WHEN c1 AND c2 THEN 1 END)::BIGINT AS day1_and_2,
        | count(CASE WHEN c1 AND c3 THEN 1 END)::BIGINT AS day1_and_8
        |FROM per_user""".stripMargin,

    "q_sequence_match" ->
      """SELECT user_id,
        | coalesce(min(CASE WHEN event_type='signup' THEN epoch_us(ts::TIMESTAMP) END)
        |   < max(CASE WHEN event_type='purchase' THEN epoch_us(ts::TIMESTAMP) END),
        |   FALSE) AS matched
        |FROM events WHERE event_type IN ('signup','purchase')
        |GROUP BY user_id""".stripMargin,

    "q_sequence_match_time" ->
      """WITH s AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t FROM events
        |           WHERE event_type='signup'),
        |p AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS t FROM events
        |      WHERE event_type='purchase'),
        |m AS (SELECT DISTINCT s.user_id FROM s JOIN p ON s.user_id = p.user_id
        |      AND p.t > s.t AND p.t - s.t <= 3600000000),
        |u AS (SELECT DISTINCT user_id FROM events
        |      WHERE event_type IN ('signup','purchase'))
        |SELECT u.user_id, (u.user_id IN (SELECT user_id FROM m)) AS matched
        |FROM u""".stripMargin,

    "q_delta_sum" ->
      """SELECT user_id, round(sum(CASE WHEN d > 0 THEN d ELSE 0 END), 4) AS delta_sum
        |FROM (SELECT user_id,
        |        value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        |      FROM events)
        |GROUP BY user_id""".stripMargin,

    // `+ 0.0` canonicalizes IEEE -0.0 to +0.0: DuckDB's round keeps the
    // sign of a tiny negative ratio (-0.0) where Spark's BigDecimal round
    // has no signed zero — the one-row hash residual of rounds 1-2.
    "q_rate" ->
      """WITH o AS (SELECT user_id, value, epoch_us(ts::TIMESTAMP) AS t,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events)
        |SELECT user_id,
        | round((max(CASE WHEN rn_d = 1 THEN value END) -
        |        max(CASE WHEN rn_a = 1 THEN value END)) /
        |   (nullif(max(t) - min(t), 0) / 1000000.0), 6) + 0.0 AS rate_per_sec
        |FROM o GROUP BY user_id""".stripMargin,

    "q_topk_events" ->
      """SELECT rank, event_type AS value, cnt FROM (
        | SELECT event_type, count(*)::BIGINT AS cnt,
        |  (row_number() OVER (ORDER BY count(*) DESC, event_type))::BIGINT AS rank
        | FROM events GROUP BY event_type) WHERE rank <= 3""".stripMargin,

    "q_uniq_upto" ->
      """SELECT user_id, least(count(DISTINCT event_type), 4)::BIGINT AS uniq_upto
        |FROM events GROUP BY user_id""".stripMargin,

    "q_group_bitmap" ->
      """SELECT c_mktsegment, count(DISTINCT c_custkey)::BIGINT AS n_distinct
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        | SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t,
        |  lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
        | FROM events),
        |s AS (
        | SELECT user_id, t,
        |  sum(CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM g),
        |per_session AS (
        | SELECT user_id, session_id, count(*) AS n_events,
        |  max(t) - min(t) AS dur_us
        | FROM s GROUP BY user_id, session_id)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        | max(n_events)::BIGINT AS max_session_events,
        | round(avg(dur_us) / 1000000.0, 2) AS avg_session_sec
        |FROM per_session GROUP BY user_id""".stripMargin,

    "q_time_bucket" ->
      """SELECT ((epoch_us(ts::TIMESTAMP) // 1000000) // 900) * 900 AS bucket_s,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)
}
