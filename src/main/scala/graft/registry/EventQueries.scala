package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventAnalytics
import graft.streaming.StreamingOps

/** Event and temporal rows: sessionization, funnels, retention, interval
  * merging and as-of / range joins.
  */
object EventQueries {
  import Shared._

  /** DuckDB `WITH` head shared by both sessionizers' oracles: a new
    * session starts at a user's first event or after a gap of 30
    * minutes or more; `g.session_seq` numbers the sessions.
    */
  private val OracleSessionCte: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000
      |         THEN 1 ELSE 0 END AS is_start
      |  FROM e),
      |g AS (
      |  SELECT *, sum(is_start) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM f)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_events_window", (s, dir) =>
      StreamingOps.windowedCounts(t(s, dir, "events"))
        // NTZ at the output boundary: session is UTC, so wall time equals
        // the oracle's naive timestamps
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value")),
      oracle = """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // strict-order funnel view -> click -> purchase: greedy earliest
    // match per step, one user-keyed aggregate per step; counts stay
    // distributed (union of 1-row aggregates)
    QuerySpec("q_funnel", (s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"),
        Seq("view", "click", "purchase")),
      // same greedy earliest-match recurrence, one CTE per step
      oracle = """WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s0 ON e.user_id = s0.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        |SELECT 0 AS step_index, 'view' AS step, count(*) AS n_users FROM s0
        |UNION ALL SELECT 1, 'click', count(*) FROM s1
        |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin),
    // weekly cohort retention: cohort = Monday-truncated first-event
    // week; exact integer day math for the offset
    QuerySpec("q_retention", (s, dir) =>
      EventAnalytics.retention(t(s, dir, "events")),
      oracle = """WITH w AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS DATE) AS wk
        |           FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1)
        |SELECT cohort_week,
        |       CAST(date_diff('day', cohort_week, wk) // 7 AS INT)
        |         AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),
    // first-order Markov transition matrix: per-user lead() window
    // (user-bounded partitions), then a |types|²-row normalize — the
    // conditional probability is an exact-integer IEEE division
    QuerySpec("q_event_transitions", (s, dir) =>
      EventAnalytics.transitions(t(s, dir, "events")),
      oracle = """WITH nx AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) /
        |         CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c""".stripMargin),
    // interval islands: ship-to-delivery spans [shipdate,
    // shipdate + quantity days] merged per supplier into maximal
    // covered windows — one key-bounded window + one aggregate
    QuerySpec("q_interval_merge", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val iv = l.select(col("l_suppkey"),
        col("l_shipdate").cast("date").as("s"),
        date_add(col("l_shipdate").cast("date"),
          col("l_quantity").cast("int")).as("e"))
      graft.ops.TemporalJoins.mergeIntervals(iv, Seq("l_suppkey"), "s", "e")
    },
      oracle = """WITH iv AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
        |  FROM lineitem),
        |f AS (
        |  SELECT l_suppkey, s, e,
        |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY l_suppkey
        |                ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              DATE '0001-01-01') THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |g AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |              ROWS UNBOUNDED PRECEDING) AS span
        |  FROM f)
        |SELECT l_suppkey, min(s) AS span_start, max(e) AS span_end,
        |       CAST(count(*) AS BIGINT) AS n_intervals
        |FROM g GROUP BY l_suppkey, span""".stripMargin),
    QuerySpec("q_sessionize", (s, dir) =>
      StreamingOps.sessionizeBatch(t(s, dir, "events"), 30L * 60 * 1000)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value")),
      oracle = OracleSessionCte + """
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, session_seq""".stripMargin),
    QuerySpec("q_sessionize_native", (s, dir) =>
      StreamingOps.sessionizeNative(t(s, dir, "events"), "30 minutes")
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end_gap").cast("timestamp_ntz").as("session_end_gap"),
          col("n_events"), round(col("total_value"), 2).as("total_value")),
      oracle = OracleSessionCte + """
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
        |       count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, session_seq""".stripMargin),
    QuerySpec("q_events_json", (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count("*").as("n")),
      oracle = """SELECT event_type,
        |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    // as-of join (latest view before each purchase, per user): ONE
    // union+window shuffle on user_id — no range probe, no cross join
    QuerySpec("q_asof_join", (s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(purchases, views,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    },
      oracle = """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts,
        |       r.event_id AS asof_event_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),
    // forward as-of (first purchase at-or-after each signup, per user):
    // same single window pass, descending order
    QuerySpec("q_asof_forward", (s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(signups, purchases,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"), direction = "forward")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    },
      oracle = """SELECT l.event_id, l.user_id, l.ts, r.ts AS asof_ts,
        |       r.event_id AS asof_event_id, r.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='signup') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin),
    // nearest as-of (closest view in EITHER direction per purchase,
    // ties backward): still one shuffle+sort — both candidates come
    // from two frames over the same ascending window order
    QuerySpec("q_asof_nearest", (s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.TemporalJoins.asOfJoin(purchases, views,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("event_id", "value"), direction = "nearest")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
          col("asof_event_id"), col("asof_value"))
    },
      // DuckDB has no nearest ASOF: compose the backward and forward
      // ASOF joins and pick the closer (ties backward — same rule as the
      // operator)
      oracle = """SELECT l.event_id, l.user_id, l.ts,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.ts ELSE f.ts END AS asof_ts,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.event_id ELSE f.event_id END AS asof_event_id,
        |  CASE WHEN b.ts IS NOT NULL AND (f.ts IS NULL OR
        |         date_diff('microsecond', b.ts, l.ts) <=
        |         date_diff('microsecond', l.ts, f.ts))
        |       THEN b.value ELSE f.value END AS asof_value
        |FROM (SELECT * FROM events WHERE event_type='purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') b
        |  ON l.user_id = b.user_id AND l.ts >= b.ts
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') f
        |  ON l.user_id = f.user_id AND l.ts <= f.ts""".stripMargin),
    // range join (pairs of same-user events within 6 hours): bucket-bin
    // equi-join + exact predicate, never a per-user cross product
    QuerySpec("q_range_join", (s, dir) => {
      val e = graft.sources.Tables.events(s, dir)
        .select("user_id", "event_id", "ts")
      graft.ops.TemporalJoins.rangeJoin(e, e, keys = Seq("user_id"),
          tsCol = "ts", maxGapUs = 6L * 3600 * 1000000)
        .select(col("user_id"), col("event_id_a"), col("event_id_b"),
          col("gap_us"))
    },
      oracle = """SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
        |       date_diff('microsecond', a.ts, b.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE b.ts > a.ts AND date_diff('microsecond', a.ts, b.ts) <= 21600000000""".stripMargin)
  )
}
