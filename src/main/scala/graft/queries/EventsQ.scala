package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables
import Num._

/** Event-log queries: JSON prop extraction, tumbling-window rollups, and
  * batch sessionization (gaps-and-islands), each oracle-checkable.
  *
  * Precision note: events.ts is nanosecond-precision in the parquet.
  * Spark truncates to microseconds on read while DuckDB keeps ns, so
  * every oracle casts ts through epoch *seconds* (both engines truncate
  * toward zero for positive epochs) or buckets through date_trunc.
  */
object EventsQ {

  /** from_json prop extraction + group rollup. Ref: SURVEY.md §1.2
    * (events.props is a JSON string).
    */
  val qJsonProps: Q = Q.sql(
    "q_events_json_props",
    """SELECT event_type,
      |  TRY_CAST(CASE WHEN json_valid(props)
      |    THEN json_extract_string(props, '$.k') END AS INT) % 10 AS k_mod,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type ASC NULLS FIRST, k_mod ASC NULLS FIRST""".stripMargin) { (s, d) =>
    // k_mod is nullable (events lacking an integer $.k): Spark ASC is
    // NULLS FIRST but DuckDB ASC is NULLS LAST, so the oracle pins
    // NULLS FIRST and TRY_CASTs (DuckDB CAST would error on non-numeric,
    // and json_extract_string on malformed JSON — Spark's
    // get_json_object returns NULL for both, hence the json_valid
    // guard + try_cast pairing). The integral cast goes through
    // Ops.coerceNumeric (r15): a dirty corpus whose $.k is non-numeric
    // text would otherwise construct a NumberFormatException per row
    // (~8 µs — the q_try_cast burn), while the digit guard costs one
    // rlike; bit-identical semantics per CoerceNumericEquivalenceSpec.
    // The JSON extraction is PRE-PROJECTED into its own column first:
    // the guard references its input in both the condition and the
    // branch, and codegen does not CSE the conditional duplicate — an
    // inline get_json_object was measured evaluating twice (+99% at
    // sf10: bare 1.25 s, inline guard 2.49 s, pre-projected guard
    // 1.30 s on 10M rows; BENCH_NOTES.md, round 15); CollapseProject keeps
    // the non-cheap alias un-inlined, so it runs once here.
    Tables.events(s, d)
      .withColumn("__k", get_json_object(col("props"), "$.k"))
      .withColumn("k_mod",
        graft.transform.Ops.coerceNumeric(col("__k"), IntegerType) % 10)
      .drop("__k")
      .groupBy("event_type", "k_mod")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc, col("k_mod").asc)
  }

  /** Tumbling 1-hour window rollup. date_trunc keeps bucket boundaries
    * identical across engines.
    */
  val qTumblingWindow: Q = Q.sql(
    "q_events_tumbling",
    """SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS window_start_sec,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_sec ASC, event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    // window start emitted as epoch seconds (BIGINT): timestamp columns
    // round-trip through parquet with engine-specific tz/precision
    // annotations; integer seconds compare exactly everywhere.
    Tables.events(s, d)
      .withColumn("window_start_sec",
        unix_micros(date_trunc("hour", col("ts"))) / lit(1000000L))
      .withColumn("window_start_sec", col("window_start_sec").cast(LongType))
      .groupBy("window_start_sec", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("window_start_sec").asc, col("event_type").asc)
  }

  /** Batch sessionization: gaps-and-islands with a 30-minute idle gap.
    * Second-granularity epochs for cross-engine parity.
    * One shuffle on user_id; per-user state is bounded (windows over a
    * single user's ordered events), so this scales linearly.
    */
  val qSessionize: Q = Q.sql(
    "q_events_sessionize",
    s"""$sessionSpansSql
       |SELECT user_id, session_id, n_events,
       |  start_sec AS session_start_sec, end_sec AS session_end_sec
       |FROM spans
       |ORDER BY user_id ASC, session_id ASC""".stripMargin) { (s, d) =>
    sessionSpans(s, d)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_sec").as("session_start_sec"),
        col("end_sec").as("session_end_sec"))
      .orderBy(col("user_id").asc, col("session_id").asc)
  }

  /** Skew-safe salted aggregation over the 5-value event_type key —
    * identical result to a plain groupBy (decimal sums associate), but
    * the first shuffle spreads over keys×32 reducers instead of 5.
    * The scale case: a hot-key rollup at 100 TB.
    */
  val qSaltedAgg: Q = Q.sql(
    "q_events_salted_agg",
    """SELECT event_type, CAST(SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    import graft.transform.Ops
    Tables.events(s, d)
      .transform(Ops.saltedSumCount(Seq("event_type"), col("event_id"), 32,
        dec(col("value")), "sum_dec", "n"))
      .select(col("event_type"), col("sum_dec").cast(DoubleType).as("sum_value"),
        col("n"))
      .orderBy(col("event_type").asc)
  }

  /** Sketch aggregations — the mergeable approximations that replace
    * exact distinct/percentile at 100 TB, built from RELATIONAL
    * sketches so the whole query is hash-verified (the KMV move that
    * flipped [[qWauSketch]], now applied per event type):
    *
    *  - approx_users: KMV bottom-k (k=256) over md5-derived 60-bit
    *    user hashes — mergeable (union of bottom-k lists contains the
    *    bottom-k of the union), deterministic, RSE ~ 1/sqrt(k-2) ≈ 6%;
    *    exact while a type holds < k distinct hashes.
    *  - p50/p95: an adaptive-width histogram sketch — per-type bucket
    *    width range/8192 (the SCALING.md §4 idiom), cumulative counts
    *    cross the target rank with INTEGER arithmetic (2·cum ≥ n,
    *    20·cum ≥ 19·n — no float rank thresholds), estimate = bucket
    *    midpoint, error ≤ one bucket width. The histogram is mergeable
    *    (bucket counts add) and never collects rows anywhere.
    *
    * Unlike the opaque binary HLL++/GK internals this replaced, every
    * step is plain relational algebra DuckDB replays bit-identically
    * (the estimate divides/scales identical IEEE doubles). Accuracy
    * against the exact answers stays gated by SketchSpec.
    *
    * Scale shape: the bottom-k cut is two-phase (salted per-type cut,
    * then final cut over ≤ 64k survivors); the histogram is one
    * map-side-combined aggregate to ≤ ~8K rows per type, windowed
    * within per-type partitions. Non-finite values (NaN AND ±Infinity
    * — see [[finiteValue]]) are excluded once, for both halves.
    */
  val qSketchStats: Q = Q.sql(
    "q_events_sketch_stats",
    """WITH e AS (
      |  SELECT event_type, CAST(user_id AS VARCHAR) AS uid, value
      |  FROM events WHERE isfinite(value)),
      |st AS (
      |  SELECT event_type, MIN(value) AS mn,
      |    GREATEST((MAX(value) - MIN(value)) / 8192.0,
      |             2.2250738585072014e-308) AS w
      |  FROM e GROUP BY event_type),
      |hb AS (
      |  SELECT e.event_type,
      |    CAST(floor((e.value - st.mn) / st.w) AS BIGINT) AS b, COUNT(*) AS c
      |  FROM e JOIN st ON e.event_type = st.event_type GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, b,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY b ASC) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM hb),
      |pb AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN 2 * cum >= n THEN b END) AS b50,
      |    MIN(CASE WHEN 20 * cum >= 19 * n THEN b END) AS b95
      |  FROM cum GROUP BY event_type),
      |hashed AS (
      |  SELECT DISTINCT event_type,
      |    (SELECT SUM(CAST(strpos('0123456789abcdef',
      |                 substr(md5(uid), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
      |            * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT)))
      |     FROM range(15) t(i)) AS h
      |  FROM (SELECT DISTINCT event_type, uid FROM e)),
      |topk AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM hashed),
      |au AS (
      |  SELECT event_type,
      |    CASE WHEN cnt < 256 THEN CAST(cnt AS DOUBLE)
      |         ELSE 255e0 * 1152921504606846976e0 / CAST(h AS DOUBLE)
      |    END AS approx_users
      |  FROM topk
      |  WHERE rn = CASE WHEN cnt < 256 THEN cnt ELSE 256 END)
      |SELECT p.event_type, au.approx_users,
      |  st.mn + (CAST(p.b50 AS DOUBLE) + 0.5) * st.w AS p50_value,
      |  st.mn + (CAST(p.b95 AS DOUBLE) + 0.5) * st.w AS p95_value
      |FROM pb p
      |JOIN au ON au.event_type = p.event_type
      |JOIN st ON st.event_type = p.event_type
      |ORDER BY p.event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val k = 256
    val e = Tables.events(s, d)
      .filter(finiteValue)
      .select(col("event_type"), col("user_id").cast(StringType).as("uid"),
        col("value"))
    // histogram-sketch percentiles: adaptive width, integer rank cross
    val st = broadcast(e.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
      .select(col("event_type"), col("mn"),
        greatest((col("mx") - col("mn")) / lit(8192.0),
          lit(java.lang.Double.MIN_NORMAL)).as("w")))
    val hb = e.join(st, "event_type")
      .groupBy(col("event_type"),
        floor((col("value") - col("mn")) / col("w")).cast(LongType).as("b"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy(col("b").asc)
    val pb = hb
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 2 >= col("n"), col("b"))).as("b50"),
        min(when(col("cum") * 20 >= col("n") * 19, col("b"))).as("b95"))
    // KMV bottom-k distinct users: two-phase salted cut per type
    val hashed = e.select(col("event_type"), col("uid")).distinct()
      .select(col("event_type"),
        conv(substring(md5(col("uid").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .distinct()
    val w1 = Window.partitionBy("event_type", "salt").orderBy(col("h").asc)
    val cand = hashed.withColumn("salt", pmod(col("h"), lit(64)))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= k).drop("rn", "salt")
    val w2 = Window.partitionBy("event_type").orderBy(col("h").asc)
    val au = cand
      .withColumn("rn", row_number().over(w2))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === when(col("cnt") < k, col("cnt")).otherwise(lit(k)))
      .select(col("event_type"),
        when(col("cnt") < k, col("cnt").cast(DoubleType))
          .otherwise(lit(255.0 * 1.152921504606846976e18)
            / col("h").cast(DoubleType))
          .as("approx_users"))
    pb.join(au, "event_type").join(st, "event_type")
      .select(col("event_type"), col("approx_users"),
        (col("mn") + (col("b50").cast(DoubleType) + lit(0.5)) * col("w"))
          .as("p50_value"),
        (col("mn") + (col("b95").cast(DoubleType) + lit(0.5)) * col("w"))
          .as("p95_value"))
      .orderBy(col("event_type").asc)
  }

  /** Sliding 1-hour window with 15-minute slide (the batch form of the
    * streaming hopping window): every event lands in exactly 4
    * overlapping windows. Spark's `window()` generator handles it
    * natively; the oracle reproduces the window set with 4 shifted
    * 15-minute truncations (window starts are epoch-aligned multiples
    * of the slide, s = floor(t/900)*900 - k*900 for k in 0..3).
    */
  val qSlidingWindow: Q = Q.sql(
    "q_events_sliding",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
      |    TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2)) AS v
      |  FROM events),
      |expanded AS (
      |  SELECT event_type, v,
      |    (t // 900) * 900 - k * 900 AS window_start_sec
      |  FROM e, unnest([0, 1, 2, 3]) AS u(k))
      |SELECT window_start_sec, event_type, COUNT(*) AS n,
      |  CAST(SUM(v) AS DOUBLE) AS sum_value
      |FROM expanded
      |GROUP BY 1, 2
      |ORDER BY window_start_sec ASC, event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        (unix_micros(col("window.start")) / lit(1000000L)).cast(LongType)
          .as("window_start_sec"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_sec").asc, col("event_type").asc)
  }

  /** Native session_window operator (the built-in counterpart to the
    * custom gaps-and-islands sessionize). Boundary pinned EMPIRICALLY
    * by the adversarial corpus's exact-gap events: session_window
    * extends a session to [ts, ts+gap) and merges sessions that
    * overlap OR TOUCH, so a successor exactly `gap` seconds later
    * stays in the SAME session — `diff > gap` islands, the same
    * boundary as q_events_sessionize. (The prior belief that an
    * at-gap successor opens a new session was green-by-vacuity on
    * corpora with no exact-gap pair.)
    */
  val qSessionWindow: Q = Q.sql(
    "q_events_session_window",
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER w IS NULL
      |      OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
      |sessions AS (
      |  SELECT user_id, ts_sec,
      |    SUM(is_new) OVER (PARTITION BY user_id
      |      ORDER BY ts_sec ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(ts_sec) AS session_start_sec,
      |  MAX(ts_sec) + 1800 AS session_end_sec, COUNT(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id ASC, session_start_sec ASC""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("ts_sec",
        floor(unix_micros(col("ts")) / lit(1000000L)).cast(LongType))
      .withColumn("ts_wall", timestamp_seconds(col("ts_sec")))
      .groupBy(session_window(col("ts_wall"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        (unix_micros(col("session_window.start")) / lit(1000000L)).cast(LongType)
          .as("session_start_sec"),
        (unix_micros(col("session_window.end")) / lit(1000000L)).cast(LongType)
          .as("session_end_sec"),
        col("n_events"))
      .orderBy(col("user_id").asc, col("session_start_sec").asc)
  }

  /** View→click attribution: join each click to the view events of the
    * same user in the preceding 30 minutes. Equi-join on user_id with
    * the time window as a range predicate; at scale the join shuffles
    * only the two filtered event subsets (views + clicks, a fraction of
    * the log), keyed uniformly by user. lag_sec uses integer
    * microsecond arithmetic — exact in both engines.
    */
  val qAttribution: Q = Q.sql(
    "q_events_attribution",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events)
      |SELECT v.event_id AS view_event_id, c.event_id AS click_event_id,
      |  v.user_id,
      |  CAST((epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS lag_sec
      |FROM e v JOIN e c
      |  ON v.user_id = c.user_id
      |  AND v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY view_event_id ASC, click_event_id ASC""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"), col("user_id"),
        col("ts").as("v_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
    v.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("interval 30 minutes"))
      .select(col("view_event_id"), col("click_event_id"), col("user_id"),
        expr("(unix_micros(c_ts) - unix_micros(v_ts)) div 1000000")
          .cast(LongType).as("lag_sec"))
      .orderBy(col("view_event_id").asc, col("click_event_id").asc)
  }

  /** Ordered conversion funnel: users who viewed, clicked AFTER their
    * first view, and purchased AFTER that first qualifying click — the
    * sequence constraint is what separates a funnel from three counts
    * (a purchase before any view must NOT count). Each stage is a
    * min-timestamp aggregate joined to the previous stage's threshold;
    * every join and aggregate hash-partitions on user_id, so a depth-k
    * funnel is k co-partitioned agg+join rounds over the same exchange
    * family — no windows, no per-user event collection, no driver
    * state. Stage thresholds are first-touch (MIN ts), the common
    * product-analytics convention.
    */
  val qFunnel: Q = Q.sql(
    "q_events_funnel",
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (SELECT user_id, MIN(ts) AS vts FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(e.ts) AS cts FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts >= v.vts GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(e.ts) AS pts FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.cts GROUP BY e.user_id)
      |SELECT stage, event_type, n_users FROM (
      |  SELECT 1 AS stage, 'view' AS event_type, (SELECT COUNT(*) FROM v) AS n_users
      |  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
      |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p))
      |ORDER BY stage ASC""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("vts"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("vts"))
      .groupBy("user_id").agg(min("ts").as("cts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("cts"))
      .groupBy("user_id").agg(min("ts").as("pts"))
    def stageRow(df: org.apache.spark.sql.DataFrame, stage: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stage).as("stage"), lit(name).as("event_type"), col("n_users"))
    stageRow(v, 1, "view")
      .unionByName(stageRow(c, 2, "click"))
      .unionByName(stageRow(p, 3, "purchase"))
      .orderBy(col("stage").asc)
  }

  /** Weekly cohort retention: users grouped by the week of their first
    * `signup`, counted as retained in week-offset k if they produced
    * ANY event k weeks after that cohort week. The cohort table is one
    * min-ts aggregate per user; activities join it on user_id (same
    * exchange family) and reduce to distinct (cohort, offset, user)
    * before the final count — so the shuffle after the join carries
    * key triples, not events. Weeks are epoch-day/7 buckets (stable
    * across engines; date_trunc('week') is ISO-Monday in both but
    * epoch arithmetic avoids timezone edges entirely).
    */
  val qRetention: Q = Q.sql(
    "q_events_retention",
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |cohort AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(MIN(ts)) / 604800.0) AS BIGINT) AS cohort_week
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |hits AS (
      |  SELECT DISTINCT c.cohort_week,
      |    CAST(floor(epoch(e.ts) / 604800.0) AS BIGINT) - c.cohort_week AS week_offset,
      |    e.user_id
      |  FROM e JOIN cohort c USING (user_id)
      |  WHERE CAST(floor(epoch(e.ts) / 604800.0) AS BIGINT) >= c.cohort_week)
      |SELECT cohort_week, week_offset, COUNT(*) AS n_users
      |FROM hits GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week ASC, week_offset ASC""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    def week(ts: org.apache.spark.sql.Column) =
      floor(unix_timestamp(ts) / lit(604800.0)).cast(LongType)
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(week(min("ts")).as("cohort_week"))
    e.join(cohort, "user_id")
      .select(col("cohort_week"),
        (week(col("ts")) - col("cohort_week")).as("week_offset"), col("user_id"))
      .filter(col("week_offset") >= 0)
      .distinct()
      .groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week").asc, col("week_offset").asc)
  }

  /** Per-type (Σv, Σv², n) as decimal-exact doubles — the trained side
    * of anomaly scoring.
    */
  def anomalyStats(ev: DataFrame): DataFrame =
    ev.groupBy("event_type").agg(
      sum(dec(col("value"))).cast(DoubleType).as("s"),
      sum(dec(col("value")) * dec(col("value"))).cast(DoubleType).as("ss"),
      count(lit(1)).cast(DoubleType).as("n"))

  /** z of `value` against the (s, ss, n) stats columns. try_divide:
    * a zero-variance type (e.g. a singleton group) has sd = 0 — z is
    * undefined → NULL, and the |z| filter drops it. DuckDB's `/`
    * returns NULL on a zero divisor, so the oracle needs no guard;
    * Spark's ANSI `/` would abort the job instead.
    */
  def zScore: Column =
    try_divide(col("value") - col("s") / col("n"),
      sqrt((col("ss") - col("s") * col("s") / col("n")) / col("n")))

  /** Per-type z-score outlier detection — the monitoring query an event
    * pipeline runs to flag anomalous values (|z| > 3 against the
    * event_type's own distribution).
    *
    * Scale shape: the stats table is one tiny groupBy (a handful of
    * event types, partial agg first) broadcast back onto the scan; the
    * event stream filters in place, no second shuffle.
    *
    * Oracle determinism: mean and variance come from DECIMAL-exact
    * sums (Σv, Σv² — order-independent in any engine); the z
    * expression then runs the same IEEE double ops on those exact
    * operands in both engines (sqrt is correctly rounded per IEEE 754,
    * so even it is bit-identical).
    */
  val qAnomaly: Q = Q.sql(
    "q_events_anomaly",
    """WITH st AS (
      |  SELECT event_type,
      |    CAST(SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS s,
      |    CAST(SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2)) * TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS ss,
      |    CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value,
      |  (e.value - s / n) / sqrt((ss - s * s / n) / n) AS z
      |FROM events e JOIN st USING (event_type)
      |WHERE abs((e.value - s / n) / sqrt((ss - s * s / n) / n)) > 3.0
      |ORDER BY event_id ASC""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    ev.join(broadcast(anomalyStats(ev)), "event_type")
      .withColumn("z", zScore)
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id").asc)
  }

  /** Finite-values guard for the ADAPTIVE-width bucketing queries
    * (sketch stats, exact quantiles): one ±Infinity row makes the
    * per-type width w = Infinity, so every finite row buckets to 0 and
    * the infinite row's bucket is inf/inf = NaN — which Spark's long
    * cast silently maps to 0 while DuckDB's CAST raises, a latent
    * engine/oracle divergence on top of a one-bucket accuracy
    * collapse. Spark equivalent of DuckDB's `isfinite(value)` (Spark
    * NaN ordering sorts NaN above +inf, but the explicit isnan keeps
    * the intent readable). The FIXED-width bucketers use the stricter
    * [[bucketableValue]] below.
    */
  private def finiteValue: Column =
    !isnan(col("value")) && abs(col("value")) < lit(Double.PositiveInfinity)

  /** Domain guard for the FIXED-width bucketers (floor(value/10) —
    * histogram, k-anonymity, l-diversity): finite AND |value| ≤ 1e15,
    * so the integer bucket always fits int64 (a finite-but-huge value
    * like 1e308 overflows the BIGINT bucket cast — DuckDB raises,
    * Spark saturates — and a 10-unit bucket at that magnitude carries
    * no information anyway). The excluded tail is part of the
    * published semantics, not silent loss; oracle twin:
    * `isfinite(value) AND abs(value) <= 1e15`.
    */
  private def bucketableValue: Column =
    finiteValue && abs(col("value")) <= lit(1e15)

  /** UTC epoch day — tz-independent integer day bucket (session-tz
    * date functions would couple the result to cluster config).
    */
  private def epochDay(ts: Column): Column =
    floor(floor(unix_micros(ts).cast(DoubleType) / 1000000.0) / 86400.0).cast(LongType)

  /** Dense (type × day) daily-count grid — the calendar-bounded base
    * the whole time-series leg (ses/holt/backtest/changepoint/
    * autocorr/seasonality) smooths or scans. Memoized per
    * session×corpus: the grid is ≤ #types × #days rows, so the
    * checkpoint is trivially cheap and the six queries share one
    * build instead of re-aggregating the event scan each.
    */
  /** [[dailyGrid]]'s DuckDB twin: the same dense-grid construction as
    * a CTE chain ending at `grid(event_type, day, n)` — factored so
    * the six time-series oracles share ONE definition (a grid fix
    * applied to the engine must be applied exactly once here too).
    */
  private val dailyGridSql: String =
    """e AS (
      |  SELECT event_type,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
      |      AS BIGINT) AS day
      |  FROM events),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
      |days AS (SELECT UNNEST(RANGE(b.lo, b.hi + 1)) AS day FROM b),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |counts AS (SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, d.day, COALESCE(c.n, 0) AS n
      |  FROM ty t CROSS JOIN days d
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = d.day)""".stripMargin

  private def dailyGrid(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    SharedFrames.frame(s, s"events_daily_grid:$d") {
      val e = Tables.events(s, d)
        .select(col("event_type"), epochDay(col("ts")).as("day"))
      val bounds = e.agg(min("day").as("lo"), max("day").as("hi"))
      val days = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      e.select("event_type").distinct()
        .crossJoin(broadcast(days))
        .join(e.groupBy("event_type", "day").agg(count(lit(1)).as("cn")),
          Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cn"), lit(0L)).as("n"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Exact daily active users — the per-day distinct that feeds every
    * engagement dashboard. One shuffle keyed (day, user), partial agg
    * first.
    */
  val qDau: Q = Q.sql(
    "q_events_dau",
    """SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1
      |ORDER BY day ASC""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(epochDay(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day").asc)
  }

  /** Rolling 7-day active users via MERGEABLE bottom-k (KMV) sketches —
    * the pattern that makes rolling distincts affordable at 100 TB:
    * build one small sketch per day (a single scan of that day's
    * events), then every rolling window is a MERGE of 7 daily sketches
    * — raw events are never rescanned per window, and yesterday's
    * sketches are reusable artifacts. Exact rolling distinct would
    * re-shuffle every event into each of the 7 windows covering it.
    *
    * KMV (k minimum values, the theta-sketch family): keep the k=64
    * smallest md5-derived 60-bit hashes of the day's users. The union
    * of daily bottom-k lists CONTAINS the bottom-k of the full window
    * (a hash with < k smaller hashes window-wide has < k smaller in
    * its own day), so merge = bottom-k of the concatenated lists —
    * no rescan, and the merged sketch IS the window's KMV sketch.
    * Estimate: exact count while the union holds < k hashes (all
    * contributing days complete), else (k-1)*2^60/h_(k) — one
    * int64→double conversion + IEEE divide, so DuckDB replays the
    * whole query bit-identically (hash-verified, unlike an opaque
    * binary HLL). RSE ~ 1/sqrt(k-2) ≈ 13%; SketchSpec bounds it
    * against the exact rolling distinct.
    *
    * Scale shape: the per-day bottom-k cut is two-phase — bottom-k
    * per (day, salt=h%64) in parallel, then bottom-k of the ≤ 64k
    * salted survivors — so no single task ever sorts a whole day.
    */
  val qWauSketch: Q = Q.sql(
    "q_events_wau_sketch",
    """WITH ev AS (
      |  SELECT DISTINCT
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS sk_day,
      |    CAST(user_id AS VARCHAR) AS uid
      |  FROM events),
      |hashed AS (
      |  SELECT DISTINCT sk_day,
      |    (SELECT SUM(CAST(strpos('0123456789abcdef',
      |                 substr(md5(uid), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
      |            * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT)))
      |     FROM range(15) t(i)) AS h
      |  FROM ev),
      |dailyk AS (
      |  SELECT sk_day, h FROM (
      |    SELECT sk_day, h, row_number() OVER (PARTITION BY sk_day ORDER BY h ASC) AS rn
      |    FROM hashed)
      |  WHERE rn <= 64),
      |spine AS (SELECT DISTINCT sk_day AS day FROM dailyk),
      |merged AS (
      |  SELECT DISTINCT s.day, d.h
      |  FROM spine s JOIN dailyk d ON d.sk_day BETWEEN s.day - 6 AND s.day),
      |ranked AS (
      |  SELECT day, h,
      |    row_number() OVER (PARTITION BY day ORDER BY h ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY day) AS cnt
      |  FROM merged)
      |SELECT day,
      |  CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
      |       ELSE (63e0 * 1152921504606846976e0) / CAST(h AS DOUBLE) END AS wau_estimate
      |FROM ranked
      |WHERE rn = CASE WHEN cnt < 64 THEN cnt ELSE 64 END
      |ORDER BY day ASC""".stripMargin) { (s, d) =>
    val k = 64
    val hashed = Tables.events(s, d)
      .select(epochDay(col("ts")).as("sk_day"),
        col("user_id").cast(StringType).as("uid"))
      .distinct()
      .select(col("sk_day"),
        conv(substring(md5(col("uid").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .distinct()
    // two-phase per-day bottom-k: parallel salted cut, then final cut
    val w1 = Window.partitionBy("sk_day", "salt").orderBy(col("h").asc)
    val cand = hashed.withColumn("salt", pmod(col("h"), lit(64)))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= k).drop("rn", "salt")
    val w2 = Window.partitionBy("sk_day").orderBy(col("h").asc)
    val dailyk = cand.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k).drop("rn")
    val spine = dailyk.select(col("sk_day").as("day")).distinct()
    val w3 = Window.partitionBy("day").orderBy(col("h").asc)
    spine.join(broadcast(dailyk),
        col("sk_day").between(col("day") - 6, col("day")))
      .select(col("day"), col("h")).distinct()
      .withColumn("rn", row_number().over(w3))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("day")))
      .filter(col("rn") === when(col("cnt") < k, col("cnt")).otherwise(lit(k)))
      .select(col("day"),
        when(col("cnt") < k, col("cnt").cast(DoubleType))
          .otherwise(lit(63.0 * 1.152921504606846976e18)
            / col("h").cast(DoubleType))
          .as("wau_estimate"))
      .orderBy(col("day").asc)
  }

  /** Trailing 5-minute per-type rollup with a RANGE window frame —
    * "events and value mass in the last N seconds, as of each event" —
    * the event-time trailing aggregate a monitoring view computes,
    * and the catalog's RANGE-frame coverage (every other window here
    * is ROWS-framed). RANGE semantics matter for correctness under
    * ties: all ts peers enter the frame together, so the result is
    * deterministic no matter how equal-timestamp events are ordered.
    *
    * Scale shape (r12): a window partitioned by event_type ALONE has
    * parallelism = #types (≈5 here) — one task per type drags the
    * whole corpus through a handful of sorts at 100 TB. The bounded
    * 300-second lookback admits the standard ghost-row bucketing: rows
    * partition by (event_type, hour bucket), and each bucket's last
    * 300 seconds are DUPLICATED into the next bucket as ghost rows
    * that feed frames but are filtered from the output. Every frame
    * [ts−300, ts] is then complete inside one (type, bucket)
    * partition — identical results (RANGE peers can't straddle a
    * bucket edge: a ghost's ts is strictly below the next bucket's
    * start), with parallelism #types × #hours and ≤ 300/3600 ≈ 8% row
    * duplication. The ORACLE keeps the plain per-type window — DuckDB
    * at gate SF doesn't need the parallelism.
    */
  val qTrailingRange: Q = Q.sql(
    "q_events_trailing_range",
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec,
      |    TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2)) AS v
      |  FROM events)
      |SELECT event_id, event_type,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
      |  CAST(SUM(v) OVER w AS DOUBLE) AS sum_trailing
      |FROM e
      |WINDOW w AS (PARTITION BY event_type ORDER BY ts_sec
      |  RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id ASC""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(unix_micros(col("ts")) / lit(1000000L)).cast(LongType).as("ts_sec"),
        dec(col("value")).as("v"))
    val bucketSecs = 3600L
    // FLOOR-division bucket, spelled via pmod so bucket assignment and
    // the ghost predicate share one modular arithmetic: `div` truncates
    // toward zero while `pmod` floors, and for negative ts_sec
    // (pre-1970 events) the two disagree — a row at ts_sec=-3600 would
    // land in truncated bucket -1 with pmod=0 (never ghosted) while
    // its within-300s neighbors at -3599..-3300 truncate into bucket 0,
    // silently losing frame rows. (ts_sec - pmod) is an exact multiple
    // of the bucket width, so the integral divide below IS floor
    // (and stays in Long — a double quotient would round past 2^52).
    val bkt = expr(s"(ts_sec - pmod(ts_sec, $bucketSecs)) div $bucketSecs")
    val main = e
      .withColumn("bkt", bkt)
      .withColumn("ghost", lit(false))
    val ghosts = e
      .filter(pmod(col("ts_sec"), lit(bucketSecs)) >= bucketSecs - 300L)
      .withColumn("bkt", bkt + 1L)
      .withColumn("ghost", lit(true))
    val w = Window.partitionBy("event_type", "bkt").orderBy("ts_sec")
      .rangeBetween(-300, Window.currentRow)
    main.unionByName(ghosts)
      .select(col("event_id"), col("event_type"), col("ghost"),
        count(lit(1)).over(w).as("n_trailing"),
        sum(col("v")).over(w).cast(DoubleType).as("sum_trailing"))
      .filter(!col("ghost"))
      .select(col("event_id"), col("event_type"), col("n_trailing"),
        col("sum_trailing"))
      .orderBy(col("event_id").asc)
  }

  /** DEBOUNCE — burst suppression per (user_id, event_type): keep an
    * event iff it is the first of its key or ≥ 60 s after the
    * PREVIOUS event of that key (lag semantics, the stateless cousin
    * of sessionization's gap test: a long burst emits its first event
    * plus one per quiet-gap crossing, not one per minute). The
    * telemetry-ingest dedup for retry storms and double-fires.
    *
    * Scale shape: one window keyed by (user_id, event_type) — the
    * same natural shuffle key as every per-user op here, no skew
    * beyond the per-user event count, and the comparison is integer
    * microseconds (exact in both engines).
    */
  val qDebounce: Q = Q.sql(
    "q_events_debounce",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |flagged AS (
      |  SELECT event_id, user_id, event_type, ts_us,
      |    lag(ts_us) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts_us ASC, event_id ASC) AS prev_us
      |  FROM e)
      |SELECT event_id, user_id, event_type, ts_us
      |FROM flagged
      |WHERE prev_us IS NULL OR ts_us - prev_us >= 60000000
      |ORDER BY event_id ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_us").isNull || col("ts_us") - col("prev_us") >= 60000000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      .orderBy(col("event_id").asc)
  }

  /** Event-type TRANSITION matrix — first-order behavioral sequence
    * mining: per user, order events by time and count (prev_type →
    * type) transitions across the whole population, with each type's
    * outgoing total alongside so a consumer can read P(next | prev)
    * off the row (the probability itself stays a ratio of exact
    * counts — engine-portable by construction).
    *
    * Scale shape: ONE window keyed by user_id (the same natural
    * shuffle as sessionize — per-user history, no cross-user state),
    * then a map-side-combined aggregate to ≤ |types|² rows. The
    * outgoing totals re-aggregate the 25-row transition table itself,
    * not the events.
    */
  val qTransitions: Q = Q.sql(
    "q_events_transitions",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |seq AS (
      |  SELECT user_id, event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS prev_type
      |  FROM e),
      |t AS (
      |  SELECT prev_type, next_type, COUNT(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type),
      |o AS (SELECT prev_type, SUM(n) AS out_n FROM t GROUP BY prev_type)
      |SELECT t.prev_type, t.next_type, t.n,
      |  CAST(t.n AS DOUBLE) / o.out_n AS p
      |FROM t JOIN o USING (prev_type)
      |ORDER BY prev_type ASC, next_type ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val t = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type").as("next_type"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val o = t.groupBy("prev_type").agg(sum("n").as("out_n"))
    t.join(broadcast(o), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast(DoubleType) / col("out_n")).as("p"))
      .orderBy(col("prev_type").asc, col("next_type").asc)
  }

  /** Fixed-width value HISTOGRAM per event type — the monitoring
    * primitive behind every latency/value dashboard: bucket =
    * floor(value / 10), exact counts. One map-side-combined aggregate
    * to ≤ |types| · |buckets| rows; floor of an IEEE divide on
    * identical operands is engine-exact, and NaNs are excluded
    * explicitly (ANSI long-cast of NaN would error, and a NaN bucket
    * is meaningless in both engines).
    */
  val qValueHistogram: Q = Q.sql(
    "q_events_value_histogram",
    """SELECT event_type,
      |  CAST(floor(value / 10.0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n
      |FROM events
      |WHERE isfinite(value) AND abs(value) <= 1e15
      |GROUP BY event_type, CAST(floor(value / 10.0) AS BIGINT)
      |ORDER BY event_type ASC NULLS FIRST, bucket ASC""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(bucketableValue)
      .groupBy(col("event_type"),
        floor(col("value") / 10.0).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  /** K-ANONYMITY AUDIT — quasi-identifier combinations rare enough to
    * re-identify: any (event_type, value-bucket, day) cell carrying
    * fewer than k = 5 users is a linkage risk (Sweeney 2002 — a rare
    * combination plus any side channel singles a person out), and is
    * exactly what a privacy review needs enumerated BEFORE an events
    * table feeds training data. Counts DISTINCT users per cell (the
    * k in k-anonymity is people, not rows), exact integers only;
    * NaN values are excluded as in the histogram query.
    *
    * Scale shape: one distinct + one count keyed by the cell tuple,
    * both map-side combining; output is only the at-risk tail, which
    * is small by definition.
    */
  val qKAnonymity: Q = Q.sql(
    "q_events_kanonymity",
    """WITH cells AS (
      |  SELECT DISTINCT event_type,
      |    CAST(floor(value / 10) AS BIGINT) AS bucket,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day,
      |    user_id
      |  FROM events WHERE isfinite(value) AND abs(value) <= 1e15),
      |k AS (
      |  SELECT event_type, bucket, day, COUNT(*) AS n_users
      |  FROM cells GROUP BY event_type, bucket, day)
      |SELECT event_type, bucket, day, CAST(n_users AS BIGINT) AS n_users
      |FROM k WHERE n_users < 5
      |ORDER BY event_type ASC NULLS FIRST, bucket ASC, day ASC""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(bucketableValue)
      .select(col("event_type"),
        floor(col("value") / 10).cast(LongType).as("bucket"),
        epochDay(col("ts")).as("day"), col("user_id"))
      .distinct()
      .groupBy("event_type", "bucket", "day")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") < 5)
      .orderBy(col("event_type").asc, col("bucket").asc, col("day").asc)
  }

  /** BOT-CADENCE DETECTION — per-user inter-event-gap regularity: a
    * human's gaps are bursty (squared coefficient of variation ≫ 0), a
    * scripted client fires on a timer (cv² ≈ 0) — the behavioral
    * pre-training-data scrub that catches automation no content rule
    * sees. cv² = Var/Mean² needs no sqrt and reduces to
    * (n·Σx² − (Σx)²)/(Σx)² — all three sums exact DECIMAL integers
    * (gaps are integer µs; Σx telescopes to last−first ts, so (Σx)²
    * stays ~10²⁷ ≪ the 38-digit decimal bound), then ONE double
    * division. Flag: cv² < 0.05 over ≥ 5 gaps.
    *
    * Scale shape: the lag window and the per-user aggregate share one
    * user_id partitioning; per-user state is O(1); output is
    * users-sized.
    */
  val qBotCadence: Q = Q.sql(
    "q_events_bot_cadence",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS gap
      |  FROM e),
      |a AS (
      |  SELECT user_id, COUNT(gap) AS n_gaps, SUM(gap) AS sx,
      |    SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS sxx
      |  FROM g WHERE gap IS NOT NULL
      |  GROUP BY user_id)
      |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
      |  CAST(sx AS BIGINT) AS span_us,
      |  CAST(sx AS DOUBLE) / n_gaps AS mean_gap_us,
      |  CASE WHEN sx > 0
      |    THEN CAST(CAST(CAST(n_gaps AS HUGEINT) * sxx
      |               - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS VARCHAR) AS DOUBLE)
      |           / CAST(CAST(CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS VARCHAR) AS DOUBLE)
      |  END AS cv2,
      |  (sx > 0 AND n_gaps >= 5
      |   AND CAST(CAST(CAST(n_gaps AS HUGEINT) * sxx
      |             - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS VARCHAR) AS DOUBLE)
      |         / CAST(CAST(CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS VARCHAR) AS DOUBLE)
      |       < 0.05) AS is_bot
      |FROM a
      |ORDER BY user_id ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val cv2 = (col("n_gaps") * col("sxx") - col("sx") * col("sx"))
      .cast(DoubleType) / (col("sx") * col("sx")).cast(DoubleType)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
      .withColumn("gap",
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).cast(DecimalType(18, 0)))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(col("gap")).as("n_gaps"), sum(col("gap")).as("sx"),
        sum(col("gap") * col("gap")).as("sxx"))
      .select(col("user_id"), col("n_gaps"),
        col("sx").cast(LongType).as("span_us"),
        (col("sx").cast(DoubleType) / col("n_gaps")).as("mean_gap_us"),
        when(col("sx") > 0, cv2).as("cv2"),
        (col("sx") > 0 && col("n_gaps") >= 5 && cv2 < 0.05).as("is_bot"))
      .orderBy(col("user_id").asc)
  }

  /** AUDIENCE OVERLAP VIA KMV SKETCH ALGEBRA — for every event-type
    * pair, the estimated shared-user count from k-minimum-values
    * sketches (Beyer et al. SIGMOD 2007: union size from the k-th
    * smallest hash of the merged sketch, intersection as the match
    * fraction ρ of the union sketch times the union estimate),
    * side-by-side with the EXACT overlap — the sketch-accuracy audit
    * you run at small scale before trusting the sketch alone at 100 TB,
    * where per-pair exact distinct-intersections (a corpus-sized
    * self-join) stop being computable but the ≤ k-row sketches merge
    * for free. Same 60-bit md5 hash + bottom-64 machinery as
    * q_events_wau_sketch, so the sketches here are literally the ones
    * a production rollup would already maintain.
    *
    * Scale shape: one distinct over (type, user), a two-phase salted
    * bottom-k per type (no single-task window), then every downstream
    * table is ≤ |types|·k rows — the pair matrix is sketch-only. The
    * exact side is the expensive half BY DESIGN (it's the audit); at
    * production scale you drop it and keep the sketch half.
    */
  val qAudienceOverlap: Q = Q.sql(
    "q_events_audience_overlap",
    """WITH du AS (
      |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid FROM events),
      |uh AS (
      |  SELECT DISTINCT event_type,
      |    (SELECT SUM(CAST(strpos('0123456789abcdef',
      |                 substr(md5(uid), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
      |            * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT)))
      |     FROM range(15) t(i)) AS h
      |  FROM du),
      |sk AS (
      |  SELECT event_type, h FROM (
      |    SELECT event_type, h,
      |      row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      |    FROM uh)
      |  WHERE rn <= 64),
      |ty AS (SELECT DISTINCT event_type FROM sk),
      |pairs AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
      |ph AS (
      |  SELECT p.ta, p.tb, s.h,
      |    MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb
      |  GROUP BY p.ta, p.tb, s.h),
      |ranked AS (
      |  SELECT ta, tb, h, in_a, in_b,
      |    row_number() OVER (PARTITION BY ta, tb ORDER BY h ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY ta, tb) AS cnt
      |  FROM ph),
      |ag AS (
      |  SELECT ta, tb, MAX(h) AS hk, COUNT(*) AS m,
      |    SUM(in_a * in_b) AS matches, MAX(cnt) AS cnt
      |  FROM ranked
      |  WHERE rn <= CASE WHEN cnt < 64 THEN cnt ELSE 64 END
      |  GROUP BY ta, tb),
      |ex AS (
      |  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS exact_overlap
      |  FROM du x JOIN du y ON x.uid = y.uid AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT ag.ta AS type_a, ag.tb AS type_b,
      |  CAST(COALESCE(ex.exact_overlap, 0) AS BIGINT) AS exact_overlap,
      |  CASE WHEN ag.cnt < 64 THEN CAST(ag.cnt AS DOUBLE)
      |       ELSE (63e0 * 1152921504606846976e0) / CAST(ag.hk AS DOUBLE)
      |  END AS union_estimate,
      |  (CAST(ag.matches AS DOUBLE) / CAST(ag.m AS DOUBLE)) *
      |    (CASE WHEN ag.cnt < 64 THEN CAST(ag.cnt AS DOUBLE)
      |          ELSE (63e0 * 1152921504606846976e0) / CAST(ag.hk AS DOUBLE)
      |     END) AS kmv_estimate
      |FROM ag LEFT JOIN ex ON ag.ta = ex.ta AND ag.tb = ex.tb
      |ORDER BY type_a ASC, type_b ASC""".stripMargin) { (s, d) =>
    val k = 64
    val du = Tables.events(s, d)
      .select(col("event_type"), col("user_id").cast(StringType).as("uid"))
      .distinct()
    val uh = du
      .select(col("event_type"),
        conv(substring(md5(col("uid").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType).as("h"))
      .distinct()
    val w1 = Window.partitionBy("event_type", "salt").orderBy(col("h").asc)
    val cand = uh.withColumn("salt", pmod(col("h"), lit(64)))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= k).drop("rn", "salt")
    val w2 = Window.partitionBy("event_type").orderBy(col("h").asc)
    val sk = cand.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k).drop("rn")
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val types = sk.select(col("event_type")).distinct()
    val pairs = types.as("x")
      .join(types.as("y"), col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
    val ph = pairs
      .join(broadcast(sk),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy("ta", "tb", "h")
      .agg(max(when(col("event_type") === col("ta"), 1).otherwise(0)).as("in_a"),
        max(when(col("event_type") === col("tb"), 1).otherwise(0)).as("in_b"))
    val w3 = Window.partitionBy("ta", "tb").orderBy(col("h").asc)
    val cut = when(col("cnt") < k, col("cnt")).otherwise(lit(k))
    val ag = ph.withColumn("rn", row_number().over(w3))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("ta", "tb")))
      .filter(col("rn") <= cut)
      .groupBy("ta", "tb")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"),
        sum(col("in_a") * col("in_b")).as("matches"), max(col("cnt")).as("cnt"))
    val ex = du.as("x")
      .join(du.as("y"),
        col("x.uid") === col("y.uid") && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("exact_overlap"))
    val uEst = when(col("cnt") < k, col("cnt").cast(DoubleType))
      .otherwise(lit(63.0 * 1.152921504606846976e18) / col("hk").cast(DoubleType))
    ag.join(ex, Seq("ta", "tb"), "left")
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"),
        uEst.as("union_estimate"),
        ((col("matches").cast(DoubleType) / col("m").cast(DoubleType)) * uEst)
          .as("kmv_estimate"))
      .orderBy(col("type_a").asc, col("type_b").asc)
  }

  /** SESSION PATH MINING — the top-25 three-step user journeys, where
    * a journey never crosses a session boundary (the q_events_sessionize
    * 30-minute gaps-and-islands split): q_events_transitions' bigram
    * matrix says which single step follows which, but product flows are
    * diagnosed on longer paths, and counting trigrams ACROSS a session
    * gap would invent journeys no user took. Trigrams come from two
    * leads over the per-(user, session) window; ties in the top-k break
    * on the path string, so the cut is total.
    *
    * Scale shape: every window (session lag, session-id cumsum, the
    * trigram leads) runs over the SAME (user_id; ts, event_id)
    * partitioning — the leads read session ids ahead and filter on
    * session equality instead of re-partitioning by (user, session),
    * so ONE sort shuffle covers the whole stream; path counts map-side
    * combine to ≤ |types|³ rows; the top-25 lowers to
    * TakeOrderedAndProject (no global sort).
    */
  val qPaths: Q = Q.sql(
    "q_events_paths",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |tri AS (
      |  SELECT event_type AS t1, session_id,
      |    lead(event_type, 1) OVER w2 AS t2,
      |    lead(event_type, 2) OVER w2 AS t3,
      |    lead(session_id, 2) OVER w2 AS s3
      |  FROM sess
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
      |paths AS (
      |  SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
      |  FROM tri WHERE t3 IS NOT NULL AND s3 = session_id
      |  GROUP BY 1)
      |SELECT path, n FROM paths
      |ORDER BY n DESC, path ASC
      |LIMIT 25""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(cum))
    sess
      .select(col("event_type").as("t1"), col("session_id"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"),
        lead(col("session_id"), 2).over(w).as("s3"))
      .filter(col("t3").isNotNull && col("s3") === col("session_id"))
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(25)
  }

  /** SCD TYPE-2 DIMENSION BUILD — the warehouse-classic change-data
    * capture: each user's event_type stream is treated as an attribute
    * change log, and consecutive runs of the same value collapse into
    * versioned validity intervals [valid_from, valid_to) with the open
    * (current) version carrying NULL valid_to. This is the operator a
    * dimension-table maintainer runs over a CDC feed to turn row-level
    * changes into the slowly-changing-dimension shape every BI join
    * expects.
    *
    * Scale shape: change detection (lag), version numbering
    * (row_number) and interval close (lead) are three functions over
    * TWO window specs sharing one partition key — user_id, the natural
    * per-entity shuffle every events op here uses — so the whole build
    * is two sorts within one exchange, no self-join against the
    * change log (the naive SCD2 SQL joins changes to next-changes; the
    * lead() form is shuffle-free past the one hash partition). All
    * comparisons are integer microseconds — exact in both engines.
    */
  val qScd2: Q = Q.sql(
    "q_events_scd2",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |seq AS (
      |  SELECT user_id, event_type, ts_us, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS prev_type
      |  FROM e),
      |chg AS (
      |  SELECT user_id, event_type, ts_us, event_id FROM seq
      |  WHERE prev_type IS NULL OR prev_type <> event_type),
      |ver AS (
      |  SELECT user_id, event_type, ts_us AS valid_from_us,
      |    lead(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS valid_to_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS INT) AS version
      |  FROM chg)
      |SELECT user_id, version, event_type, valid_from_us, valid_to_us,
      |  (valid_to_us IS NULL) AS is_current
      |FROM ver
      |ORDER BY user_id ASC, version ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("valid_from_us"),
        lead(col("ts_us"), 1).over(w).as("valid_to_us"),
        row_number().over(w).as("version"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id").asc, col("version").asc)
  }

  /** L-DIVERSITY AUDIT — the homogeneity-attack complement to
    * [[qKAnonymity]] (Machanavajjhala et al. ICDE 2006): a cell can
    * hold ≥ k distinct users yet leak anyway if they all share one
    * sensitive value (knowing someone is IN the cell reveals their
    * attribute). Quasi-identifiers here are the (value-bucket, day)
    * pair; the sensitive attribute is event_type; flagged rows are
    * cells that PASS the k = 5 anonymity bar but carry fewer than
    * l = 3 distinct sensitive values — the release-blocking set the
    * k-audit alone cannot see.
    *
    * Scale shape: one distinct on the (cell, user, type) tuple, then
    * two exact distinct-counts per cell in a single aggregate —
    * Spark expands multi-distinct into one Expand + two-phase
    * aggregate, all keyed by the cell tuple; output is the at-risk
    * tail. At 100 TB the distincts swap for HLL the same way the
    * k-audit's would (documented trade, exact here for the oracle).
    */
  val qLDiversity: Q = Q.sql(
    "q_events_ldiversity",
    """WITH base AS (
      |  SELECT DISTINCT
      |    CAST(floor(value / 10) AS BIGINT) AS bucket,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day,
      |    user_id, event_type
      |  FROM events WHERE isfinite(value) AND abs(value) <= 1e15),
      |cells AS (
      |  SELECT bucket, day,
      |    COUNT(DISTINCT user_id) AS n_users,
      |    COUNT(DISTINCT event_type) AS l_div
      |  FROM base GROUP BY bucket, day)
      |SELECT bucket, day, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(l_div AS BIGINT) AS l_div
      |FROM cells WHERE n_users >= 5 AND l_div < 3
      |ORDER BY bucket ASC, day ASC""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(bucketableValue)
      .select(floor(col("value") / 10).cast(LongType).as("bucket"),
        epochDay(col("ts")).as("day"), col("user_id"), col("event_type"))
      .distinct()
      .groupBy("bucket", "day")
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("l_div"))
      .filter(col("n_users") >= 5 && col("l_div") < 3)
      .orderBy(col("bucket").asc, col("day").asc)
  }

  /** WATERMARK ADVISOR — the measured answer to "what watermark delay
    * does this stream actually need": per user, arrival order is the
    * event_id sequence and an event's LATENESS is how far its
    * event-time sits behind the running arrival-time maximum
    * (running max(ts) − ts, integer µs — an in-order stream reads 0
    * everywhere). The lateness histogram is exactly the distribution
    * a streaming deploy consults before fixing `withWatermark`: pick
    * the bucket boundary that covers the tail you're willing to wait
    * for, drop what's beyond it — guessing instead is how windowed
    * aggregates silently lose late data.
    *
    * Scale shape: one running-max window on the user_id exchange
    * every per-user op here shares, then a map-side-combined rollup
    * to ≤ 6 buckets; the total for the fraction is a 1-row scalar.
    */
  val qWatermarkAdvisor: Q = Q.sql(
    "q_events_watermark_advisor",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |l AS (
      |  SELECT MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_us
      |    AS late_us
      |  FROM e),
      |b AS (
      |  SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
      |    WHEN late_us < 1000000 THEN 'b_lt_1s'
      |    WHEN late_us < 10000000 THEN 'c_lt_10s'
      |    WHEN late_us < 60000000 THEN 'd_lt_60s'
      |    WHEN late_us < 600000000 THEN 'e_lt_600s'
      |    ELSE 'f_ge_600s' END AS bucket, late_us
      |  FROM l)
      |SELECT bucket, COUNT(*) AS n_events,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |  CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM e) AS fraction
      |FROM b GROUP BY bucket
      |ORDER BY bucket ASC""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("ts_us"))
    val total = e.count()
    e.withColumn("late_us", max(col("ts_us")).over(w) - col("ts_us"))
      .withColumn("bucket",
        when(col("late_us") === 0, "a_on_time")
          .when(col("late_us") < 1000000L, "b_lt_1s")
          .when(col("late_us") < 10000000L, "c_lt_10s")
          .when(col("late_us") < 60000000L, "d_lt_60s")
          .when(col("late_us") < 600000000L, "e_lt_600s")
          .otherwise("f_ge_600s"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_events"), max("late_us").as("max_late_us"))
      .select(col("bucket"), col("n_events"), col("max_late_us"),
        (col("n_events").cast(DoubleType) / lit(total.toDouble)).as("fraction"))
      .orderBy(col("bucket").asc)
  }

  /** RFM SEGMENTATION — the classic marketing/engagement triage
    * (Recency, Frequency, Monetary) per user: days since last event
    * relative to the corpus horizon, event count, decimal-exact value
    * total, and fixed-threshold segment labels on the R and F axes
    * (fixed thresholds, not quantiles: a global NTILE would need a
    * single-partition window, and segment DEFINITIONS that move with
    * the data are an anti-feature for a triage dashboard anyway —
    * the quantile-calibrated variant belongs in a notebook, reading
    * this table).
    *
    * Scale shape: one per-user aggregate (map-side combined) plus a
    * 1-row horizon scalar inlined as a literal; output is users-sized
    * with no window anywhere.
    */
  val qRfm: Q = Q.sql(
    "q_events_rfm",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day,
      |    value
      |  FROM events WHERE isfinite(value)),
      |mx AS (SELECT MAX(day) AS maxday FROM e),
      |u AS (
      |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS frequency,
      |    CAST(SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS monetary
      |  FROM e GROUP BY user_id)
      |SELECT user_id, mx.maxday - last_day AS recency_days, frequency, monetary,
      |  CASE WHEN mx.maxday - last_day < 7 THEN 'active'
      |    WHEN mx.maxday - last_day < 28 THEN 'warm'
      |    ELSE 'dormant' END AS r_seg,
      |  CASE WHEN frequency >= 50 THEN 'heavy'
      |    WHEN frequency >= 10 THEN 'medium'
      |    ELSE 'light' END AS f_seg
      |FROM u CROSS JOIN mx
      |ORDER BY user_id ASC""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(finiteValue)
      .select(col("user_id"), epochDay(col("ts")).as("day"), col("value"))
    val maxDay = e.agg(max("day")).head().getLong(0)
    e.groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
        sum(dec(col("value"))).cast(DoubleType).as("monetary"))
      .withColumn("recency_days", lit(maxDay) - col("last_day"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        when(col("recency_days") < 7, "active")
          .when(col("recency_days") < 28, "warm")
          .otherwise("dormant").as("r_seg"),
        when(col("frequency") >= 50, "heavy")
          .when(col("frequency") >= 10, "medium")
          .otherwise("light").as("f_seg"))
      .orderBy(col("user_id").asc)
  }

  /** EXACT DISTRIBUTED QUANTILES — per-type exact median and p90
    * WITHOUT a per-group full sort: the distributed selection
    * algorithm. Pass 0 takes per-type (min, max) — #types rows — and
    * derives an ADAPTIVE bucket width (range / 8192, floored at the
    * smallest normal double), the same driver-bound idiom as the
    * shard-packing prefix sum (SCALING.md §4). Pass 1 histograms
    * (type, floor((value-min)/width)) — map-side combined, so the
    * driver collect is ≤ ~8K buckets PER TYPE at ANY value-domain
    * width (the old floor(value) bucketing was unbounded in the
    * distinct-integer count of the domain). The driver prefix
    * locates, for each target rank k, the ONE bucket holding the
    * k-th value and its rank offset; pass 2 sorts ONLY those buckets
    * (bucket-sized windows) and picks the needed rows via a
    * broadcast target join. Bucket ids are weakly monotone in value
    * (subtract + divide-by-positive + floor), so rank locating is
    * exact; the k-th VALUE of the sorted multiset is well-defined
    * under ties, so the result is exact and engine-portable; the
    * median's (v_lo + v_hi)/2 is one IEEE add + halve of identical
    * doubles.
    *
    * This is what replaces approx_percentile when the SLA says exact:
    * at 100 TB a per-type global sort is one task per type (types are
    * few — the funnel), while this shape's largest task is one value
    * bucket (~n/8192 rows). ORACLE: DuckDB replays with the naive
    * per-type row_number (the oracle needn't scale), proving the
    * selection picks identical values.
    */
  val qExactQuantiles: Q = Q.sql(
    "q_events_exact_quantiles",
    """WITH e AS (
      |  SELECT event_type, value FROM events WHERE isfinite(value)),
      |r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  (MAX(CASE WHEN rn = (n + 1) // 2 THEN value END)
      |    + MAX(CASE WHEN rn = (n + 2) // 2 THEN value END)) / 2 AS median,
      |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90
      |FROM r GROUP BY event_type
      |ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .filter(finiteValue)
      .select(col("event_type"), col("value"))
    // pass 0: per-type adaptive bucket width — #types rows, broadcast back
    val stats = broadcast(e.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
      .select(col("event_type"), col("mn"),
        greatest((col("mx") - col("mn")) / lit(8192.0),
          lit(java.lang.Double.MIN_NORMAL)).as("w")))
    // null-SAFE joins throughout: a NULL event_type is a real group
    // (the oracle's GROUP BY keeps it) and a plain equi-join would
    // silently drop its quantiles
    val eb = e.join(stats.withColumnRenamed("event_type", "__t"),
        col("event_type") <=> col("__t")).drop("__t")
      .select(col("event_type"), col("value"),
        floor((col("value") - col("mn")) / col("w")).cast(LongType).as("b"))
    // pass 1: bounded histogram (≤ ~8K buckets/type at any domain width)
    val hist = eb.groupBy("event_type", "b")
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val targets = hist.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val sorted = rows.sortBy(_._2)
      val n = sorted.map(_._3).sum
      val ks = Seq((n + 1) / 2, (n + 2) / 2, (9 * n + 9) / 10).distinct
      var cum = 0L
      val located = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      sorted.foreach { case (_, b, c) =>
        ks.foreach { k =>
          if (k > cum && k <= cum + c) located += ((t, b, k - cum, k))
        }
        cum += c
      }
      located.map { case (tt, b, rnInB, k) => (tt, b, rnInB, k, n) }
    }
    import s.implicits._
    val targetDf = broadcast(
      targets.toDF("event_type", "b", "rn_in_b", "k", "n"))
    // pass 2: sort only the buckets that hold a target rank (same
    // bucket expression as pass 1 via the shared eb frame)
    val w = Window.partitionBy(col("event_type"), col("b"))
      .orderBy(col("value").asc)
    val tb = targetDf.select(col("event_type").as("__t"), col("b").as("__b"))
      .distinct()
    val t2 = targetDf.select(col("event_type").as("__t"), col("b").as("__b"),
      col("rn_in_b").as("__r"), col("k"), col("n"))
    val picked = eb
      .join(broadcast(tb), col("event_type") <=> col("__t") &&
        col("b") === col("__b")).drop("__t", "__b")
      .withColumn("rn_in_b", row_number().over(w).cast(LongType))
      .join(broadcast(t2), col("event_type") <=> col("__t") &&
        col("b") === col("__b") && col("rn_in_b") === col("__r"))
      .select(col("event_type"), col("k"), col("n"), col("value"))
    picked.groupBy("event_type")
      .agg(max("n").as("n"),
        ((max(when(col("k") === expr("(n + 1) div 2"), col("value")))
          + max(when(col("k") === expr("(n + 2) div 2"), col("value")))) / 2)
          .as("median"),
        max(when(col("k") === expr("(9 * n + 9) div 10"), col("value")))
          .as("p90"))
      .select(col("event_type"), col("n"), col("median"), col("p90"))
      .orderBy(col("event_type").asc)
  }

  /** A/B CONVERSION z-TEST — the experimentation readout: variants
    * split by user_id parity (the deterministic stand-in for an
    * assignment column), conversion = at-least-one 'purchase',
    * two-proportion pooled z-score with a |z| > 1.96 significance
    * flag. Every input to the float chain is an exact-integer-derived
    * double, the expression tree is parenthesized identically in both
    * engines, and sqrt of identical doubles is correctly-rounded by
    * both — so even the statistic is hash-exact.
    *
    * Scale shape: one distinct over (variant, user, converted) — the
    * per-user collapse — then a 2-row aggregate and a driver-free
    * 1-row combine via conditional sums.
    */
  val qAbTest: Q = Q.sql(
    "q_events_ab_test",
    """WITH u AS (
      |  SELECT user_id % 2 AS variant, user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND NOT isnan(value)
      |      AND value >= 50 THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2),
      |v AS (
      |  SELECT variant, COUNT(*) AS n, SUM(conv) AS c FROM u GROUP BY variant),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
      |    MAX(CASE WHEN variant = 0 THEN c END) AS c_a,
      |    MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
      |    MAX(CASE WHEN variant = 1 THEN c END) AS c_b
      |  FROM v),
      |x AS (
      |  SELECT n_a, c_a, n_b, c_b,
      |    CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
      |    CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
      |    sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE))) AS se
      |  FROM w)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a, rate_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b, rate_b,
      |  CASE WHEN se > 0 THEN (rate_a - rate_b) / se ELSE 0e0 END AS z,
      |  (CASE WHEN se > 0 THEN abs((rate_a - rate_b) / se)
      |    ELSE 0e0 END) > 1.96 AS significant
      |FROM x
      |ORDER BY n_a ASC""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && !isnan(col("value"))
        && col("value") >= 50, 1).otherwise(0)).as("conv"))
    val v = u.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
    val w = v.agg(
      max(when(col("variant") === 0, col("n"))).as("n_a"),
      max(when(col("variant") === 0, col("c"))).as("c_a"),
      max(when(col("variant") === 1, col("n"))).as("n_b"),
      max(when(col("variant") === 1, col("c"))).as("c_b"))
    val rateA = col("c_a").cast(DoubleType) / col("n_a").cast(DoubleType)
    val rateB = col("c_b").cast(DoubleType) / col("n_b").cast(DoubleType)
    val pooled = (col("c_a") + col("c_b")).cast(DoubleType) /
      (col("n_a") + col("n_b")).cast(DoubleType)
    val x = w.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      sqrt(pooled * (lit(1) - pooled) *
        (lit(1.0) / col("n_a").cast(DoubleType)
          + lit(1.0) / col("n_b").cast(DoubleType))).as("se"))
    // a zero-variance experiment (all or none convert) has no signal:
    // z pins to 0 instead of tripping ANSI's double divide-by-zero
    val z = when(col("se") > 0,
      (col("rate_a") - col("rate_b")) / col("se")).otherwise(0.0)
    x.select(col("n_a"), col("c_a"), col("rate_a"),
      col("n_b"), col("c_b"), col("rate_b"),
      z.as("z"), (abs(z) > 1.96).as("significant"))
      .orderBy(col("n_a").asc)
  }

  /** STICKINESS (DAU/MAU) — the engagement-quality ratio every
    * consumer product tracks: per day, exact daily actives over exact
    * trailing-28-day actives. The oracle states MAU as the obvious
    * explode-to-28-observation-days distinct; the engine computes it
    * with NO per-day distinct and NO 28× row blowup: a user counts
    * toward MAU(D) iff D falls inside the union of their
    * [day, day+27] contribution windows, so each user's presence days
    * merge into disjoint spans (gaps-and-islands: a new span starts
    * when the gap to the previous active day exceeds 27), each span
    * emits ±1 boundary deltas, and MAU is the running delta sum read
    * at each DAU day. The old shape's per-observation-day distinct
    * shuffled presence×28 rows onto a FIXED number of day keys —
    * per-key work grew linearly with SF against constant parallelism
    * (measured exponent 1.14/decade); the sweep shuffles ≤2 rows per
    * span and aggregates on the day-grain table, which grows with
    * CALENDAR TIME, not data volume (a year is 366 rows — the one
    * single-partition window is over that table).
    */
  val qStickiness: Q = Q.sql(
    "q_events_stickiness",
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day
      |  FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM p GROUP BY day),
      |obs AS (
      |  SELECT user_id, unnest(range(day, day + 28)) AS obs_day FROM p),
      |mau AS (
      |  SELECT obs_day AS day, COUNT(DISTINCT user_id) AS mau
      |  FROM obs GROUP BY obs_day)
      |SELECT d.day, d.dau, m.mau,
      |  CAST(d.dau AS DOUBLE) / m.mau AS stickiness
      |FROM dau d JOIN mau m ON d.day = m.day
      |ORDER BY d.day ASC""".stripMargin) { (s, d) =>
    val p = Tables.events(s, d)
      .select(col("user_id"), epochDay(col("ts")).as("day"))
      .distinct()
    val dau = p.groupBy("day").agg(count(lit(1)).as("dau"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val spans = p
      .withColumn("prev", lag(col("day"), 1).over(wU))
      .withColumn("is_new",
        when(col("prev").isNull || col("day") > col("prev") + 27, 1)
          .otherwise(0))
      .withColumn("span", sum(col("is_new")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("span"))
      .agg(min(col("day")).as("s"), (max(col("day")) + 27).as("e"))
    val deltas = spans.select(col("s").as("day"), lit(1L).as("net"))
      .unionByName(spans.select((col("e") + 1).as("day"),
        lit(-1L).as("net")))
      // DAU days ride as zero-weight rows so the running sum has a
      // value at every output day (deltas only mark span boundaries)
      .unionByName(dau.select(col("day"), lit(0L).as("net")))
      .groupBy("day").agg(sum(col("net")).as("net"))
    val swept = deltas.withColumn("mau", sum(col("net")).over(
      Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    dau.join(swept.select(col("day"), col("mau")), Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast(DoubleType) / col("mau").cast(DoubleType))
          .as("stickiness"))
      .orderBy(col("day").asc)
  }

  /** The shared sessionization CTE chain (e → flagged → sessions →
    * spans): per-user 1800 s-gap sessions reduced to (user_id,
    * session_id, n_events, start_sec, end_sec) interval rows — the
    * ONE session definition [[qSessionize]], [[qPeakConcurrency]] and
    * [[qIntervalOverlap]] all build on, so the three queries cannot
    * drift apart (q_events_sessionize's output IS a projection of
    * this table).
    */
  private lazy val sessionSpansSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER w IS NULL
      |      OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC)),
      |numbered AS (
      |  SELECT user_id, ts_sec,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |spans AS (
      |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |    COUNT(*) AS n_events,
      |    MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec
      |  FROM numbered GROUP BY user_id, session_id)""".stripMargin

  /** Spark side of [[sessionSpansSql]]'s `spans` — MEMOIZED per
    * (session, corpus): two consumers are self-join shapes (sweep vs
    * its own per-day peaks; interval cells vs interval cells), and
    * without materialization each side re-runs the full two-window
    * sessionize chain — plan-verified double work. The span table is
    * sessions-sized (≪ events), so the checkpoint is cheap to hold,
    * and all three session queries share one sessionize pass per
    * session per corpus.
    */
  private def sessionSpans(s: org.apache.spark.sql.SparkSession,
                           d: String): DataFrame =
    SharedFrames.frame(s, s"session_spans:$d") {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec").asc, col("event_id").asc)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          floor(unix_micros(col("ts").cast(TimestampType)) / lit(1000000L))
            .as("ts_sec"))
        .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
        .withColumn("is_new",
          when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(cum))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_sec")).as("start_sec"), max(col("ts_sec")).as("end_sec"))
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** PEAK CONCURRENCY — the capacity-planning sweep-line: per UTC day,
    * the maximum number of simultaneously open sessions and the first
    * second it is reached. Sessions clip to day boundaries (a span
    * crossing midnight counts in both days), become ±1 delta events
    * (+1 at start, −1 at end+1), deltas NET per second, and a per-day
    * running sum sweeps to the max — the standard interval-stabbing
    * answer with NO interval join anywhere.
    *
    * Scale shape: the sweep window partitions by day (never a global
    * single-partition sort); the day-clip explode is bounded by
    * session length in days (gap-bounded sessions are short); deltas
    * are keys+counts. Integer seconds and integer counts end-to-end —
    * nothing for IEEE to disturb.
    */
  val qPeakConcurrency: Q = Q.sql(
    "q_events_peak_concurrency",
    s"""$sessionSpansSql,
       |clipped AS (
       |  SELECT CAST(day AS BIGINT) AS day,
       |    GREATEST(start_sec, day * 86400) AS s,
       |    LEAST(end_sec, day * 86400 + 86399) AS t
       |  FROM (SELECT user_id, session_id, start_sec, end_sec,
       |          unnest(range(start_sec // 86400, end_sec // 86400 + 1)) AS day
       |        FROM spans)),
       |deltas AS (
       |  SELECT day, s AS ts, 1 AS delta FROM clipped
       |  UNION ALL
       |  SELECT day, t + 1 AS ts, -1 AS delta FROM clipped),
       |net AS (
       |  SELECT day, ts, SUM(delta) AS net FROM deltas GROUP BY day, ts),
       |swept AS (
       |  SELECT day, ts,
       |    SUM(net) OVER (PARTITION BY day ORDER BY ts ASC) AS run
       |  FROM net),
       |peaks AS (SELECT day, MAX(run) AS peak FROM swept GROUP BY day)
       |SELECT p.day AS day, CAST(p.peak AS BIGINT) AS peak,
       |  MIN(s.ts) AS first_peak_sec
       |FROM swept s JOIN peaks p ON s.day = p.day AND s.run = p.peak
       |GROUP BY p.day, p.peak
       |ORDER BY p.day ASC""".stripMargin) { (s, d) =>
    val clipped = sessionSpans(s, d)
      .withColumn("day", explode(sequence(
        floor(col("start_sec") / 86400).cast(LongType),
        floor(col("end_sec") / 86400).cast(LongType))))
      .select(col("day"),
        greatest(col("start_sec"), col("day") * 86400).as("s"),
        least(col("end_sec"), col("day") * 86400 + 86399).as("t"))
    val deltas = clipped.select(col("day"), col("s").as("ts"), lit(1).as("delta"))
      .unionByName(clipped.select(col("day"), (col("t") + 1).as("ts"),
        lit(-1).as("delta")))
    val swept = deltas.groupBy("day", "ts").agg(sum("delta").as("net"))
      .withColumn("run", sum(col("net")).over(
        Window.partitionBy("day").orderBy(col("ts").asc)))
    // derived-from-self join: rename the peak side's columns so the
    // analyzer cannot see an ambiguous lineage
    val peaks = swept.groupBy(col("day").as("p_day"))
      .agg(max(col("run")).as("peak"))
    swept.join(peaks,
        col("day") === col("p_day") && col("run") === col("peak"))
      .groupBy(col("p_day").as("day"), col("peak").cast(LongType).as("peak"))
      .agg(min(col("ts")).as("first_peak_sec"))
      .orderBy(col("day").asc)
  }

  /** INTERVAL-OVERLAP degree — the interval×interval sibling of
    * q_range_join's point-in-band shape: for every session, how many
    * OTHER users' sessions overlap it in time (top 100 by degree).
    *
    * The oracle states the spec as the obvious pair join; the engine
    * computes the degree WITHOUT materializing a single pair, by the
    * exact sweep-rank identity over span a = [sₐ, eₐ]:
    *
    *   n_overlapping(a) = [#starts ≤ eₐ − #ends < sₐ]
    *                    − [same for a's own user's sessions]
    *
    * (a span overlaps a iff it starts by eₐ and has not ended before
    * sₐ; every span with end < sₐ also started before sₐ, so the
    * difference counts overlaps exactly; the per-user term removes a
    * itself and same-user sessions in one stroke.) Each rank is a
    * merged-event running count: start/end rows and query rows union
    * into one frame ordered by (time, kind) — kind ordering resolves
    * the ≤ vs < tie direction — and a running SUM of the event flag
    * read at the query rows is the rank. The global rank uses the
    * catalog's two-phase prefix idiom (adaptive time buckets →
    * bounded ≤8192-row driver prefix → broadcast offsets + per-bucket
    * window); the per-user rank is a plain user-partitioned window.
    *
    * Scale shape: the prior grid-bucketed candidate join was
    * O(Σ cell-occupancy²) — measured fatal at sf10, where co-peaking
    * sessions drove >100 GB of shuffle spill into ENOSPC. The sweep is
    * O(N log N) in spans with only narrow 5-column rows in any
    * exchange, and no interval ever meets another: degree-counting
    * needs ranks, not pairs.
    */
  val qIntervalOverlap: Q = Q.sql(
    "q_events_interval_overlap",
    s"""$sessionSpansSql,
       |cells AS (
       |  SELECT user_id, session_id, start_sec, end_sec,
       |    unnest(range(start_sec // 1800, end_sec // 1800 + 1)) AS cell
       |  FROM spans),
       |pairs AS (
       |  SELECT DISTINCT
       |    a.user_id AS user_a, a.session_id AS session_a,
       |    b.user_id AS user_b, b.session_id AS session_b
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.user_id <> b.user_id
       |  WHERE a.start_sec <= b.end_sec AND b.start_sec <= a.end_sec)
       |SELECT user_a AS user_id, session_a AS session_id,
       |  COUNT(*) AS n_overlapping
       |FROM pairs
       |GROUP BY user_a, session_a
       |ORDER BY n_overlapping DESC, user_id ASC, session_id ASC
       |LIMIT 100""".stripMargin) { (s, d) =>
    // checkpointed spans table: the min/max probe, two bucket-count
    // collects, and the final plan all read the materialized spans
    intervalOverlapFromSpans(sessionSpans(s, d))
  }

  /** The whole overlap-ranking tail of [[qIntervalOverlap]] over ANY
    * (user_id, session_id, start_sec, end_sec) span table.
    */
  private[graft] def intervalOverlapFromSpans(spans: DataFrame): DataFrame = {
    val mm = spans.agg(min("start_sec"), max("end_sec")).head()
    val (lo, hi) =
      if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
    val width = math.max(1800L, (hi - lo) / overlapDriverBuckets + 1)
    val nBuckets = (hi - lo) / width + 1
    val started = sweepRank(
      spans.select(col("start_sec").as("time"), col("user_id")),
      spans.select(col("end_sec").as("time"), col("user_id"),
        col("session_id")),
      eventsWinTies = true, lo, width, nBuckets,
      "all_started", "user_started")
    val ended = sweepRank(
      spans.select(col("end_sec").as("time"), col("user_id")),
      spans.select(col("start_sec").as("time"), col("user_id"),
        col("session_id")),
      eventsWinTies = false, lo, width, nBuckets,
      "all_ended", "user_ended")
    started.join(ended, Seq("user_id", "session_id"))
      .withColumn("n_overlapping",
        (col("all_started") - col("all_ended")) -
          (col("user_started") - col("user_ended")))
      .filter(col("n_overlapping") > 0)
      .select(col("user_id"), col("session_id"), col("n_overlapping"))
      .orderBy(col("n_overlapping").desc, col("user_id").asc,
        col("session_id").asc)
      .limit(100)
  }

  private val overlapDriverBuckets = 8192L

  /** Merged-event running rank for [[qIntervalOverlap]]: for each
    * `queries` row, the number of `events` rows at-or-before it in
    * (time, kind) order — globally (two-phase: adaptive time buckets,
    * dense driver-side exclusive prefix over ≤8192 bucket counts,
    * broadcast offsets + per-bucket running sum) and per user (plain
    * user-partitioned window; a user's session count is bounded).
    * `eventsWinTies = true` sorts events before queries at equal time
    * (rank counts events ≤ t); `false` sorts them after (rank counts
    * events < t). The prefix table is DENSE over the bucket range so
    * buckets holding only query rows still receive their offset.
    * Deterministic: query rows carry is_ev = 0, so their running sums
    * depend only on event rows strictly ahead in (time, kind) order —
    * tied query rows cannot disturb each other.
    */
  private def sweepRank(events: DataFrame, queries: DataFrame,
                        eventsWinTies: Boolean, lo: Long, width: Long,
                        nBuckets: Long,
                        globalName: String, userName: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (evKind, qKind) = if (eventsWinTies) (0, 1) else (1, 0)
    val merged = events
      .select(col("time"), col("user_id"),
        lit(null).cast(LongType).as("session_id"),
        lit(1L).as("is_ev"), lit(evKind).as("kind"))
      .unionByName(queries.select(col("time"), col("user_id"),
        col("session_id"), lit(0L).as("is_ev"), lit(qKind).as("kind")))
      .withColumn("__bucket",
        floor((col("time") - lit(lo)) / lit(width)).cast(LongType))
    val perBucket = merged.filter(col("is_ev") === 1L)
      .groupBy("__bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    var acc = 0L
    val offsets = (0L until nBuckets).map { b =>
      val off = acc; acc += perBucket.getOrElse(b, 0L); (b, off)
    }
    val cum = Window
      .partitionBy(col("__bucket"))
      .orderBy(col("time").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumUser = Window
      .partitionBy(col("user_id"))
      .orderBy(col("time").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .join(broadcast(offsets.toDF("__bucket", "__offset")), Seq("__bucket"))
      .withColumn(globalName, sum(col("is_ev")).over(cum) + col("__offset"))
      .withColumn(userName, sum(col("is_ev")).over(cumUser))
      .filter(col("is_ev") === 0L)
      .select(col("user_id"), col("session_id"),
        col(globalName), col(userName))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the mergeable-state algebra
    * every incremental pipeline at 100 TB stands on: never re-scan
    * history, fold the new partition's partial state into the stored
    * one. The engine computes per-type stats as TWO independent
    * partial states (events before / since a mid-month cut) merged by
    * the state algebra — counts and decimal sums add, min/max
    * combine, and the derived mean/variance come off the merged
    * moments; the oracle aggregates the whole table directly in one
    * pass. The driver's hash gate therefore IS the merge-correctness
    * proof: state ⊕ state must be bit-identical to recompute, or the
    * row hashes diverge.
    *
    * Variance uses the (Σv², Σv, n) moment form — each moment exact
    * in DECIMAL, the final two IEEE ops (divide, subtract) identical
    * expression trees in both engines. Non-finite values are excluded
    * once on both sides ([[finiteValue]] / isfinite) like the sibling
    * adaptive-bucket queries: an unguarded DECIMAL(12,2) cast of
    * NaN/Infinity yields NULL in Spark but raises in DuckDB, and
    * min/max NaN ordering differs — the guard closes both surfaces.
    * At 100 TB the two branches are yesterday's persisted state table
    * and today's delta; the merge is a ≤#types-row aggregate.
    */
  val qIncrementalAgg: Q = Q.sql(
    "q_events_incremental_agg",
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n_events,
      |    SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS sv,
      |    SUM(TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))
      |      * TRY_CAST(CASE WHEN isnan(value) THEN NULL ELSE value END AS DECIMAL(12,2))) AS svv,
      |    MIN(value) AS min_value, MAX(value) AS max_value
      |  FROM events WHERE isfinite(value) GROUP BY event_type)
      |SELECT event_type, n_events,
      |  CAST(sv AS DOUBLE) AS sum_value,
      |  min_value, max_value,
      |  CAST(sv AS DOUBLE) / n_events AS mean_value,
      |  CAST(svv AS DOUBLE) / n_events
      |    - (CAST(sv AS DOUBLE) / n_events)
      |      * (CAST(sv AS DOUBLE) / n_events) AS var_pop
      |FROM m ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("sv"),
        sum(dec(col("value")) * dec(col("value"))).as("svv"),
        min("value").as("mn"), max("value").as("mx"))
    val ev = Tables.events(s, d).filter(finiteValue)
    // the two partitions must COVER the table — a null ts (possible
    // under either physical ts shape) goes to the "new" side, so the
    // merge-vs-recompute proof stays sound on any corpus
    partial(ev.filter(col("ts") < cut))
      .unionByName(partial(ev.filter(col("ts") >= cut || col("ts").isNull)))
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), sum("sv").as("svm"),
        sum("svv").as("svvm"), min("mn").as("min_value"),
        max("mx").as("max_value"))
      .select(col("event_type"), col("n_events"),
        col("svm").cast(DoubleType).as("sum_value"),
        col("min_value"), col("max_value"),
        (col("svm").cast(DoubleType) / col("n_events")).as("mean_value"),
        (col("svvm").cast(DoubleType) / col("n_events")
          - (col("svm").cast(DoubleType) / col("n_events"))
            * (col("svm").cast(DoubleType) / col("n_events"))).as("var_pop"))
      .orderBy(col("event_type").asc)
  }

  /** SIMPLE EXPONENTIAL SMOOTHING over the per-type daily series —
    * the forecasting baseline every ops dashboard runs on its volume
    * counts. α is FIXED AT ½ so every weight is dyadic (2^−(j+1) has
    * an exact finite decimal expansion), the recursion unrolls to a
    * 12-term weighted sum computed entirely in DECIMAL, and the
    * result is bit-identical across engines — an arbitrary α's
    * pow() would drift in the last ulp between libm and the JVM (the
    * same transcendental-avoidance call as q_events_dp_counts).
    * Truncation at 12 terms discards ≤ 2^−12 of the weight mass;
    * warm-up rows (the first 11 days per type) are NOT emitted, so
    * every published value carries the full declared window.
    *
    * Scale shape: one dense (type × day) grid (tiny — the month grid
    * times the key domain), one window pass per type with 12 lag
    * taps; no self-joins, no recursion at runtime.
    */
  val qSes: Q = {
    val weights = (1 to 12).map(j =>
      java.math.BigDecimal.ONE.divide(new java.math.BigDecimal(1L << j)))
    val sqlTerms = weights.zipWithIndex.map { case (wj, j) =>
      s"CAST(LAG(n, $j, 0) OVER w AS DECIMAL(10,0))\n      |    * CAST(${wj.toPlainString} AS DECIMAL(13,12))"
    }.mkString("\n      |  + ")
    Q.sql(
      "q_events_ses",
      s"""WITH $dailyGridSql,
         |smoothed AS (
         |  SELECT event_type, day, n,
         |    ROW_NUMBER() OVER w AS rn,
         |    $sqlTerms AS ses_dec
         |  FROM grid
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC))
         |SELECT event_type, day, CAST(n AS BIGINT) AS n,
         |  CAST(ses_dec AS DOUBLE) AS ses
         |FROM smoothed WHERE rn >= 12
         |ORDER BY event_type ASC NULLS FIRST, day ASC""".stripMargin) { (s, d) =>
      val grid = dailyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      val ses = weights.zipWithIndex.map { case (wj, j) =>
        lag(col("n"), j, 0L).over(w).cast(DecimalType(10, 0)) *
          lit(wj).cast(DecimalType(13, 12))
      }.reduce(_ + _)
      grid
        .withColumn("rn", row_number().over(w))
        .withColumn("ses_dec", ses)
        .filter(col("rn") >= 12)
        .select(col("event_type"), col("day"), col("n"),
          col("ses_dec").cast(DoubleType).as("ses"))
        .orderBy(col("event_type").asc, col("day").asc)
    }
  }

  /** ROBUST TREND over the per-type daily series — Theil–Sen slope
    * (the median of all pairwise day-to-day slopes, Sen JASA 1968:
    * breakdown point 29%, immune to the outlier days that drag OLS)
    * reported NEXT TO the OLS slope, so the gap between them is
    * itself the outlier diagnostic.
    *
    * Determinism: every pairwise slope is an IEEE divide of exact
    * integers (identical doubles in both engines); the median is an
    * order statistic (avg of the two middles when even — both
    * engines' convention), never a sum. OLS runs on integer moment
    * sums (Σd, Σn, Σdn, Σd²) with ONE final divide; int64 holds
    * until ~4·10^14 events/day·days — stated contract, cast
    * explicitly on the oracle side so both engines do int64 math.
    *
    * Scale shape: the pair join is CO-PARTITIONED per type and the
    * pair space is (#days choose 2) per type — bounded by the
    * calendar, not the corpus (30 days → 435 pairs however many
    * events); the OLS moments map-side combine to one row per type.
    */
  val qTrend: Q = Q.sql(
    "q_events_trend",
    """WITH dgrid AS (
      |  SELECT event_type,
      |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
      |      AS BIGINT) AS day,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.n - a.n AS DOUBLE) / (b.day - a.day) AS slope
      |  FROM dgrid a JOIN dgrid b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |ts_med AS (
      |  SELECT event_type, MEDIAN(slope) AS theil_sen_slope
      |  FROM pairs GROUP BY 1),
      |ols AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(day) AS BIGINT) AS sx, CAST(SUM(n) AS BIGINT) AS sy,
      |    CAST(SUM(day * n) AS BIGINT) AS sxy,
      |    CAST(SUM(day * day) AS BIGINT) AS sxx
      |  FROM dgrid GROUP BY 1)
      |SELECT o.event_type, o.m AS n_days,
      |  CAST(o.m * o.sxy - o.sx * o.sy AS DOUBLE)
      |    / CAST(o.m * o.sxx - o.sx * o.sx AS DOUBLE) AS ols_slope,
      |  t.theil_sen_slope
      |FROM ols o JOIN ts_med t ON o.event_type = t.event_type
      |ORDER BY o.event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val g = Tables.events(s, d)
      .groupBy(col("event_type"), epochDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val slopes = g.select(col("event_type"), col("day").as("da"), col("n").as("na"))
      .join(g.select(col("event_type"), col("day").as("db"), col("n").as("nb")),
        Seq("event_type"))
      .filter(col("da") < col("db"))
      .select(col("event_type"),
        ((col("nb") - col("na")).cast(DoubleType) / (col("db") - col("da")))
          .as("slope"))
    val tsMed = slopes.groupBy("event_type")
      .agg(median(col("slope")).as("theil_sen_slope"))
    g.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("day").as("sx"), sum("n").as("sy"),
        sum(col("day") * col("n")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .join(tsMed, "event_type")
      .select(col("event_type"), col("m").as("n_days"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
          / (col("m") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
          .as("ols_slope"),
        col("theil_sen_slope"))
      .orderBy(col("event_type").asc)
  }

  /** CUSUM LEVEL-SHIFT DETECTION over the per-type daily series (Page
    * Biometrika 1954): the day where the cumulative deviation of
    * observed prefix mass from the expected (uniform-rate) prefix
    * peaks — the classic changepoint locator for "when did the volume
    * regime shift". INTEGER-EXACT throughout: the statistic is scaled
    * by m (C_t = m·prefix_t − t·total, so no per-row mean division),
    * argmax ties break on the earlier day, and only the final
    * per-type normalization divides. Pairs with [[qTrend]] and
    * [[qSes]] as the detection leg of the time-series family.
    *
    * Scale shape: dense per-type grid (calendar-bounded), one window
    * prefix sum and one argmax window per type; int64 holds until
    * m·total ≈ 2^63 (≈ 3·10^17 events/month) — stated contract.
    */
  val qChangepoint: Q = Q.sql(
    "q_events_changepoint",
    s"""WITH $dailyGridSql,
      |pfx AS (
      |  SELECT event_type, day,
      |    SUM(n) OVER w AS p,
      |    ROW_NUMBER() OVER w AS t,
      |    SUM(n) OVER (PARTITION BY event_type) AS total,
      |    COUNT(*) OVER (PARTITION BY event_type) AS m
      |  FROM grid
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
      |cusum AS (
      |  SELECT event_type, day,
      |    CAST(m AS BIGINT) * CAST(p AS BIGINT)
      |      - CAST(t AS BIGINT) * CAST(total AS BIGINT) AS c,
      |    CAST(m AS BIGINT) AS m
      |  FROM pfx),
      |ranked AS (
      |  SELECT event_type, day, c, m,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(c) DESC, day ASC) AS rn
      |  FROM cusum)
      |SELECT event_type, day AS cp_day, CAST(abs(c) AS BIGINT) AS cusum_abs,
      |  CAST(abs(c) AS DOUBLE) / m AS deviation_events
      |FROM ranked WHERE rn = 1
      |ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val grid = dailyGrid(s, d)
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wAll = Window.partitionBy("event_type")
    val cusum = grid
      .withColumn("p", sum("n").over(w))
      .withColumn("t", row_number().over(w).cast(LongType))
      .withColumn("total", sum("n").over(wAll))
      .withColumn("m", count(lit(1)).over(wAll).cast(LongType))
      .withColumn("c", col("m") * col("p") - col("t") * col("total"))
    cusum
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("c")).desc,
          col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        abs(col("c")).as("cusum_abs"),
        (abs(col("c")).cast(DoubleType) / col("m")).as("deviation_events"))
      .orderBy(col("event_type").asc)
  }

  /** Holt tap weights × 2^24 for window position j (0 = oldest of
    * 12): level taps and trend taps — generated from the α = β = ½
    * zero-init recursion with exact rational arithmetic;
    * IncrementalMechanismsSpec re-derives the FULL vectors
    * independently (element-wise, so a transposition cannot hide).
    * Shared by [[qHolt]] and [[qBacktest]] — one source of truth.
    */
  private[graft] val holtTapsL = Seq(54742L, -57544L, -253344L, -518272L,
    -788992L, -935936L, -761856L, -32768L, 1441792L, 3670016L, 6291456L,
    8388608L)
  private[graft] val holtTapsB = Seq(139657L, 167028L, 138256L, 11584L,
    -247552L, -642048L, -1110016L, -1490944L, -1507328L, -786432L,
    1048576L, 4194304L)

  /** HOLT LINEAR (level + trend) FORECAST over the per-type daily
    * series — [[qSes]]'s double-exponential sibling: with α = β = ½
    * and zero initial state, the 12-day windowed recursion
    *   l_t = (x_t + l_{t−1} + b_{t−1})/2,
    *   b_t = (l_t − l_{t−1})/2 + b_{t−1}/2
    * unrolls to fixed dyadic tap weights. Those weights are carried
    * as INTEGERS scaled by 2^24 (generated from the recursion with
    * exact rational arithmetic; IncrementalMechanismsSpec re-derives
    * them independently), so level, trend and the 7-day-ahead
    * forecast (l + 7b) are integer tap sums with ONE final double
    * divide each — bit-identical across engines, immune to both
    * libm drift and Spark's decimal-precision-loss rescaling. The
    * zero-init window convention trades ~1.7% of weight mass
    * (Σw = 0.9834) for restartability — each output row depends on
    * exactly its 12 trailing days, nothing earlier. int64 holds to
    * ~10^11 events/day (|k|·x·12 < 2^63) — stated contract.
    *
    * Scale shape: identical to [[qSes]] — calendar-bounded grid, one
    * window pass, 12 lag taps.
    */
  val qHolt: Q = {
    val kl = holtTapsL
    val kb = holtTapsB
    val d24 = (1L << 24).toDouble
    def taps(ks: Seq[Long]): String =
      ks.zipWithIndex.map { case (k, j) =>
        s"($k) * CAST(LAG(n, ${11 - j}, 0) OVER w AS BIGINT)"
      }.mkString("\n      |    + ")
    Q.sql(
      "q_events_holt",
      s"""WITH $dailyGridSql,
         |tapped AS (
         |  SELECT event_type, day, n,
         |    ROW_NUMBER() OVER w AS rn,
         |    ${taps(kl)} AS lnum,
         |    ${taps(kb)} AS bnum
         |  FROM grid
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC))
         |SELECT event_type, day, CAST(n AS BIGINT) AS n,
         |  CAST(lnum AS DOUBLE) / 16777216e0 AS level,
         |  CAST(bnum AS DOUBLE) / 16777216e0 AS trend,
         |  CAST(lnum + 7 * bnum AS DOUBLE) / 16777216e0 AS forecast_7d
         |FROM tapped WHERE rn >= 12
         |ORDER BY event_type ASC NULLS FIRST, day ASC""".stripMargin) { (s, d) =>
      val grid = dailyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      def num(ks: Seq[Long]) = ks.zipWithIndex.map { case (k, j) =>
        lit(k) * lag(col("n"), 11 - j, 0L).over(w).cast(LongType)
      }.reduce(_ + _)
      grid
        .withColumn("rn", row_number().over(w))
        .withColumn("lnum", num(kl))
        .withColumn("bnum", num(kb))
        .filter(col("rn") >= 12)
        .select(col("event_type"), col("day"), col("n"),
          (col("lnum").cast(DoubleType) / lit(d24)).as("level"),
          (col("bnum").cast(DoubleType) / lit(d24)).as("trend"),
          ((col("lnum") + lit(7L) * col("bnum")).cast(DoubleType) / lit(d24))
            .as("forecast_7d"))
        .orderBy(col("event_type").asc, col("day").asc)
    }
  }

  /** FORECAST BACKTEST — the model-selection operator over the
    * smoothing pair: for each type, walk the daily series and score
    * the ONE-STEP-AHEAD error of [[qSes]] (forecast = yesterday's
    * smoothed level) against [[qHolt]] (forecast = yesterday's level
    * + trend), reporting both MAEs and the winner. Which smoother a
    * stream deserves is an empirical question; this query answers it
    * from data, per stream — the forecasting leg's q_layout_compare.
    *
    * Exactness: both forecasts are 2^24-scaled INTEGER tap sums, so
    * each residual is |int − 2^24·x| in int64, the MAE is one
    * integer sum divided once, and the winner comes from comparing
    * the two integer sums directly (no float ever decides).
    *
    * Scale shape: same calendar-bounded grid and window pass as the
    * smoothers; the verdict is a ≤#types-row aggregate.
    */
  val qBacktest: Q = {
    val ksSes = (0 until 12).map(j => 1L << (23 - j)) // 2^24 * 2^-(j+1)
    val klHolt = holtTapsL
    val kbHolt = holtTapsB
    // taps indexed by window position j (0 = oldest of 12) -> lag 11-j;
    // ses taps are by LAG j directly (j = 0 newest)
    def lagTaps(ks: Seq[Long]): String =
      ks.zipWithIndex.map { case (k, j) =>
        s"($k) * CAST(LAG(n, ${11 - j}, 0) OVER w AS BIGINT)"
      }.mkString("\n      |    + ")
    val sesTaps = (0 until 12).map { j =>
      s"(${ksSes(j)}) * CAST(LAG(n, $j, 0) OVER w AS BIGINT)"
    }.mkString("\n      |    + ")
    Q.sql(
      "q_events_backtest",
      s"""WITH $dailyGridSql,
         |tapped AS (
         |  SELECT event_type, day, n,
         |    ROW_NUMBER() OVER w AS rn,
         |    $sesTaps AS snum,
         |    ${lagTaps(klHolt)} AS lnum,
         |    ${lagTaps(kbHolt)} AS bnum
         |  FROM grid
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)),
         |scored AS (
         |  SELECT event_type, day, n, rn,
         |    LAG(snum, 1) OVER w2 AS psnum,
         |    LAG(lnum + bnum, 1) OVER w2 AS phnum
         |  FROM tapped
         |  WINDOW w2 AS (PARTITION BY event_type ORDER BY day ASC)),
         |agg AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(ABS(psnum - 16777216 * n)) AS BIGINT) AS ses_sum,
         |    CAST(SUM(ABS(phnum - 16777216 * n)) AS BIGINT) AS holt_sum
         |  FROM scored WHERE rn >= 13
         |  GROUP BY 1)
         |SELECT event_type, n_eval,
         |  CAST(ses_sum AS DOUBLE) / (16777216e0 * n_eval) AS ses_mae,
         |  CAST(holt_sum AS DOUBLE) / (16777216e0 * n_eval) AS holt_mae,
         |  CASE WHEN holt_sum < ses_sum THEN 'holt'
         |       WHEN ses_sum < holt_sum THEN 'ses'
         |       ELSE 'tie' END AS better_model
         |FROM agg
         |ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
      val grid = dailyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      def byPos(ks: Seq[Long]) = ks.zipWithIndex.map { case (k, j) =>
        lit(k) * lag(col("n"), 11 - j, 0L).over(w).cast(LongType)
      }.reduce(_ + _)
      val snum = (0 until 12).map { j =>
        lit(ksSes(j)) * lag(col("n"), j, 0L).over(w).cast(LongType)
      }.reduce(_ + _)
      val scored = grid
        .withColumn("rn", row_number().over(w))
        .withColumn("snum", snum)
        .withColumn("hnum", byPos(klHolt) + byPos(kbHolt))
        .withColumn("psnum", lag(col("snum"), 1).over(w))
        .withColumn("phnum", lag(col("hnum"), 1).over(w))
        .filter(col("rn") >= 13)
      scored.groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("psnum") - lit(16777216L) * col("n"))).as("ses_sum"),
          sum(abs(col("phnum") - lit(16777216L) * col("n"))).as("holt_sum"))
        .select(col("event_type"), col("n_eval"),
          (col("ses_sum").cast(DoubleType)
            / (lit(16777216.0) * col("n_eval"))).as("ses_mae"),
          (col("holt_sum").cast(DoubleType)
            / (lit(16777216.0) * col("n_eval"))).as("holt_mae"),
          when(col("holt_sum") < col("ses_sum"), "holt")
            .when(col("ses_sum") < col("holt_sum"), "ses")
            .otherwise("tie").as("better_model"))
        .orderBy(col("event_type").asc)
    }
  }

  /** DAY-OF-WEEK SEASONALITY PROFILE — the weekly shape of each
    * type's volume: per (type, weekday) the mean daily count over the
    * dense grid and its index against the type's overall mean (1.0 =
    * flat; the multiplicative profile a seasonal-naive forecast or a
    * staffing model consumes). Weekday is computed arithmetically as
    * (epoch_day + 4) mod 7 (day 0 = 1970-01-01 was a Thursday; 0 =
    * Sunday) so both engines share one integer definition instead of
    * two datetime libraries. Means and the index are ratios of exact
    * integer sums evaluated in the same operand order — IEEE-stable.
    *
    * Scale shape: calendar-bounded grid, one ≤ 7·#types-row
    * aggregate; the overall mean joins back per type (broadcast-tiny).
    */
  val qSeasonality: Q = Q.sql(
    "q_events_seasonality",
    s"""WITH $dailyGridSql,
      |dw AS (
      |  SELECT event_type, CAST((day + 4) % 7 AS INT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(n) AS BIGINT) AS sn
      |  FROM grid GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(n) AS BIGINT) AS s
      |  FROM grid GROUP BY 1)
      |SELECT d.event_type, d.dow, d.n_days,
      |  CAST(d.sn AS DOUBLE) / d.n_days AS mean_n,
      |  (CAST(d.sn AS DOUBLE) / d.n_days)
      |    / (CAST(t2.s AS DOUBLE) / t2.m) AS dow_index
      |FROM dw d JOIN tot t2 ON d.event_type = t2.event_type
      |ORDER BY d.event_type ASC NULLS FIRST, d.dow ASC""".stripMargin) { (s, d) =>
    val grid = dailyGrid(s, d)
    val dw = grid
      .groupBy(col("event_type"), ((col("day") + 4) % 7).cast(IntegerType).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum("n").as("sn"))
    val tot = grid.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("n").as("s"))
    dw.join(tot, "event_type")
      .select(col("event_type"), col("dow"), col("n_days"),
        (col("sn").cast(DoubleType) / col("n_days")).as("mean_n"),
        ((col("sn").cast(DoubleType) / col("n_days"))
          / (col("s").cast(DoubleType) / col("m"))).as("dow_index"))
      .orderBy(col("event_type").asc, col("dow").asc)
  }

  /** LAG AUTOCORRELATION of the per-type daily series at lags 1 and
    * 7 — the cadence detector (is yesterday predictive; is there a
    * weekly rhythm) read before fitting any seasonal model. Computed
    * in the m²-scaled integer form (numerator Σ(m·x_t − S)(m·x_{t+k}
    * − S), denominator Σ(m·x_t − S)² with S = Σx) so no per-row mean
    * subtraction in floating point — sums run in DECIMAL(38,0)
    * (exact far past int64; DuckDB's HUGEINT mirrors it) and the
    * single final divide is IEEE-identical in both engines.
    *
    * Scale shape: dense calendar-bounded grid, one self-join per lag
    * on (type, day+k) — the grid is tiny at any corpus size, so both
    * lags cost two broadcast-sized joins.
    */
  val qAutocorr: Q = Q.sql(
    "q_events_autocorr",
    s"""WITH $dailyGridSql,
      |st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(n) AS BIGINT) AS sy
      |  FROM grid GROUP BY 1),
      |dev AS (
      |  SELECT g.event_type, g.day,
      |    CAST(CAST(s.m AS DECIMAL(18,0)) * CAST(g.n AS DECIMAL(18,0))
      |      - CAST(s.sy AS DECIMAL(18,0)) AS DECIMAL(18,0)) AS dv
      |  FROM grid g JOIN st s ON g.event_type = s.event_type),
      |lags AS (SELECT UNNEST([1, 7]) AS k),
      |num AS (
      |  SELECT a.event_type, l.k, SUM(a.dv * b2.dv) AS nsum
      |  FROM dev a
      |  CROSS JOIN lags l
      |  JOIN dev b2 ON b2.event_type = a.event_type
      |    AND b2.day = a.day + l.k
      |  GROUP BY 1, 2),
      |den AS (
      |  SELECT event_type, SUM(dv * dv) AS dsum FROM dev GROUP BY 1)
      |SELECT n2.event_type, CAST(n2.k AS INT) AS k,
      |  CAST(n2.nsum AS DOUBLE) / NULLIF(CAST(d2.dsum AS DOUBLE), 0) AS acf
      |FROM num n2 JOIN den d2 ON n2.event_type = d2.event_type
      |ORDER BY n2.event_type ASC NULLS FIRST, k ASC""".stripMargin) { (s, d) =>
    val grid = dailyGrid(s, d)
    val st = grid.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("n").as("sy"))
    val dev = grid.join(st, "event_type")
      .select(col("event_type"), col("day"),
        (col("m").cast(DecimalType(18, 0)) * col("n").cast(DecimalType(18, 0))
          - col("sy").cast(DecimalType(18, 0))).cast(DecimalType(18, 0))
          .as("dv"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    import s.implicits._
    val lags = Seq(1, 7).toDF("k")
    val num = dev.as("a")
      .crossJoin(broadcast(lags))
      .join(dev.as("b2"),
        col("b2.event_type") === col("a.event_type") &&
          col("b2.day") === col("a.day") + col("k"))
      .groupBy(col("a.event_type").as("event_type"), col("k"))
      .agg(sum(col("a.dv") * col("b2.dv")).as("nsum"))
    val den = dev.groupBy("event_type").agg(sum(col("dv") * col("dv")).as("dsum"))
    num.join(den, "event_type")
      .select(col("event_type"), col("k").cast(IntegerType).as("k"),
        (col("nsum").cast(DoubleType)
          / nullif(col("dsum").cast(DoubleType), lit(0.0))).as("acf"))
      .orderBy(col("event_type").asc, col("k").asc)
  }

  /** DIFFERENTIALLY-PRIVATE release counts — the binomial mechanism
    * (Dwork, Kenthapadi, McSherry, Mironov, Naor, EUROCRYPT 2006):
    * per-type distinct-user counts (sensitivity 1 under user
    * add/remove within a type) plus centered Binomial(60, ½) noise,
    * Var = 15 — entirely INTEGER arithmetic, so engine and oracle
    * agree bit-for-bit where a Laplace mechanism's transcendental
    * sampling could differ in the last ulp between libm and the JVM.
    *
    * Noise bits come from a SEEDED per-cell hash (md5 of seed‖type →
    * 60-bit popcount − 30): deterministic by design, because catalog
    * queries must be replayable — an operational release would rotate
    * the seed secret out-of-band, which changes no plan shape. The
    * noisy count is the ONLY published value per cell; the exact
    * count never leaves the aggregate.
    *
    * Scale shape: one distinct + one ≤#types-row count, noise is a
    * per-row projection on the tiny aggregate — mechanism cost is
    * zero at any corpus size.
    */
  val qDpCounts: Q = Q.sql(
    "q_events_dp_counts",
    """WITH c AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |  FROM events GROUP BY event_type),
      |h AS (
      |  SELECT event_type, n_users,
      |    (SELECT SUM(CAST(strpos('0123456789abcdef',
      |       substr(md5('dp-seed-r8:' || event_type),
      |         CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
      |       * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT)))
      |     FROM range(15) t(i)) AS h60
      |  FROM c)
      |SELECT event_type,
      |  CAST(n_users + bit_count(h60) - 30 AS BIGINT) AS noisy_users
      |FROM h ORDER BY event_type ASC NULLS FIRST""".stripMargin) { (s, d) =>
    val h60 = conv(substring(md5(
      concat(lit("dp-seed-r8:"), col("event_type")).cast(BinaryType)), 1, 15),
      16, 10).cast(LongType)
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"),
        (col("n_users") + bit_count(h60) - lit(30)).cast(LongType)
          .as("noisy_users"))
      .orderBy(col("event_type").asc)
  }

  val all: Seq[Q] = Seq(qJsonProps, qTumblingWindow, qSessionize, qSaltedAgg,
    qSketchStats, qSlidingWindow, qSessionWindow, qAttribution, qFunnel,
    qRetention, qAnomaly, qDau, qWauSketch, qTrailingRange, qDebounce,
    qTransitions, qValueHistogram, qPaths, qAudienceOverlap, qBotCadence,
    qKAnonymity, qScd2, qLDiversity, qWatermarkAdvisor, qRfm, qExactQuantiles,
    qAbTest, qStickiness, qPeakConcurrency, qIntervalOverlap,
    qIncrementalAgg, qDpCounts, qSes, qTrend, qChangepoint, qAutocorr,
    qSeasonality, qHolt, qBacktest)
}
