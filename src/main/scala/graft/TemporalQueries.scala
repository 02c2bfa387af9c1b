package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

import graft.operators.{SemiStructured, Similarity, Skew, Temporal}
import graft.sources.Tables

/** Oracle-checked queries for the [[graft.operators.Temporal]] family and
  * [[Similarity.semanticDedup]]. Split from SparkEntry for the same reason
  * as DataPipelineQueries: one section per operator family.
  *
  * Determinism notes specific to this file:
  *  - sub-second ordering (as-of, sessionize) uses exact NANOSECOND longs
  *    on both sides (`ts_nanos` here, `epoch_ns(ts)` in DuckDB) — epoch
  *    seconds as doubles would be fine at these magnitudes, but integers
  *    remove the question;
  *  - the synthetic counter for q_rate is built from `round(value·100)`
  *    BIGINTs so the running sum is integer-exact in both engines, and
  *    `value ≥ 0` in the test data makes Spark `pmod` ≡ DuckDB `%`;
  *  - EWMA is the same double recurrence (α·v + (1−α)·prev) evaluated in
  *    the same order in both engines, rounded at output.
  */
object TemporalQueries {

  private val HOUR = 3600L
  private val NS = 1000000000L
  private val FROM = 1704067200L             // 2024-01-01T00:00:00Z
  private val SPLIT = FROM + 20L * 86400L    // train/test split (day 21)

  // fanOut: events ships as a single-row-group file, so every query's
  // map side (timestamp math, per-row transforms, partial aggregation)
  // ran as ONE task; the thin keyed exchange wins even for the
  // agg-first shapes once the input is big enough (measured
  // 1.8->1.25 s on a 6-col agg over the 121 MB sf1 file) but LOSES
  // ~0.35 s fixed exchange cost per query at the 12 MB sf0.1 file —
  // the 64 MB floor takes the win where it exists and skips the tax
  // where it doesn't. Identity once the source has real splits.
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.load(s, dir, "events"), "event_id",
      minBytes = 64L << 20)

  /** Exact hourly avg (house pattern: DECIMAL(30,12) sum / count). */
  private def exactAvg(c: org.apache.spark.sql.Column) =
    (sum(c.cast(DecimalType(30, 12))).cast("double") / count(c))

  private[graft] lazy val declared: Seq[Query] = Seq(
    // ── as-of join: each purchase gets the user's latest view at-or-before
    Query("q_asof", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts_nanos").as("pts"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_nanos").as("vts"),
          col("value").as("vvalue"), col("event_id").as("vid"))
      // rightTieCols: views sharing one timestamp resolve to the highest
      // vid — a total order, so duplicated-instant data (common in real
      // streams) cannot flip the match between runs or engines
      Temporal.asofJoin(purchases, views, Seq("user_id"), "pts", "vts",
          payload = Seq("vvalue", "vid"), rightTieCols = Seq("vid"))
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("p_value"),
          col("r_vid").as("view_id"),
          round(col("r_vvalue"), 4).as("view_value"))
        .orderBy("event_id")
    },
      // not DuckDB's ASOF JOIN: its choice among right rows sharing the
      // boundary timestamp is unspecified, so the oracle replays the
      // engine's union-merge with the SAME explicit total order
      // (ts, side, vid) — ties among views resolve to the highest vid
      """WITH u AS (
        |  SELECT user_id, epoch_ns(ts) AS uts, 0 AS side,
        |         event_id AS vid, value AS vvalue,
        |         NULL::BIGINT AS event_id, NULL::DOUBLE AS value
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts), 1, NULL, NULL, event_id, value
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT *,
        |         last_value(CASE WHEN side = 0
        |             THEN struct_pack(vid := vid, vv := vvalue) END
        |           IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY uts, side, vid
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS mt
        |  FROM u
        |)
        |SELECT event_id, user_id, round(value, 4) AS p_value,
        |       mt.vid AS view_id, round(mt.vv, 4) AS view_value
        |FROM m WHERE side = 1
        |ORDER BY event_id""".stripMargin),

    // ── interval join: clicks inside [error_ts, error_ts + 2h) per user
    Query("q_interval_join", (s, dir) => {
      val e = ev(s, dir).withColumn("sec", expr("ts_nanos div 1000000000"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          col("sec").as("iv_start"))
        .withColumn("iv_end", col("iv_start") + 2 * HOUR)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("sec"))
      Temporal.intervalJoin(clicks, errors, Seq("user_id"),
          "sec", "iv_start", "iv_end", bucketSec = HOUR)
        .select("user_id", "click_id", "err_id")
        .orderBy("user_id", "click_id", "err_id")
    },
      """WITH er AS (
        |  SELECT user_id, event_id AS err_id,
        |         epoch_ns(ts) // 1000000000 AS iv_start,
        |         epoch_ns(ts) // 1000000000 + 7200 AS iv_end
        |  FROM events WHERE event_type = 'error'
        |), cl AS (
        |  SELECT user_id, event_id AS click_id,
        |         epoch_ns(ts) // 1000000000 AS sec
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT cl.user_id, cl.click_id, er.err_id
        |FROM cl JOIN er ON cl.user_id = er.user_id
        |  AND cl.sec >= er.iv_start AND cl.sec < er.iv_end
        |ORDER BY 1, 2, 3""".stripMargin),

    // ── sessionization: 6h-gap visits per user, with per-session rollup
    Query("q_sessionize", (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_id"),
        col("ts_nanos").as("tns"), col("value"))
      Temporal.sessionize(e, Seq("user_id"), "tns",
          gapTicks = 6 * HOUR * NS, tieCols = Seq("event_id"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          expr("min(tns) div 1000000000").as("start_s"),
          expr("max(tns) div 1000000000").as("end_s"),
          // scaled-integer sum: round each value to 1e-4 units BEFORE
          // summing — exact long arithmetic, order-independent, and no
          // decimal-cast half-boundary for the engines to disagree on
          sum(round(col("value") * 10000).cast("long")).as("sum_v4"))
        .orderBy("user_id", "session_id")
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns, value FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN lag(tns) OVER w IS NULL
        |                   OR tns - lag(tns) OVER w > 21600000000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
        |), sess AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY tns, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |    AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(tns) // 1000000000 AS start_s,
        |       max(tns) // 1000000000 AS end_s,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_v4
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── multi-grain rollup: (type, day) / (type) / () in ONE scan
    Query("q_rollup", (s, dir) => {
      val e = ev(s, dir).withColumn("day",
        (expr("ts_nanos div 1000000000 div 86400") * 86400).cast("long"))
      e.rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          // scaled-integer sum (see q_sessionize): exact and
          // boundary-free vs the oracle
          sum(round(col("value") * 10000).cast("long")).as("sum_v4"),
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("day")).cast("long").as("g_day"))
        .orderBy(col("g_type"), col("g_day"), col("event_type"), col("day"))
    },
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 86400 * 86400 AS BIGINT)
        |           AS day,
        |         value
        |  FROM events
        |)
        |SELECT event_type, day, count(*) AS n,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_v4,
        |       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |       CAST(GROUPING(day) AS BIGINT) AS g_day
        |FROM e
        |GROUP BY ROLLUP (event_type, day)
        |ORDER BY g_type, g_day, event_type, day""".stripMargin),

    // ── counter-reset-aware rate over a synthetic wrapping counter
    Query("q_rate", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("sec", expr("ts_nanos div 1000000000"))
        .withColumn("units", expr("CAST(round(value * 100) AS BIGINT)"))
      val w = Window.partitionBy("event_type").orderBy("sec", "event_id")
      val counter = pmod(sum(col("units")).over(w), lit(100000L))
      val counted = e.withColumn("c", counter)
        .select("event_type", "sec", "event_id", "c")
      Temporal.counterRate(counted, Seq("event_type"), "sec", "c",
          bucketSec = 86400L, tieCols = Seq("event_id"))
        .select(col("event_type"), col("bucket"),
          round(col("rate"), 6).as("rate"))
        .orderBy("event_type", "bucket")
    },
      """WITH e AS (
        |  SELECT event_type, event_id,
        |         epoch_ns(ts) // 1000000000 AS sec,
        |         CAST(round(value * 100) AS BIGINT) AS units
        |  FROM events
        |), counted AS (
        |  SELECT event_type, sec, event_id,
        |         sum(units) OVER (PARTITION BY event_type
        |           ORDER BY sec, event_id) % 100000 AS c
        |  FROM e
        |), inc AS (
        |  SELECT event_type, sec,
        |         CASE WHEN lag(c) OVER w IS NULL THEN NULL
        |              WHEN c >= lag(c) OVER w THEN c - lag(c) OVER w
        |              ELSE c END AS step
        |  FROM counted
        |  WINDOW w AS (PARTITION BY event_type ORDER BY sec, event_id)
        |)
        |SELECT event_type,
        |       CAST(sec // 86400 * 86400 AS BIGINT) AS bucket,
        |       round(sum(step) / 86400.0, 6) AS rate
        |FROM inc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── EWMA over the hourly per-type series
    Query("q_ewma", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
      val series = e.groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.ewma(series, Seq("event_type"), "bucket", "v", alpha = 0.3)
        .select(col("event_type"), col("bucket"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_type", "bucket")
    },
      """WITH RECURSIVE b AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM events GROUP BY 1, 2
        |), nb AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY bucket) AS rn
        |  FROM b
        |), r AS (
        |  SELECT event_type, rn, bucket, v, v AS e FROM nb WHERE rn = 1
        |  UNION ALL
        |  SELECT nb.event_type, nb.rn, nb.bucket, nb.v,
        |         0.3 * nb.v + 0.7 * r.e
        |  FROM nb JOIN r ON nb.event_type = r.event_type
        |    AND nb.rn = r.rn + 1
        |)
        |SELECT event_type, bucket, round(e, 6) AS ewma
        |FROM r ORDER BY 1, 2""".stripMargin),

    // ── two-sided CUSUM drift detector on the hourly series, target =
    //    per-key exact decimal mean, k=5 slack, h=100 decision interval;
    //    the sequential fold replays bit-identically as a recursive CTE
    Query("q_cusum", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
      val series = e.groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      val targets = e.groupBy("event_type")
        .agg(exactAvg(col("value")).as("__target"))
      Temporal.cusum(series.join(broadcast(targets), "event_type"),
          Seq("event_type"), "bucket", "v", col("__target"), k = 5.0,
          h = 100.0)
        // +1e-9 before rounding: the 10x-clone corpus makes bucket means
        // land exactly on .5 at the 7th decimal, where the two engines'
        // half-up disagree by 1 ulp (hit at sf1)
        .select(col("event_type"), col("bucket"),
          round(col("v") + lit(1e-9), 6).as("v"),
          round(col("cusum_up") + lit(1e-9), 6).as("cusum_up"),
          round(col("cusum_dn") + lit(1e-9), 6).as("cusum_dn"),
          col("alarm"))
        .orderBy("event_type", "bucket")
    },
      // lockstep CUSUM fold; arithmetic parenthesized exactly as the
      // engine's aggregate lambda so every double op matches bit-for-bit
      """WITH RECURSIVE b AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS tgt
        |  FROM events GROUP BY 1
        |), nb AS (
        |  SELECT b.event_type, b.bucket, b.v, t.tgt,
        |         row_number() OVER (PARTITION BY b.event_type
        |           ORDER BY b.bucket) AS rn
        |  FROM b JOIN t ON b.event_type = t.event_type
        |), r AS (
        |  SELECT event_type, rn, bucket, v, tgt,
        |         greatest(CAST(0.0 AS DOUBLE), 0.0 + (v - tgt - 5.0)) AS up,
        |         greatest(CAST(0.0 AS DOUBLE), 0.0 + (tgt - v - 5.0)) AS dn
        |  FROM nb WHERE rn = 1
        |  UNION ALL
        |  SELECT nb.event_type, nb.rn, nb.bucket, nb.v, nb.tgt,
        |         greatest(CAST(0.0 AS DOUBLE), r.up + (nb.v - nb.tgt - 5.0)),
        |         greatest(CAST(0.0 AS DOUBLE), r.dn + (nb.tgt - nb.v - 5.0))
        |  FROM nb JOIN r ON nb.event_type = r.event_type
        |    AND nb.rn = r.rn + 1
        |)
        |SELECT event_type, bucket, round(v + 1e-9, 6) AS v,
        |       round(up + 1e-9, 6) AS cusum_up,
        |       round(dn + 1e-9, 6) AS cusum_dn,
        |       (up > 100.0 OR dn > 100.0) AS alarm
        |FROM r ORDER BY event_type, bucket""".stripMargin),

    // ── as-of with a tolerance horizon: the view must be within 1 h
    //    before the purchase, else null (stale context is worse than none)
    Query("q_asof_tol", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts_nanos").as("pts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_nanos").as("vts"),
          col("event_id").as("vid"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "pts", "vts",
          payload = Seq("vid"), tolerance = Some(HOUR * NS),
          rightTieCols = Seq("vid"))
        .select(col("event_id"), col("user_id"), col("r_vid").as("view_id"))
        .orderBy("event_id")
    },
      // correlated-window mirror (DuckDB ASOF JOIN has no tolerance knob):
      // the window max over [pts-1h, pts] picks the same row the engine's
      // union-merge carry does, with the identical vid tie-break
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, epoch_ns(ts) AS vts, event_id AS vid
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT p.event_id, p.user_id,
        |       (SELECT max(v.vid) FROM v
        |        WHERE v.user_id = p.user_id
        |          AND v.vts <= p.pts
        |          AND v.vts >= p.pts - 3600000000000
        |          AND v.vts = (SELECT max(v2.vts) FROM v v2
        |                       WHERE v2.user_id = p.user_id
        |                         AND v2.vts <= p.pts
        |                         AND v2.vts >= p.pts - 3600000000000))
        |         AS view_id
        |FROM p ORDER BY event_id""".stripMargin),

    // ── forward as-of: each purchase gets the user's NEXT view at-or-
    //    after it (the lead-time direction backtests need); ties at one
    //    instant resolve to the smallest view id
    Query("q_asof_fwd", (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts_nanos").as("pts"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_nanos").as("vts"),
          col("event_id").as("vid"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "pts", "vts",
          payload = Seq("vid"), forward = true, rightTieCols = Seq("vid"))
        .select(col("event_id"), col("user_id"), col("r_vid").as("view_id"))
        .orderBy("event_id")
    },
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ns(ts) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, epoch_ns(ts) AS vts, event_id AS vid
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT p.event_id, p.user_id,
        |       (SELECT v.vid FROM v
        |        WHERE v.user_id = p.user_id AND v.vts >= p.pts
        |        ORDER BY v.vts, v.vid LIMIT 1) AS view_id
        |FROM p ORDER BY event_id""".stripMargin),

    // ── analytic-function battery (§2.5): rank family over a tie-heavy
    //    key, ntile/lag/lead over the fully-determined order — every
    //    value either integer or an exact two-integer quotient, so both
    //    engines agree bit-for-bit with no rounding epsilon
    Query("q_analytic", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("v1", round(col("value"), 1))
        .select("event_type", "event_id", "v1")
      val tied = Window.partitionBy("event_type").orderBy("v1")
      val full = Window.partitionBy("event_type").orderBy("v1", "event_id")
      e.withColumn("rnk", rank().over(tied))
        .withColumn("drnk", dense_rank().over(tied))
        .withColumn("prnk", percent_rank().over(tied))
        .withColumn("cd", cume_dist().over(tied))
        .withColumn("nt", ntile(4).over(full))
        .withColumn("prev_v1", lag(col("v1"), 1).over(full))
        .withColumn("next_v1", lead(col("v1"), 1).over(full))
        .orderBy("event_type", "v1", "event_id")
    },
      """WITH e AS (
        |  SELECT event_type, event_id, round(value, 1) AS v1 FROM events
        |)
        |SELECT event_type, event_id, v1,
        |       rank() OVER tied AS rnk,
        |       dense_rank() OVER tied AS drnk,
        |       percent_rank() OVER tied AS prnk,
        |       cume_dist() OVER tied AS cd,
        |       ntile(4) OVER fullw AS nt,
        |       lag(v1) OVER fullw AS prev_v1,
        |       lead(v1) OVER fullw AS next_v1
        |FROM e
        |WINDOW tied AS (PARTITION BY event_type ORDER BY v1),
        |       fullw AS (PARTITION BY event_type ORDER BY v1, event_id)
        |ORDER BY event_type, v1, event_id""".stripMargin),

    // ── RANGE-frame window (§2.5): per-user trailing-1h event count and
    //    scaled sum at every event — value-based frames over gappy time,
    //    where ROWS frames silently count the wrong span
    Query("q_window_range", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("sec", expr("ts_nanos div 1000000000"))
        .withColumn("v4", round(col("value") * 10000).cast("long"))
        .select("user_id", "event_id", "sec", "v4")
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-3599L, 0L)
      e.withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", sum(col("v4")).over(w))
        .orderBy("user_id", "sec", "event_id")
    },
      """WITH e AS (
        |  SELECT user_id, event_id,
        |         epoch_ns(ts) // 1000000000 AS sec,
        |         CAST(round(value * 10000) AS BIGINT) AS v4
        |  FROM events
        |)
        |SELECT user_id, event_id, sec, v4,
        |       count(*) OVER w AS n_1h,
        |       CAST(sum(v4) OVER w AS BIGINT) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, sec, event_id""".stripMargin),

    // ── argmin/argmax with a TOTAL-ORDER tie-break (§2.4): max_by/min_by
    //    over (value, event_id) structs — plain max_by(id, value) is
    //    nondeterministic under duplicated values
    Query("q_arg_minmax", (s, dir) => {
      val e = ev(s, dir)
      e.groupBy("event_type").agg(
          max_by(col("event_id"), struct(col("value"), col("event_id")))
            .as("id_at_max"),
          min_by(col("event_id"), struct(col("value"), col("event_id")))
            .as("id_at_min"),
          round(max(col("value")), 4).as("max_v"),
          round(min(col("value")), 4).as("min_v"))
        .orderBy("event_type")
    },
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |         rank() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id DESC) AS r_max,
        |         rank() OVER (PARTITION BY event_type
        |           ORDER BY value ASC, event_id ASC) AS r_min
        |  FROM events
        |)
        |SELECT event_type,
        |       max(CASE WHEN r_max = 1 THEN event_id END) AS id_at_max,
        |       max(CASE WHEN r_min = 1 THEN event_id END) AS id_at_min,
        |       round(max(value), 4) AS max_v,
        |       round(min(value), 4) AS min_v
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── correlation / covariance / regression aggregates (§2.4) from
    //    DECIMAL-exact component sums — the engines' own corr()
    //    accumulates doubles in partition order and can wobble a low
    //    bit; the five exact sums make every downstream double op
    //    identical on both sides
    Query("q_corr_stats", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("x", col("value"))
        .withColumn("y",
          (pmod(expr("ts_nanos div 1000000000"), lit(86400L)))
            .cast("double") / 3600.0)
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(30, 12))).cast("double")
      val agged = e.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      agged.select(
          col("event_type"),
          col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))) + lit(1e-9),
            6).as("corr_xy"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")
            + lit(1e-9), 6).as("covar_pop"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) + lit(1e-9), 6)
            .as("slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n") + lit(1e-9), 6).as("intercept"))
        .orderBy("event_type")
    },
      """WITH e AS (
        |  SELECT event_type, value AS x,
        |         CAST(epoch_ns(ts) // 1000000000 % 86400 AS DOUBLE)
        |           / 3600.0 AS y
        |  FROM events
        |), a AS (
        |  SELECT event_type,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y * y AS DECIMAL(30,12))) AS DOUBLE) AS syy
        |  FROM e GROUP BY 1
        |)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       round((n * sxy - sx * sy) /
        |         sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6)
        |         AS corr_xy,
        |       round((sxy - sx * sy / n) / n + 1e-9, 6) AS covar_pop,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6)
        |         AS slope,
        |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
        |         / n + 1e-9, 6) AS intercept
        |FROM a ORDER BY event_type""".stripMargin),

    // ── fixed-bin histogram (§2.4): value binned at width 10, top bin
    //    clamped — the profile shape a quality dashboard reads
    Query("q_histogram", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("bin",
          least(floor(col("value") / 10.0), lit(19.0)).cast("long"))
      e.groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    },
      """SELECT event_type,
        |       CAST(least(floor(value / 10.0), 19.0) AS BIGINT) AS bin,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── funnel analysis: signup → view → click → purchase, strictly
    //    ordered first-occurrence times per user; one keyed aggregation,
    //    no joins, no per-step scans
    Query("q_funnel", (s, dir) => {
      val e = ev(s, dir).withColumn("tns", col("ts_nanos"))
      def firstOf(t: String) =
        min(when(col("event_type") === t, col("tns"))).as(s"t_$t")
      val perUser = e.groupBy("user_id")
        .agg(firstOf("signup"), firstOf("view"), firstOf("click"),
          firstOf("purchase"))
      perUser.agg(
          count(lit(1)).as("n_users"),
          count(col("t_signup")).as("stage_signup"),
          count(when(col("t_signup") < col("t_view"), 1))
            .as("stage_view"),
          count(when(col("t_signup") < col("t_view") &&
            col("t_view") < col("t_click"), 1)).as("stage_click"),
          count(when(col("t_signup") < col("t_view") &&
            col("t_view") < col("t_click") &&
            col("t_click") < col("t_purchase"), 1)).as("stage_purchase"))
    },
      """WITH per_user AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup'
        |             THEN epoch_ns(ts) END) AS t_signup,
        |         min(CASE WHEN event_type = 'view'
        |             THEN epoch_ns(ts) END) AS t_view,
        |         min(CASE WHEN event_type = 'click'
        |             THEN epoch_ns(ts) END) AS t_click,
        |         min(CASE WHEN event_type = 'purchase'
        |             THEN epoch_ns(ts) END) AS t_purchase
        |  FROM events GROUP BY 1
        |)
        |SELECT count(*) AS n_users,
        |       count(t_signup) AS stage_signup,
        |       count(CASE WHEN t_signup < t_view THEN 1 END)
        |         AS stage_view,
        |       count(CASE WHEN t_signup < t_view AND t_view < t_click
        |         THEN 1 END) AS stage_click,
        |       count(CASE WHEN t_signup < t_view AND t_view < t_click
        |         AND t_click < t_purchase THEN 1 END) AS stage_purchase
        |FROM per_user""".stripMargin),

    // ── weekly retention cohorts: users grouped by first-seen week,
    //    counted per week-offset they return in — the (cohort, offset)
    //    triangle every growth dashboard draws
    Query("q_retention", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("week", expr("ts_nanos div 1000000000 div 604800"))
      val firstWeek = e.groupBy("user_id")
        .agg(min(col("week")).as("cohort"))
      e.select("user_id", "week").distinct()
        .join(firstWeek, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "offset")
    },
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |         epoch_ns(ts) // 1000000000 // 604800 AS week
        |  FROM events
        |), fw AS (
        |  SELECT user_id, min(week) AS cohort FROM w GROUP BY 1
        |)
        |SELECT fw.cohort, w.week - fw.cohort AS "offset",
        |       count(*) AS n_users
        |FROM w JOIN fw ON w.user_id = fw.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── robust outliers: MAD-based z-score per type on scaled integers
    //    (two exact medians per group — mean/stddev outlier rules break
    //    under the heavy tail this flags)
    Query("q_mad_outliers", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("v4", round(col("value") * 10000).cast("long"))
      val med = e.groupBy("event_type")
        .agg(median(col("v4")).as("med4"))
      val mad = e.join(med, "event_type")
        .groupBy("event_type")
        .agg(first(col("med4")).as("med4"),
          median(abs(col("v4") - col("med4"))).as("mad4"))
      e.join(mad, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(first(col("med4")) / 10000.0, 6).as("med"),
          round(first(col("mad4")) / 10000.0, 6).as("mad"),
          count(when(abs(col("v4") - col("med4")) >
            lit(3.0 * 1.4826) * col("mad4"), 1)).as("n_outliers"))
        .orderBy("event_type")
    },
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(round(value * 10000) AS BIGINT) AS v4
        |  FROM events
        |), med AS (
        |  SELECT event_type, median(v4) AS med4 FROM e GROUP BY 1
        |), mad AS (
        |  SELECT e.event_type, any_value(med.med4) AS med4,
        |         median(abs(e.v4 - med.med4)) AS mad4
        |  FROM e JOIN med ON e.event_type = med.event_type
        |  GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n,
        |       round(any_value(mad.med4) / 10000.0, 6) AS med,
        |       round(any_value(mad.mad4) / 10000.0, 6) AS mad,
        |       count(CASE WHEN abs(e.v4 - mad.med4) >
        |         3.0 * 1.4826 * mad.mad4 THEN 1 END) AS n_outliers
        |FROM e JOIN mad ON e.event_type = mad.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── Shannon entropy of the event-type mix per cohort, from exact
    //    counts (a uniformity probe for mixture monitoring)
    Query("q_entropy", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val counts = e.groupBy("cohort", "event_type")
        .agg(count(lit(1)).as("n"))
      val totals = Window.partitionBy("cohort")
      counts
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(totals).cast("double"))
        .groupBy("cohort")
        .agg(round((-sum(col("p") * log2(col("p")))) + lit(1e-9), 6)
          .as("entropy_bits"),
          count(lit(1)).as("n_types"))
        .orderBy("cohort")
    },
      """WITH c AS (
        |  SELECT user_id % 10 AS cohort, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT cohort,
        |         CAST(n AS DOUBLE) / CAST(sum(n) OVER
        |           (PARTITION BY cohort) AS DOUBLE) AS p
        |  FROM c
        |)
        |SELECT cohort,
        |       round(-sum(p * log2(p)) + 1e-9, 6) AS entropy_bits,
        |       count(*) AS n_types
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── scalar math battery (§2.8): rounding family on exact values,
    //    transcendentals behind the house round+epsilon guard (libm
    //    last-ulp differences between engines are real)
    Query("q_math_fns", (s, dir) => {
      val e = ev(s, dir).withColumn("v", col("value"))
      e.select(
          col("event_id"),
          abs(col("v") - lit(100.0)).as("dist100"),
          ceil(col("v")).cast("long").as("ceil_v"),
          floor(col("v")).cast("long").as("floor_v"),
          signum(col("v") - lit(100.0)).cast("long").as("sign_v"),
          greatest(col("v"), lit(50.0)).as("hi50"),
          least(col("v"), lit(50.0)).as("lo50"),
          pmod(round(col("v") * 100).cast("long"), lit(7L)).as("mod7"),
          round(sqrt(col("v")) + lit(1e-9), 6).as("sqrt_v"),
          round(log1p(col("v")) + lit(1e-9), 6).as("ln1p_v"),
          round(exp(-col("v") / 1000.0) + lit(1e-9), 6).as("exp_v"),
          round(pow(col("v"), 1.5) + lit(1e-9), 4).as("pow_v"))
        .orderBy("event_id")
    },
      """SELECT event_id,
        |       abs(value - 100.0) AS dist100,
        |       CAST(ceil(value) AS BIGINT) AS ceil_v,
        |       CAST(floor(value) AS BIGINT) AS floor_v,
        |       CAST(sign(value - 100.0) AS BIGINT) AS sign_v,
        |       greatest(value, 50.0) AS hi50,
        |       least(value, 50.0) AS lo50,
        |       CAST(round(value * 100) AS BIGINT) % 7 AS mod7,
        |       round(sqrt(value) + 1e-9, 6) AS sqrt_v,
        |       round(ln(1 + value) + 1e-9, 6) AS ln1p_v,
        |       round(exp(-value / 1000.0) + 1e-9, 6) AS exp_v,
        |       round(pow(value, 1.5) + 1e-9, 4) AS pow_v
        |FROM events ORDER BY event_id""".stripMargin),

    // ── rolling-origin backtest of the fleet forecaster on the hourly
    //    per-type series. Oracle: the q_fleet_hw lockstep fold CTE
    //    generalized with an origin dimension — every per-origin fit,
    //    forecast, and metric is differentially verified (the
    //    leak-freedom/calibration floors stay spec-pinned in
    //    HoltWintersSpec)
    Query("q_backtest", (s, dir) => {
      val p = graft.ml.HoltWintersParams(bucketInterval = HOUR,
        period = 86400L, alpha = 0.3, beta = 0.01, gamma = 0.3)
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * HOUR).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      val origins = Seq(20L, 22L, 24L).map(FROM + _ * 86400L)
      graft.ml.Backtest.rollingOrigin(series, "v", Seq("event_type"), p,
          origins, horizon = 86400L)
        .select(col("event_type"), col("origin"), col("n_buckets"),
          round(col("mae") + lit(1e-9), 4).as("mae"),
          round(col("mape") + lit(1e-9), 6).as("mape"),
          round(col("coverage") + lit(1e-9), 4).as("coverage"))
        .orderBy("event_type", "origin")
    },
      // the q_fleet_hw fold generalized with an ORIGIN dimension: all three
      // rolling origins advance in the SAME lockstep recursive CTE (keys =
      // (origin, event_type)), then forecast spine + actuals join + metric
      // aggregation replay Backtest.rollingOrigin term-by-term. Closes the
      // last rows-only gap on the temporal surface: the backtest is now
      // differentially verified end-to-end, not just spec-pinned.
      {
      val alpha = 0.3; val beta = 0.01; val gamma = 0.3; val m = 24
      val z = 3.0
      val origins = Seq(20L, 22L, 24L).map(FROM + _ * 86400L)
      val roll = s"(CASE WHEN (o.bucket - f.prev_bucket) // $HOUR > 1 " +
        s"THEN f.lvl + CAST((o.bucket - f.prev_bucket) // $HOUR - 1 AS DOUBLE) * f.tr " +
        "ELSE f.lvl END)"
      val sj = "f.season[CAST(o.slot AS INT) + 1]"
      val pred = "(st.lvl + CAST((sp.bucket - st.last_bucket) // " +
        s"$HOUR AS DOUBLE) * st.tr + " +
        s"st.season[CAST((sp.bucket % 86400) // $HOUR AS INT) + 1])"
      val originVals = origins.map(o => s"($o)").mkString(", ")
      s"""WITH RECURSIVE agg AS (
         |  SELECT event_type, CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events GROUP BY 1, 2
         |), origins(origin) AS (VALUES $originVals),
         |obs AS (
         |  SELECT g.origin, a.event_type, a.bucket, a.v,
         |         (a.bucket % 86400) // $HOUR AS slot,
         |         row_number() OVER (PARTITION BY g.origin, a.event_type ORDER BY a.bucket) AS rn
         |  FROM agg a CROSS JOIN origins g
         |  WHERE a.v IS NOT NULL AND a.bucket < g.origin
         |), nobs AS (SELECT origin, event_type, max(rn) AS n FROM obs GROUP BY 1, 2),
         |s1 AS (
         |  SELECT origin, event_type, list_reduce(list(v ORDER BY rn), (a, b) -> a + b) AS sum1,
         |         count(*) AS n1
         |  FROM obs WHERE rn <= $m GROUP BY 1, 2
         |), s2 AS (
         |  SELECT origin, event_type,
         |         CASE WHEN count(*) > 0
         |              THEN list_reduce(list(v ORDER BY rn), (a, b) -> a + b) END AS sum2,
         |         count(*) AS n2
         |  FROM obs WHERE rn > $m AND rn <= ${2 * m} GROUP BY 1, 2
         |), init AS (
         |  SELECT s1.origin, s1.event_type, sum1/n1 AS mean1,
         |         CASE WHEN coalesce(n2, 0) > 0 THEN (sum2/n2 - sum1/n1) / $m ELSE 0.0 END AS trend0
         |  FROM s1 LEFT JOIN s2 USING (origin, event_type)
         |), slot_last AS (
         |  SELECT origin, event_type, slot, v FROM (
         |    SELECT origin, event_type, slot, v,
         |           row_number() OVER (PARTITION BY origin, event_type, slot ORDER BY rn DESC) AS rr
         |    FROM obs WHERE rn <= $m) t WHERE rr = 1
         |), season0 AS (
         |  SELECT i.origin, i.event_type, list(coalesce(sl.v - i.mean1, 0.0) ORDER BY g.j) AS season
         |  FROM init i
         |  CROSS JOIN generate_series(0, ${m - 1}) g(j)
         |  LEFT JOIN slot_last sl ON sl.origin = i.origin AND sl.event_type = i.event_type AND sl.slot = g.j
         |  GROUP BY i.origin, i.event_type
         |), first_b AS (
         |  SELECT origin, event_type, bucket FROM obs WHERE rn = 1
         |), fold AS (
         |  SELECT i.origin, i.event_type, CAST(0 AS BIGINT) AS rn, i.mean1 AS lvl, i.trend0 AS tr,
         |         s0.season AS season, fb.bucket AS prev_bucket, CAST(0.0 AS DOUBLE) AS sse
         |  FROM init i JOIN season0 s0 USING (origin, event_type) JOIN first_b fb USING (origin, event_type)
         |  UNION ALL
         |  SELECT o.origin, o.event_type, o.rn,
         |         $alpha * (o.v - $sj) + (1 - $alpha) * ($roll + f.tr) AS newlvl,
         |         $beta * (newlvl - $roll) + (1 - $beta) * f.tr AS newtr,
         |         list_transform(range(1, ${m + 1}), i -> CASE WHEN i - 1 = o.slot
         |             THEN $gamma * (o.v - newlvl) + (1 - $gamma) * $sj
         |             ELSE f.season[CAST(i AS INT)] END) AS season,
         |         o.bucket AS prev_bucket,
         |         f.sse + (o.v - ($roll + f.tr + $sj)) * (o.v - ($roll + f.tr + $sj)) AS sse
         |  FROM fold f JOIN obs o ON o.origin = f.origin AND o.event_type = f.event_type AND o.rn = f.rn + 1
         |), st AS (
         |  SELECT f.origin, f.event_type, f.lvl, f.tr, f.season, f.prev_bucket AS last_bucket,
         |         greatest(sqrt(f.sse / nb.n), 1e-9) AS sigma
         |  FROM fold f JOIN nobs nb ON nb.origin = f.origin AND nb.event_type = f.event_type AND f.rn = nb.n
         |), sp AS (
         |  SELECT st.origin, st.event_type,
         |         unnest(generate_series(st.origin, st.origin + 86400 - $HOUR, $HOUR)) AS bucket
         |  FROM st
         |), fc AS (
         |  SELECT sp.origin, sp.event_type, sp.bucket,
         |         $pred AS predicted,
         |         $pred - $z * st.sigma AS lower,
         |         $pred + $z * st.sigma AS upper
         |  FROM sp JOIN st ON st.origin = sp.origin AND st.event_type = sp.event_type
         |)
         |SELECT fc.event_type, fc.origin, CAST(count(*) AS BIGINT) AS n_buckets,
         |       round(avg(abs(a.v - fc.predicted)) + 1e-9, 4) AS mae,
         |       round(avg(CASE WHEN abs(a.v) > 1e-12 THEN abs(a.v - fc.predicted) / abs(a.v) END) + 1e-9, 6) AS mape,
         |       round(avg(CASE WHEN a.v >= fc.lower AND a.v <= fc.upper THEN 1.0 ELSE 0.0 END) + 1e-9, 4) AS coverage
         |FROM fc JOIN agg a ON a.event_type = fc.event_type AND a.bucket = fc.bucket
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),

    // ── navigation window functions (§2.5): first/last/nth value over
    //    the full partition frame on a total order — constant per
    //    partition, collapsed to one row per key
    Query("q_window_nav", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("v1", round(col("value"), 1))
        .select("event_type", "event_id", "v1")
      val w = Window.partitionBy("event_type").orderBy("v1", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.select(col("event_type"),
          first(col("event_id")).over(w).as("first_id"),
          last(col("event_id")).over(w).as("last_id"),
          nth_value(col("event_id"), 3).over(w).as("third_id"))
        .distinct()
        .orderBy("event_type")
    },
      """WITH e AS (
        |  SELECT event_type, event_id, round(value, 1) AS v1 FROM events
        |)
        |SELECT DISTINCT event_type,
        |       first_value(event_id) OVER w AS first_id,
        |       last_value(event_id) OVER w AS last_id,
        |       nth_value(event_id, 3) OVER w AS third_id
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY v1, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING
        |             AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type""".stripMargin),

    // ── explicit GROUPING SETS (§2.4, the third grouping construct
    //    beside rollup/cube): (type), (cohort), and () — NOT the cross
    //    grain, which only the explicit form can express
    Query("q_grouping_sets", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      e.createOrReplaceTempView("__gs_events")
      s.sql("""
        SELECT event_type, cohort, count(*) AS n,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
                 AS sum_v4,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(cohort) AS BIGINT) AS g_cohort
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (cohort), ())
        ORDER BY g_type, g_cohort, event_type, cohort""")
    },
      """WITH e AS (
        |  SELECT event_type, user_id % 10 AS cohort, value FROM events
        |)
        |SELECT event_type, cohort, count(*) AS n,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_v4,
        |       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |       CAST(GROUPING(cohort) AS BIGINT) AS g_cohort
        |FROM e
        |GROUP BY GROUPING SETS ((event_type), (cohort), ())
        |ORDER BY g_type, g_cohort, event_type, cohort""".stripMargin),

    // ── FULL OUTER join (§2.3): per-user click vs purchase activity,
    //    keeping users who only ever did one of the two
    Query("q_full_outer", (s, dir) => {
      val e = ev(s, dir)
      def side(ty: String, out: String) =
        e.filter(col("event_type") === ty).groupBy("user_id")
          .agg(count(lit(1)).as(out))
      side("click", "n_clicks")
        .join(side("purchase", "n_buys"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_buys"), lit(0L)).as("n_buys"))
        .orderBy("user_id")
    },
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks FROM events
        |  WHERE event_type = 'click' GROUP BY 1
        |), b AS (
        |  SELECT user_id, count(*) AS n_buys FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT coalesce(c.user_id, b.user_id) AS user_id,
        |       coalesce(c.n_clicks, 0) AS n_clicks,
        |       coalesce(b.n_buys, 0) AS n_buys
        |FROM c FULL OUTER JOIN b ON c.user_id = b.user_id
        |ORDER BY user_id""".stripMargin),

    // ── 3-D Morton layout key over (user, hour-of-range, value bin) —
    //    the N-dim generalization q_zorder's 2-D key special-cases
    // ── per-type winsorization: clip value to the exact [p05, p95]
    //    band (edges quantized at 6dp — the cross-engine percentile
    //    ulp rule), the robust cap the MAD flagger complements
    Query("q_winsorize", (s, dir) =>
      graft.functions.Stats.winsorize(ev(s, dir), Seq("event_type"),
          "value", pLo = 0.05, pHi = 0.95, edgeDecimals = 6)
        .select(col("event_id"),
          round(col("value_w") + lit(1e-9), 6).as("value_w"))
        .orderBy("event_id"),
      // edges quantized at 6dp half-up on BOTH engines before the clip
      // compares raw values against them (the curriculumBins rule:
      // interpolated percentiles are formula-sensitive in the last ulp)
      """WITH e AS (
        |  SELECT event_type,
        |         round(quantile_cont(value, 0.05) + 1e-9, 6) AS lo,
        |         round(quantile_cont(value, 0.95) + 1e-9, 6) AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT ev.event_id,
        |       round(least(greatest(ev.value, e.lo), e.hi) + 1e-9, 6)
        |         AS value_w
        |FROM events ev JOIN e USING (event_type)
        |ORDER BY ev.event_id""".stripMargin),

    Query("q_zorder3", (s, dir) => {
      val e = ev(s, dir)
      e.select(col("event_id"),
          graft.io.ZOrder.zValueN(Seq(
            pmod(col("user_id"), lit(1024L)),
            pmod(expr("ts_nanos div 1000000000 div 3600"), lit(1024L)),
            pmod(round(col("value")).cast("long"), lit(1024L))),
            bits = 10).as("zval3"))
        .orderBy("event_id")
    },
      {
      // generated 30-term bit interleave, mirroring ZOrder.zValueN's
      // layout (bit i of column j at position i*3 + j). Each modulus is
      // normalized ((x % m) + m) % m: the engine uses pmod (always
      // non-negative) while DuckDB's % keeps the dividend's sign, so a
      // future corpus with negative values would otherwise silently
      // diverge the oracle.
      val cols = Seq(
        "(((user_id % 1024) + 1024) % 1024)",
        "(((epoch_ns(ts) // 1000000000 // 3600 % 1024) + 1024) % 1024)",
        "(((CAST(round(value) AS BIGINT) % 1024) + 1024) % 1024)")
      val terms = for {
        i <- 0 until 10
        (c, j) <- cols.zipWithIndex
      } yield s"((($c >> $i) & 1) << ${i * 3 + j})"
      s"""SELECT event_id, ${terms.mkString(" | ")} AS zval3
         |FROM events ORDER BY event_id""".stripMargin
    }),

    // ── typed JSON extraction from the props payload: ONE from_json parse
    //    per row (not n get_json_object re-parses), then a keyed agg
    Query("q_json_extract", (s, dir) => {
      val schema = StructType(Seq(StructField("k", LongType)))
      SemiStructured.extract(ev(s, dir), "props", schema)
        .groupBy("event_type")
        .agg(count(col("k")).as("n_k"),
          round(exactAvg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
      // core-SQL JSON mimic (regexp extraction) — the driver's DuckDB may
      // not have the json extension loadable offline
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
        |  FROM events
        |)
        |SELECT event_type,
        |       CAST(count(k) AS BIGINT) AS n_k,
        |       round(CAST(sum(CAST(k AS DECIMAL(30,12))) AS DOUBLE) / count(k), 6)
        |         AS avg_k,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(max(k) AS BIGINT) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── additive seasonal-trend decomposition of the hourly per-type
    //    series (period = 24 h): trend / seasonal / residual components
    Query("q_seasonal_decompose", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        expr("ts_nanos div 1000000000 div 3600").cast("long"))
      val series = e.groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.seasonalDecompose(series, Seq("event_type"), "bucket", "v",
          period = 24)
        // +1e-9 on EVERY rounded double incl. v: 10×-cloned corpora land
        // hourly averages exactly on .xxxxxx5 where the engines' round()
        // disagree (observed at sf1)
        .select(col("event_type"), col("bucket"),
          round(col("v") + lit(1e-9), 6).as("v"),
          round(col("trend") + lit(1e-9), 6).as("trend"),
          round(col("seasonal") + lit(1e-9), 6).as("seasonal"),
          round(col("resid") + lit(1e-9), 6).as("resid"))
        .orderBy("event_type", "bucket")
    },
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, bucket, v,
        |         CASE WHEN count(v) OVER w = 25
        |              THEN CAST(sum(CAST(v AS DECIMAL(30,12))) OVER w AS DOUBLE)
        |                   / 25.0
        |         END AS trend
        |  FROM b
        |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        |), d AS (
        |  SELECT *, v - trend AS detr, bucket % 24 AS slot FROM t
        |), sm AS (
        |  SELECT event_type, slot,
        |         CAST(sum(CAST(detr AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(detr) AS slot_mean
        |  FROM d GROUP BY 1, 2
        |), gm AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(slot_mean AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(slot_mean) AS grand
        |  FROM sm GROUP BY 1
        |), se AS (
        |  SELECT sm.event_type, sm.slot, sm.slot_mean - gm.grand AS seasonal
        |  FROM sm JOIN gm USING (event_type)
        |)
        |SELECT d.event_type, d.bucket, round(d.v + 1e-9, 6) AS v,
        |       round(d.trend + 1e-9, 6) AS trend,
        |       round(se.seasonal + 1e-9, 6) AS seasonal,
        |       round(d.detr - se.seasonal + 1e-9, 6) AS resid
        |FROM d JOIN se ON d.event_type = se.event_type AND d.slot = se.slot
        |ORDER BY d.event_type, d.bucket""".stripMargin),

    // ── interval coalescing: each error event opens a 30-minute incident
    //    window; overlapping/touching windows merge per type. DISTINCT
    //    intervals: duplicated (s, e) rows (clone-dense corpora) would
    //    leave the oracle's split-window island numbering tie-ordered —
    //    DuckDB resolves ties differently across window invocations —
    //    while distinct rows make every ordering total (sf1 lesson)
    Query("q_merge_intervals", (s, dir) => {
      val iv = ev(s, dir).filter(col("event_type") === "error")
        .select(col("event_type"),
          expr("ts_nanos div 1000000000").as("s"),
          (expr("ts_nanos div 1000000000") + lit(1800L)).as("e"))
        .distinct()
      Temporal.mergeIntervals(iv, Seq("event_type"), "s", "e")
        .select(col("event_type"), col("s").as("start_sec"),
          col("e").as("end_sec"), col("n_merged"))
        .orderBy("event_type", "start_sec")
    },
      """WITH iv AS (
        |  SELECT DISTINCT event_type,
        |         epoch_ns(ts) // 1000000000 AS s,
        |         epoch_ns(ts) // 1000000000 + 1800 AS e
        |  FROM events WHERE event_type = 'error'
        |), flagged AS (
        |  SELECT event_type, s, e,
        |         CASE WHEN max(e) OVER (PARTITION BY event_type ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                IS NULL THEN 1
        |              WHEN s > max(e) OVER (PARTITION BY event_type ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                THEN 1 ELSE 0 END AS opens
        |  FROM iv
        |), islands AS (
        |  SELECT event_type, s, e,
        |         sum(opens) OVER (PARTITION BY event_type ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM flagged
        |)
        |SELECT event_type, CAST(min(s) AS BIGINT) AS start_sec,
        |       CAST(max(e) AS BIGINT) AS end_sec,
        |       CAST(count(*) AS BIGINT) AS n_merged
        |FROM islands GROUP BY event_type, isl
        |ORDER BY event_type, start_sec""".stripMargin),

    // ── pivot to wide: per-cohort event-type counts. The value list is
    //    EXPLICIT — `.pivot(col)` without values runs a distinct-discovery
    //    job first, a needless extra pass at 100 TB
    Query("q_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = ev(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
        .groupBy("cohort").pivot("event_type", types).count()
      types.foldLeft(p)((d, t) => d.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("cohort")
    },
      """SELECT user_id % 10 AS cohort,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── unpivot (melt): the pivoted wide counts back to long form —
    //    Spark's native unpivot, one narrow expand per row, no shuffle
    //    beyond the pivot's own aggregation
    Query("q_unpivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide0 = ev(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
        .groupBy("cohort").pivot("event_type", types).count()
      val wide = types.foldLeft(wide0)((d, t) =>
        d.withColumn(t, coalesce(col(t), lit(0L))))
      wide.unpivot(Array(col("cohort")), types.map(col).toArray,
          "event_type", "n")
        .orderBy("cohort", "event_type")
    },
      """WITH cohorts AS (
        |  SELECT DISTINCT user_id % 10 AS cohort FROM events
        |), types AS (
        |  SELECT unnest(['click','error','purchase','signup','view']) AS event_type
        |), counts AS (
        |  SELECT user_id % 10 AS cohort, event_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT c.cohort, t.event_type, coalesce(x.n, 0) AS n
        |FROM cohorts c CROSS JOIN types t
        |LEFT JOIN counts x ON x.cohort = c.cohort AND x.event_type = t.event_type
        |ORDER BY c.cohort, t.event_type""".stripMargin),

    // ── time-weighted daily average: each sample holds until the next
    //    one in its (type, day) bucket — the TSDB aggregation plain avg
    //    gets wrong on irregular sampling
    Query("q_twa", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("sec", expr("ts_nanos div 1000000000"))
      Temporal.timeWeightedAvg(e, Seq("event_type"), "sec", "value",
          bucketSec = 86400L, tieCols = Seq("event_id"))
        .select(col("event_type"), col("bucket"),
          round(col("twa") + lit(1e-9), 6).as("twa"),
          col("covered"), col("n"))
        .orderBy("event_type", "bucket")
    },
      """WITH e AS (
        |  SELECT event_type, event_id, value,
        |         epoch_ns(ts) // 1000000000 AS sec,
        |         CAST(epoch_ns(ts) // 1000000000 // 86400 * 86400 AS BIGINT)
        |           AS bucket
        |  FROM events
        |), h AS (
        |  SELECT event_type, bucket, value,
        |         coalesce(lead(sec) OVER (PARTITION BY event_type, bucket
        |             ORDER BY sec, event_id), bucket + 86400) - sec AS hold
        |  FROM e
        |)
        |SELECT event_type, bucket,
        |       round(CAST(sum(CAST(value * hold AS DECIMAL(30,12)))
        |               AS DOUBLE) / sum(hold) + 1e-9, 6) AS twa,
        |       CAST(sum(hold) AS BIGINT) AS covered,
        |       count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── multi-grain cube: every subset of (type, cohort) in ONE scan —
    //    the grouping-sets sibling of q_rollup
    Query("q_cube", (s, dir) => {
      val e = ev(s, dir)
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      e.cube(col("event_type"), col("cohort"))
        .agg(count(lit(1)).as("n"),
          // scaled-integer sum (see q_sessionize): exact in both engines
          sum(round(col("value") * 10000).cast("long")).as("sum_v4"),
          grouping(col("event_type")).cast("long").as("g_type"),
          grouping(col("cohort")).cast("long").as("g_cohort"))
        .orderBy(col("g_type"), col("g_cohort"), col("event_type"),
          col("cohort"))
    },
      """WITH e AS (
        |  SELECT event_type, user_id % 10 AS cohort, value FROM events
        |)
        |SELECT event_type, cohort, count(*) AS n,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_v4,
        |       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |       CAST(GROUPING(cohort) AS BIGINT) AS g_cohort
        |FROM e
        |GROUP BY CUBE (event_type, cohort)
        |ORDER BY g_type, g_cohort, event_type, cohort""".stripMargin),

    // ── §2.7 set operations: the click-audience vs purchase-audience
    //    user sets through INTERSECT / EXCEPT (distinct semantics on
    //    both engines)
    Query("q_set_ops", (s, dir) => {
      val e = ev(s, dir)
      def audience(t: String) =
        e.filter(col("event_type") === t).select("user_id").distinct()
      val clicks = audience("click")
      val buys = audience("purchase")
      def shape(d: DataFrame, label: String) =
        d.agg(count(lit(1)).as("n"), min(col("user_id")).as("lo"),
            max(col("user_id")).as("hi"))
          .select(lit(label).as("op"), col("n"), col("lo"), col("hi"))
      shape(clicks.intersect(buys), "both")
        .unionAll(shape(clicks.except(buys), "click_only"))
        .unionAll(shape(buys.except(clicks), "purchase_only"))
        .orderBy("op")
    },
      """WITH clicks AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |), buys AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |), both_u AS (
        |  SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buys
        |), click_only AS (
        |  SELECT user_id FROM clicks EXCEPT SELECT user_id FROM buys
        |), purchase_only AS (
        |  SELECT user_id FROM buys EXCEPT SELECT user_id FROM clicks
        |)
        |SELECT 'both' AS op, count(*) AS n, min(user_id) AS lo,
        |       max(user_id) AS hi FROM both_u
        |UNION ALL
        |SELECT 'click_only', count(*), min(user_id), max(user_id)
        |FROM click_only
        |UNION ALL
        |SELECT 'purchase_only', count(*), min(user_id), max(user_id)
        |FROM purchase_only
        |ORDER BY op""".stripMargin),

    // ── exact rolling median (24-bucket window) of the hourly per-type
    //    series, on scaled-integer values so the even-count midpoint is
    //    the same exact double in both engines; full windows only
    Query("q_rolling_median", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
      val series = e.groupBy("event_type", "bucket")
        .agg(round(exactAvg(col("value")) * 10000).cast("long").as("v4"))
      val w = Window.partitionBy("event_type").orderBy("bucket")
      series
        // Spark refuses percentile/median over a bounded frame
        // (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) — for the fixed
        // 24-row frame the sorted-array midpoint IS the exact median,
        // and on scaled integers ≤ 2^53 every intermediate double is
        // exact, so it equals DuckDB's interpolated quantile bit-for-bit
        .withColumn("arr",
          sort_array(collect_list(col("v4")).over(w.rowsBetween(-23, 0))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") >= 24)
        .withColumn("med4",
          (element_at(col("arr"), 12) + element_at(col("arr"), 13)) / 2.0)
        .select(col("event_type"), col("bucket"),
          round(col("med4") / 10000.0, 6).as("roll_med"))
        .orderBy("event_type", "bucket")
    },
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), series AS (
        |  SELECT event_type, bucket,
        |         CAST(round(CAST(sum(CAST(value AS DECIMAL(30,12)))
        |             AS DOUBLE) / count(value) * 10000) AS BIGINT) AS v4
        |  FROM e GROUP BY 1, 2
        |), rolled AS (
        |  SELECT event_type, bucket,
        |         median(v4) OVER (PARTITION BY event_type ORDER BY bucket
        |           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS med4,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY bucket) AS rn
        |  FROM series
        |)
        |SELECT event_type, bucket, round(med4 / 10000.0, 6) AS roll_med
        |FROM rolled WHERE rn >= 24 ORDER BY event_type, bucket""".stripMargin),

    // ── rolling correlation between the click and purchase hourly series
    //    (full 24-bucket windows only: partial windows can have zero
    //    variance → NaN-vs-NULL divergence between engines)
    Query("q_rolling_corr", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
      def series(t: String, out: String) =
        e.filter(col("event_type") === t).groupBy("bucket")
          .agg(exactAvg(col("value")).as(out))
      val joined = series("click", "x").join(series("purchase", "y"), "bucket")
      val rolled = Temporal.rollingCorr(joined, Nil, "bucket", "x", "y",
        windowBuckets = 24)
      val w = Window.orderBy("bucket")
      rolled.withColumn("rn", row_number().over(w))
        .filter(col("rn") >= 24)
        .select(col("bucket"), round(col("roll_corr"), 6).as("roll_corr"))
        .orderBy("bucket")
    },
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), cx AS (
        |  SELECT bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS x
        |  FROM e WHERE event_type = 'click' GROUP BY 1
        |), cy AS (
        |  SELECT bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS y
        |  FROM e WHERE event_type = 'purchase' GROUP BY 1
        |), j AS (
        |  SELECT cx.bucket, x, y FROM cx JOIN cy USING (bucket)
        |), r AS (
        |  SELECT bucket,
        |         corr(x, y) OVER (ORDER BY bucket
        |           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS roll_corr,
        |         row_number() OVER (ORDER BY bucket) AS rn
        |  FROM j
        |)
        |SELECT bucket, round(roll_corr, 6) AS roll_corr
        |FROM r WHERE rn >= 24 ORDER BY bucket""".stripMargin),

    // ── lead/lag detection: corr(click_t, purchase_{t+lag}) for ±6 hours
    Query("q_xcorr", (s, dir) => {
      val e = ev(s, dir).withColumn("bucket",
        (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
      def series(t: String, out: String) =
        e.filter(col("event_type") === t).groupBy("bucket")
          .agg(exactAvg(col("value")).as(out))
      val joined = series("click", "x").join(series("purchase", "y"), "bucket")
      Temporal.crossCorr(joined, Nil, "bucket", "x", "y",
          maxLag = 6, step = HOUR)
        .select(col("lag"), round(col("xcorr"), 6).as("xcorr"),
          col("n_overlap"))
        .orderBy("lag")
    },
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), cx AS (
        |  SELECT bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS x
        |  FROM e WHERE event_type = 'click' GROUP BY 1
        |), cy AS (
        |  SELECT bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS y
        |  FROM e WHERE event_type = 'purchase' GROUP BY 1
        |), j AS (
        |  SELECT cx.bucket, x, y FROM cx JOIN cy USING (bucket)
        |), lags AS (
        |  SELECT unnest(generate_series(-6, 6)) AS lag
        |), shifted AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM lags l
        |  JOIN j a ON TRUE
        |  JOIN j b ON b.bucket = a.bucket + l.lag * 3600
        |)
        |SELECT lag, round(corr(x, y), 6) AS xcorr,
        |       count(*) AS n_overlap
        |FROM shifted GROUP BY lag ORDER BY lag""".stripMargin),

    // ── Theil–Sen robust trend per event_type (median pairwise slope
    //    over hourly buckets, reported per hour)
    Query("q_theilsen", (s, dir) => {
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.theilSen(series, Seq("event_type"), "bucket", "v")
        .select(col("event_type"), col("n_pairs"),
          round(col("slope") * lit(3600.0) + lit(1e-9), 6)
            .as("slope_per_hour"))
        .orderBy("event_type")
    },
      // median over bit-identical slope multisets; cross-engine median
      // interpolation wobbles an ulp at even counts → round(…,6) + nudge,
      // +0.0 absorbs a signed-zero round
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.event_type,
        |         (b.v - a.v) / CAST(b.bucket - a.bucket AS DOUBLE) AS s
        |  FROM ser a JOIN ser b
        |    ON a.event_type = b.event_type AND b.bucket > a.bucket
        |)
        |SELECT event_type, count(*) AS n_pairs,
        |       round(median(s) * 3600.0 + 1e-9, 6) + 0.0 AS slope_per_hour
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── bounded-lag Theil–Sen (the long-series path the exact form's
    //    pair budget points at): slopes only between points at rank
    //    distance ≤ 16 in bucket order — one window pass, O(n·L), no
    //    self-join — median replayed by a rank-join oracle
    Query("q_theilsen_approx", (s, dir) => {
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.theilSenApprox(series, Seq("event_type"), "bucket", "v",
          maxLag = 16)
        .select(col("event_type"), col("n_pairs"),
          round(col("slope") * lit(3600.0) + lit(1e-9), 6)
            .as("slope_per_hour"))
        .orderBy("event_type")
    },
      // rank-windowed pair set: b.rn - a.rn in [1, 16] in bucket order
      // (strict bucket inequality matches the engine's tb > ta filter)
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), rk AS (
        |  SELECT event_type, bucket, v,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY bucket) AS rn
        |  FROM ser
        |), pairs AS (
        |  SELECT a.event_type,
        |         (b.v - a.v) / CAST(b.bucket - a.bucket AS DOUBLE) AS s
        |  FROM rk a JOIN rk b
        |    ON a.event_type = b.event_type
        |   AND b.rn > a.rn AND b.rn <= a.rn + 16
        |   AND b.bucket > a.bucket
        |)
        |SELECT event_type, count(*) AS n_pairs,
        |       round(median(s) * 3600.0 + 1e-9, 6) + 0.0 AS slope_per_hour
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── join-key skew diagnostic: top-20 heaviest user_ids with share
    //    and a salt-factor hint
    Query("q_skew_report", (s, dir) =>
      Skew.skewReport(ev(s, dir), Seq("user_id"), topN = 20)
        .withColumn("share", round(col("share") + lit(1e-9), 6))
        .orderBy(col("cnt").desc, col("user_id")),
      // deterministic top-N: cnt desc, key asc in both engines; ceil of
      // an identically-ordered double product
      """WITH c AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS dk FROM c
        |)
        |SELECT user_id, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) + 1e-9, 6)
        |    + 0.0 AS share,
        |  CAST(ceil(CAST(cnt AS DOUBLE) * dk / total) AS BIGINT)
        |    AS salts_hint
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin),

    // ── iterative sigma-clip outlier flags per event_type (k=2.5,
    //    3 passes — re-estimated σ catches spikes that mask themselves)
    Query("q_sigma_clip", (s, dir) => {
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.sigmaClip(series, Seq("event_type"), "bucket", "v",
          k = 2.5, maxIter = 3)
        .select(col("event_type"), col("bucket"),
          round(col("v") + lit(1e-9), 4).as("v"), col("is_outlier"))
        .orderBy("event_type", "bucket")
    },
      // the clip loop replays as a recursive CTE unrolled to exactly
      // maxIter passes (no-op passes are identity, so the engine's
      // early-stop and the full unroll agree); μ/σ via decimal sums
      """WITH RECURSIVE e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), clip AS (
        |  SELECT 0 AS iter, event_type, bucket, v FROM ser
        |  UNION ALL
        |  SELECT c.iter + 1, c.event_type, c.bucket, c.v
        |  FROM clip c
        |  JOIN (
        |    SELECT iter, event_type,
        |      CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / count(v)
        |        AS mu,
        |      sqrt(greatest(0.0,
        |        CAST(sum(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)
        |          / count(v)
        |        - (CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE)
        |             / count(v))
        |          * (CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE)
        |             / count(v)))) AS sigma
        |    FROM clip GROUP BY 1, 2
        |  ) s ON s.iter = c.iter AND s.event_type = c.event_type
        |  WHERE c.iter < 3 AND abs(c.v - s.mu) <= 2.5 * s.sigma
        |)
        |SELECT s0.event_type, s0.bucket, round(s0.v + 1e-9, 4) + 0.0 AS v,
        |       f.bucket IS NULL AS is_outlier
        |FROM ser s0
        |LEFT JOIN (SELECT event_type, bucket FROM clip WHERE iter = 3) f
        |  ON f.event_type = s0.event_type AND f.bucket = s0.bucket
        |ORDER BY 1, 2""".stripMargin),

    // ── OLS trend per event_type (x = hours since FROM: centered small
    //    integers, per trendOls's numerical contract)
    Query("q_trend_ols", (s, dir) => {
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
        .withColumn("xh",
          ((col("bucket") - lit(FROM)) / lit(HOUR)).cast("long"))
      Temporal.trendOls(series, Seq("event_type"), "xh", "v")
        .select(col("event_type"), col("n"),
          round(col("slope") + lit(1e-9), 6).as("slope"),
          round(col("intercept") + lit(1e-9), 4).as("intercept"),
          round(col("r2") + lit(1e-9), 6).as("r2"))
        .orderBy("event_type")
    },
      // x = (bucket-FROM)/3600: exact small integers, so every OLS moment
      // sum is exact in the decimal routing (no cancellation wobble)
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), pts AS (
        |  SELECT event_type,
        |         CAST((bucket - 1704067200) // 3600 AS BIGINT) AS xh, v
        |  FROM ser
        |), m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(CAST(xh AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE)
        |      AS sx,
        |    CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(xh AS DOUBLE) * v AS DECIMAL(30,12)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(xh AS DOUBLE) * CAST(xh AS DOUBLE)
        |      AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE) AS syy
        |  FROM pts GROUP BY 1
        |), f AS (
        |  SELECT event_type, n,
        |    n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy,
        |    n * sxy - sx * sy AS cov, sx, sy
        |  FROM m
        |), r AS (
        |  SELECT event_type, n, cov / vx AS slope, sx, sy, vx, vy, cov
        |  FROM f
        |)
        |SELECT event_type, n,
        |  round(slope + 1e-9, 6) + 0.0 AS slope,
        |  round((sy - slope * sx) / CAST(n AS DOUBLE) + 1e-9, 4) + 0.0
        |    AS intercept,
        |  round(CASE WHEN vy > 0 THEN (cov * cov) / (vx * vy) END
        |    + 1e-9, 6) + 0.0 AS r2
        |FROM r ORDER BY 1""".stripMargin),

    // ── seasonal-naive baseline eval: ŷ(t)=y(t−24h), scored on the
    //    same post-SPLIT window the HW forecasts use. The scan prunes
    //    via a TYPED range (rangeFilter) at SPLIT−period — only buckets
    //    that can reach the eval window are read; a bare bucket>=SPLIT
    //    filter is a function of ts and pushes nothing (the
    //    q_filter_tags lesson, PlanLint-dogfooded)
    Query("q_forecast_eval", (s, dir) => {
      val series = graft.operators.TimesQuery.rangeFilter(
          ev(s, dir), "ts", SPLIT - 86400L, FROM + 30L * 86400L)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.seasonalNaiveEval(series, Seq("event_type"), "bucket", "v",
          period = 86400L, evalFrom = SPLIT)
        .select(col("event_type"), col("n_eval"),
          round(col("mae") + lit(1e-9), 4).as("mae"),
          round(col("rmse") + lit(1e-9), 4).as("rmse"),
          round(col("smape") + lit(1e-9), 6).as("smape"))
        .orderBy("event_type")
    },
      // error moments via decimal(30,12); sqrt is correctly rounded IEEE
      // so rmse matches bitwise given identical means
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), j AS (
        |  SELECT a.event_type, a.v AS y, b.v AS yhat, a.v - b.v AS err
        |  FROM ser a JOIN ser b
        |    ON a.event_type = b.event_type
        |   AND b.bucket = a.bucket - 86400
        |  WHERE a.bucket >= 1705795200
        |)
        |SELECT event_type, count(*) AS n_eval,
        |  round(CAST(sum(CAST(abs(err) AS DECIMAL(30,12))) AS DOUBLE)
        |    / count(*) + 1e-9, 4) + 0.0 AS mae,
        |  round(sqrt(CAST(sum(CAST(err * err AS DECIMAL(30,12))) AS DOUBLE)
        |    / count(*)) + 1e-9, 4) + 0.0 AS rmse,
        |  round(CAST(sum(CAST(2.0 * abs(err) / (abs(y) + abs(yhat))
        |    AS DECIMAL(30,12))) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0
        |    AS smape
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── autocorrelation per event_type at lags 1..30h (the seasonality
    //    audit: hourly series peak at lag 24)
    Query("q_acf", (s, dir) => {
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * 3600).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      Temporal.acf(series, Seq("event_type"), "bucket", "v",
          maxLag = 30, step = HOUR)
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round(col("acf") + lit(1e-9), 6).as("acf"))
        .orderBy("event_type", "lag")
    },
      // mean / denominator / per-lag numerators all via decimal(30,12)
      // sums (order-independent in both engines)
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         value
        |  FROM events
        |), ser AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM e GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / count(v)
        |           AS mean
        |  FROM ser GROUP BY 1
        |), c AS (
        |  SELECT s.event_type, s.bucket AS t, s.v - m.mean AS d
        |  FROM ser s JOIN m USING (event_type)
        |), den AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(d * d AS DECIMAL(30,12))) AS DOUBLE) AS ss
        |  FROM c GROUP BY 1
        |), p AS (
        |  SELECT a.event_type, CAST((b.t - a.t) // 3600 AS INT) AS lag,
        |         a.d AS da, b.d AS db
        |  FROM c a JOIN c b ON a.event_type = b.event_type
        |    AND b.t > a.t AND b.t <= a.t + 30 * 3600
        |    AND (b.t - a.t) % 3600 = 0
        |), n AS (
        |  SELECT event_type, lag, count(*) AS n_pairs,
        |         CAST(sum(CAST(da * db AS DECIMAL(30,12))) AS DOUBLE) AS num
        |  FROM p GROUP BY 1, 2
        |)
        |SELECT n.event_type, lag, n_pairs,
        |       round(num / ss + 1e-9, 6) + 0.0 AS acf
        |FROM n JOIN den USING (event_type) ORDER BY 1, 2""".stripMargin),

    // ── fleet Holt-Winters: one state per event_type trained in ONE
    //    distributed job, 24h forecast per key
    Query("q_fleet_hw", (s, dir) => {
      val p = graft.ml.HoltWintersParams(bucketInterval = HOUR,
        period = 86400L, alpha = 0.3, beta = 0.01, gamma = 0.3)
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * HOUR).cast("long"))
        .filter(col("bucket") >= FROM && col("bucket") < SPLIT)
        .groupBy("event_type", "bucket")
        .agg(exactAvg(col("value")).as("v"))
      val states = graft.ml.HoltWinters.train(
        series, "v", Seq("event_type"), p)
      graft.ml.HoltWinters.forecast(
          states, Seq("event_type"), SPLIT, SPLIT + 86400L, p)
        .select(col("event_type"), col("bucket"),
          round(col("predicted"), 4).as("predicted"),
          round(col("lower"), 4).as("lower"),
          round(col("upper"), 4).as("upper"))
        .orderBy("event_type", "bucket")
    },
      // the keyed generalization of SparkEntry's q_holtwinters oracle: the
      // per-key fold replayed as ONE recursive CTE whose rows advance every
      // key in lockstep (join on key + rn), seasonal vectors as LIST columns
      {
      val alpha = 0.3; val beta = 0.01; val gamma = 0.3; val m = 24
      val z = 3.0
      val roll = s"(CASE WHEN (o.bucket - f.prev_bucket) // $HOUR > 1 " +
        s"THEN f.lvl + CAST((o.bucket - f.prev_bucket) // $HOUR - 1 AS DOUBLE) * f.tr " +
        "ELSE f.lvl END)"
      val sj = "f.season[CAST(o.slot AS INT) + 1]"
      val predExpr = "(st.lvl + CAST((f.bucket - st.last_bucket) // " +
        s"$HOUR AS DOUBLE) * st.tr + " +
        s"st.season[CAST((f.bucket % 86400) // $HOUR AS INT) + 1])"
      s"""WITH RECURSIVE train_agg AS (
         |  SELECT event_type, CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1, 2
         |), obs AS (
         |  SELECT event_type, bucket, v, (bucket % 86400) // $HOUR AS slot,
         |         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
         |  FROM train_agg WHERE v IS NOT NULL
         |), nobs AS (SELECT event_type, max(rn) AS n FROM obs GROUP BY 1),
         |s1 AS (
         |  SELECT event_type, list_reduce(list(v ORDER BY rn), (a, b) -> a + b) AS sum1,
         |         count(*) AS n1
         |  FROM obs WHERE rn <= $m GROUP BY 1
         |), s2 AS (
         |  SELECT event_type,
         |         CASE WHEN count(*) > 0
         |              THEN list_reduce(list(v ORDER BY rn), (a, b) -> a + b) END AS sum2,
         |         count(*) AS n2
         |  FROM obs WHERE rn > $m AND rn <= ${2 * m} GROUP BY 1
         |), init AS (
         |  SELECT s1.event_type, sum1/n1 AS mean1,
         |         CASE WHEN coalesce(n2, 0) > 0 THEN (sum2/n2 - sum1/n1) / $m ELSE 0.0 END AS trend0
         |  FROM s1 LEFT JOIN s2 USING (event_type)
         |), slot_last AS (
         |  SELECT event_type, slot, v FROM (
         |    SELECT event_type, slot, v,
         |           row_number() OVER (PARTITION BY event_type, slot ORDER BY rn DESC) AS rr
         |    FROM obs WHERE rn <= $m) t WHERE rr = 1
         |), season0 AS (
         |  SELECT i.event_type, list(coalesce(sl.v - i.mean1, 0.0) ORDER BY g.j) AS season
         |  FROM init i
         |  CROSS JOIN generate_series(0, ${m - 1}) g(j)
         |  LEFT JOIN slot_last sl ON sl.event_type = i.event_type AND sl.slot = g.j
         |  GROUP BY i.event_type
         |), first_b AS (
         |  SELECT event_type, bucket FROM obs WHERE rn = 1
         |), fold AS (
         |  SELECT i.event_type, CAST(0 AS BIGINT) AS rn, i.mean1 AS lvl, i.trend0 AS tr,
         |         s0.season AS season, fb.bucket AS prev_bucket, CAST(0.0 AS DOUBLE) AS sse
         |  FROM init i JOIN season0 s0 USING (event_type) JOIN first_b fb USING (event_type)
         |  UNION ALL
         |  SELECT o.event_type, o.rn,
         |         $alpha * (o.v - $sj) + (1 - $alpha) * ($roll + f.tr) AS newlvl,
         |         $beta * (newlvl - $roll) + (1 - $beta) * f.tr AS newtr,
         |         list_transform(range(1, ${m + 1}), i -> CASE WHEN i - 1 = o.slot
         |             THEN $gamma * (o.v - newlvl) + (1 - $gamma) * $sj
         |             ELSE f.season[CAST(i AS INT)] END) AS season,
         |         o.bucket AS prev_bucket,
         |         f.sse + (o.v - ($roll + f.tr + $sj)) * (o.v - ($roll + f.tr + $sj)) AS sse
         |  FROM fold f JOIN obs o ON o.event_type = f.event_type AND o.rn = f.rn + 1
         |), st AS (
         |  SELECT f.event_type, f.lvl, f.tr, f.season, f.prev_bucket AS last_bucket,
         |         greatest(sqrt(f.sse / nb.n), 1e-9) AS sigma
         |  FROM fold f JOIN nobs nb ON nb.event_type = f.event_type AND f.rn = nb.n
         |), fspine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($SPLIT, ${SPLIT + 86400 - HOUR}, $HOUR)) AS bucket
         |  FROM (SELECT DISTINCT event_type FROM obs) k
         |)
         |SELECT f.event_type, f.bucket,
         |       round($predExpr, 4) AS predicted,
         |       round($predExpr - $z * st.sigma, 4) AS lower,
         |       round($predExpr + $z * st.sigma, 4) AS upper
         |FROM fspine f JOIN st USING (event_type) ORDER BY 1, 2""".stripMargin
    }),

    // ── keyed times-query (§2.2 seriesKeys fan-out): ONE fused
    //    conditional aggregation + spine×series gap materialization for
    //    the whole fleet — the multi-series form every TSDB request with
    //    group_by tags compiles to. Previously unit-only; now
    //    driver-gated.
    Query("q_times_keyed", (s, dir) => {
      import graft.operators.{ConstFill, Feature, TimesQuery}
      TimesQuery.run(s, ev(s, dir), "ts", HOUR, FROM, FROM + 30L * 86400L,
          Seq(
            Feature("avg_v", "avg", "value", fill = ConstFill(0.0)),
            Feature("n", "count", "value", fill = ConstFill(0.0))),
          seriesKeys = Seq("event_type"))
        .withColumn("avg_v", round(col("avg_v") + lit(1e-9), 4))
        .orderBy("event_type", "bucket")
    },
      // keyed times-query: spine × distinct series, keyed fused agg
      {
      val TO = FROM + 30L * 86400L
      s"""WITH keys AS (SELECT DISTINCT event_type FROM events),
         |spine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($FROM, ${TO - HOUR}, $HOUR)) AS bucket
         |  FROM keys k
         |), agg AS (
         |  SELECT event_type, CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS avg_v,
         |         CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO
         |  GROUP BY 1, 2
         |)
         |SELECT s.bucket, s.event_type,
         |       round(coalesce(a.avg_v, 0.0) + 1e-9, 4) AS avg_v,
         |       coalesce(a.n, 0.0) AS n
         |FROM spine s LEFT JOIN agg a USING (event_type, bucket)
         |ORDER BY s.event_type, s.bucket""".stripMargin
    }),

    // ── fleet anomaly scan (§2.9 keyed): per-key seasonal profile →
    //    score → keyed hysteresis with grace, run as TWO eval windows
    //    through FleetScan.scanWithState (empty state → resume) — the
    //    oracle is ONE continuous per-key recursive CTE, so the state
    //    handoff itself is differentially verified: any resume defect
    //    diverges window 2 from the continuous scan.
    Query("q_fleet_scan", (s, dir) => {
      import graft.operators.{Feature, TimesQuery}
      val TO = FROM + 30L * 86400L
      val keys = Seq("event_type")
      def series(from: Long, to: Long) =
        TimesQuery.run(s, ev(s, dir), "ts", HOUR, from, to,
          Seq(Feature("observed", "avg", "value")), seriesKeys = keys)
      val slotC = (pmod(col("bucket"), lit(86400L)) / lit(HOUR)).cast("long")
      val profile = series(FROM, SPLIT)
        .groupBy(col("event_type"), slotC.as("slot"))
        .agg(avg(col("observed")).as("mu"),
          coalesce(when(stddev_pop(col("observed")) === 0.0, 1.0)
            .otherwise(stddev_pop(col("observed"))), lit(1.0)).as("sigma"))
      def scored(from: Long, to: Long) = series(from, to)
        .withColumn("slot", slotC)
        .join(broadcast(profile), Seq("event_type", "slot"))
        .withColumn("score", coalesce(graft.functions.Stats.anomalyScore(
          col("observed"), col("mu"), col("mu") + lit(3.0) * col("sigma"),
          "low_high"), lit(0.0)))
        .select(col("event_type"), col("bucket"), col("score"))
      val mid = SPLIT + 5L * 86400L
      val (scan1, st1) = graft.ml.FleetScan.scanWithState(
        scored(SPLIT, mid), graft.ml.FleetScan.emptyState(s, keys), keys,
        maxThreshold = 90.0, minThreshold = 60.0, gracePeriodSec = 21600L)
      val (scan2, _) = graft.ml.FleetScan.scanWithState(
        scored(mid, TO), st1, keys,
        maxThreshold = 90.0, minThreshold = 60.0, gracePeriodSec = 21600L)
      scan1.unionByName(scan2)
        .select(col("event_type"), col("bucket"),
          round(col("score"), 4).as("score"),
          col("is_anomaly"), col("anomaly"),
          round(col("episode_max"), 4).as("episode_max"))
        .orderBy("event_type", "bucket")
    },
      // fleet scan: the q_anomaly_scan_grace recursive state machine with
      // an event_type dimension, over a PER-KEY seasonal profile — ONE
      // continuous CTE; the engine runs two eval windows through
      // FleetScan.scanWithState, so matching this oracle proves the state
      // handoff (open episode, grace anchor, episode max) is exact.
      {
      val TO = FROM + 30L * 86400L
      val det = "(sm.last_end IS NULL OR o.bucket - sm.last_end >= 21600) " +
        "AND o.score >= 90.0"
      s"""WITH RECURSIVE keys AS (SELECT DISTINCT event_type FROM events),
         |train_agg AS (
         |  SELECT event_type, CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1, 2
         |), train_spine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($FROM, ${SPLIT - HOUR}, $HOUR)) AS bucket
         |  FROM keys k
         |), train_series AS (
         |  SELECT s.event_type, s.bucket, a.v
         |  FROM train_spine s LEFT JOIN train_agg a USING (event_type, bucket)
         |), profile AS (
         |  SELECT event_type, CAST((bucket % 86400) / $HOUR AS BIGINT) AS slot,
         |         avg(v) AS mu,
         |         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL THEN 1.0
         |              ELSE stddev_pop(v) END AS sigma
         |  FROM train_series GROUP BY 1, 2
         |), test_agg AS (
         |  SELECT event_type, CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $SPLIT AND epoch(ts) < $TO GROUP BY 1, 2
         |), test_spine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($SPLIT, ${TO - HOUR}, $HOUR)) AS bucket
         |  FROM keys k
         |), test_series AS (
         |  SELECT s.event_type, s.bucket, a.v
         |  FROM test_spine s LEFT JOIN test_agg a USING (event_type, bucket)
         |), banded AS (
         |  SELECT t.event_type, t.bucket, t.v AS observed, p.mu AS predicted,
         |         p.mu + 3*p.sigma AS upper
         |  FROM test_series t
         |  JOIN profile p ON p.event_type = t.event_type
         |    AND p.slot = CAST((t.bucket % 86400) / $HOUR AS BIGINT)
         |), xed AS (
         |  SELECT *,
         |    abs((observed - predicted) / greatest((upper - predicted)/3.0, 1e-9)) / sqrt(2) AS x
         |  FROM banded
         |), ted AS (
         |  SELECT *, 1/(1 + 0.3275911*x) AS tp FROM xed
         |), raw_scored AS (
         |  SELECT event_type, bucket,
         |    100 * least(greatest(
         |      2*(0.5*(1 + (1 - ((((1.061405429*tp - 1.453152027)*tp + 1.421413741)*tp
         |                          - 0.284496736)*tp + 0.254829592)*tp * exp(-x*x)))) - 1,
         |      0), 1) AS score
         |  FROM ted
         |), ordered AS (
         |  SELECT event_type,
         |         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn,
         |         bucket, coalesce(score, 0.0) AS score
         |  FROM raw_scored
         |), sm AS (
         |  SELECT event_type, rn, bucket, score,
         |         score >= 90.0 AS detected,
         |         score >= 90.0 AS open_after,
         |         CAST(NULL AS BIGINT) AS last_end,
         |         CASE WHEN score >= 90.0 THEN score ELSE 0.0 END AS epi_max,
         |         CASE WHEN score >= 90.0 THEN 'start' END AS anomaly
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.rn, o.bucket, o.score,
         |         $det AS detected,
         |         CASE WHEN NOT sm.open_after THEN $det
         |              ELSE NOT (NOT ($det) AND o.score < 60.0) END AS open_after,
         |         CASE WHEN sm.open_after AND NOT ($det) AND o.score < 60.0
         |              THEN o.bucket ELSE sm.last_end END AS last_end,
         |         CASE WHEN NOT sm.open_after AND ($det) THEN o.score
         |              WHEN sm.open_after AND ($det)
         |              THEN greatest(sm.epi_max, o.score)
         |              ELSE sm.epi_max END AS epi_max,
         |         CASE WHEN NOT sm.open_after AND ($det) THEN 'start'
         |              WHEN sm.open_after AND NOT ($det) AND o.score < 60.0
         |              THEN 'end'
         |              WHEN sm.open_after THEN 'ongoing' END AS anomaly
         |  FROM sm JOIN ordered o
         |    ON o.event_type = sm.event_type AND o.rn = sm.rn + 1
         |)
         |SELECT event_type, bucket, round(score, 4) AS score,
         |       detected AS is_anomaly, anomaly,
         |       round(CASE WHEN anomaly IS NOT NULL THEN epi_max END, 4)
         |         AS episode_max
         |FROM sm ORDER BY event_type, bucket""".stripMargin
    }),

    // ── annotation-window flagging (§2.15, previously unit-only): hourly
    //    'error' buckets left-range-joined against a broadcast windows
    //    frame (human-labeled anomaly periods are O(100) rows → the
    //    bucketed side streams through a BroadcastNestedLoopJoin, no
    //    shuffle added at any corpus size)
    Query("q_annotations", (s, dir) => {
      val TO = FROM + 30L * 86400L
      val buckets = ev(s, dir).filter(col("event_type") === "error")
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * HOUR).cast("long"))
        .filter(col("bucket") >= FROM && col("bucket") < TO)
        .groupBy("bucket")
        .agg(round(exactAvg(col("value")) + lit(1e-9), 4).as("v"))
      val windows = s.createDataFrame(Seq(
          (FROM + 2L * 86400L, FROM + 2L * 86400L + 6L * HOUR),
          (FROM + 10L * 86400L + 12L * HOUR, FROM + 11L * 86400L),
          (FROM + 25L * 86400L, FROM + 26L * 86400L)))
        .toDF("start_ts", "end_ts")
      graft.ml.Annotations.flagWindows(buckets, windows).orderBy("bucket")
    },
      // annotation flagging: same literal windows, overlap as a range join
      {
      val TO = FROM + 30L * 86400L
      val w1s = FROM + 2L * 86400L; val w1e = w1s + 6L * HOUR
      val w2s = FROM + 10L * 86400L + 12L * HOUR; val w2e = FROM + 11L * 86400L
      val w3s = FROM + 25L * 86400L; val w3e = FROM + 26L * 86400L
      s"""WITH buckets AS (
         |  SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) AS bucket,
         |         round(CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
         |               / count(value) + 1e-9, 4) AS v
         |  FROM events
         |  WHERE event_type = 'error' AND epoch(ts) >= $FROM AND epoch(ts) < $TO
         |  GROUP BY 1
         |), win(ws, we) AS (
         |  VALUES ($w1s, $w1e), ($w2s, $w2e), ($w3s, $w3e)
         |)
         |SELECT b.bucket, b.v, count(w.ws) > 0 AS is_abnormal
         |FROM buckets b
         |LEFT JOIN win w ON b.bucket >= w.ws AND b.bucket < w.we
         |GROUP BY 1, 2 ORDER BY b.bucket""".stripMargin
    }),

    // ── sequential train/validation split (§2.54, previously unit-only):
    //    row-count split of the spine-complete hourly series — two
    //    bucket-threshold filters off one 1-row aggregate, no sort/limit
    Query("q_split", (s, dir) => {
      import graft.operators.{ConstFill, Feature, TimesQuery}
      val TO = FROM + 30L * 86400L
      val series = TimesQuery.run(s, ev(s, dir), "ts", HOUR, FROM, TO,
          Seq(Feature("v", "avg", "value", fill = ConstFill(0.0))))
        .withColumn("v", round(col("v") + lit(1e-9), 4))
      val (tr, va) = TimesQuery.sequentialSplit(series, 0.67)
      tr.withColumn("part", lit("train"))
        .unionByName(va.withColumn("part", lit("valid")))
        .orderBy("bucket")
    },
      // sequential split: same ntrn = round(n*0.67) threshold arithmetic
      // ('//' = Scala Long division in sequentialSplit's step computation)
      {
      val TO = FROM + 30L * 86400L
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${TO - HOUR}, $HOUR)) AS bucket
         |), agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO
         |  GROUP BY 1
         |), series AS (
         |  SELECT s.bucket, round(coalesce(a.v, 0.0) + 1e-9, 4) AS v
         |  FROM spine s LEFT JOIN agg a USING (bucket)
         |), m AS (
         |  SELECT min(bucket) AS lo, max(bucket) AS hi, count(*) AS n FROM series
         |), c AS (
         |  SELECT lo + CAST(round(n*0.67) AS BIGINT)
         |           * (CASE WHEN n > 1 THEN (hi - lo) // (n - 1) ELSE 1 END) AS cut
         |  FROM m
         |)
         |SELECT s.bucket, s.v,
         |       CASE WHEN s.bucket < c.cut THEN 'train' ELSE 'valid' END AS part
         |FROM series s, c ORDER BY s.bucket""".stripMargin
    }),

    // ── per-series time offset vs first bucket (§2.28, previously
    //    unit-only): keyed min as an aggregate broadcast back — never an
    //    unpartitioned window
    Query("q_time_offset", (s, dir) => {
      val TO = FROM + 30L * 86400L
      val series = ev(s, dir)
        .withColumn("bucket",
          (expr("ts_nanos div 1000000000 div 3600") * HOUR).cast("long"))
        .filter(col("bucket") >= FROM && col("bucket") < TO)
        .groupBy("event_type", "bucket")
        .agg(round(exactAvg(col("value")) + lit(1e-9), 4).as("v"))
      graft.operators.TimesQuery.withTimeOffset(series, Seq("event_type"))
        .orderBy("event_type", "bucket")
    },
      // keyed time offset: bucket − per-key min
      {
      val TO = FROM + 30L * 86400L
      s"""WITH agg AS (
         |  SELECT event_type,
         |         CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) AS bucket,
         |         round(CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
         |               / count(value) + 1e-9, 4) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO
         |  GROUP BY 1, 2
         |)
         |SELECT event_type, bucket, v,
         |       bucket - min(bucket) OVER (PARTITION BY event_type) AS time_offset
         |FROM agg ORDER BY event_type, bucket""".stripMargin
    }),

    // ── linear interpolation of gap hours in the sparse 'error' series
    Query("q_interpolate", (s, dir) => {
      val from = 1704067200L // 2024-01-01T00:00:00Z (events table range)
      val to = 1706659200L   // 2024-01-31T00:00:00Z
      val spine = s.range(from / HOUR, to / HOUR)
        .select((col("id") * HOUR).as("bucket"))
      val agg = ev(s, dir).filter(col("event_type") === "error")
        .groupBy((expr("ts_nanos div 1000000000 div 3600") * HOUR)
          .cast("long").as("bucket"))
        .agg(exactAvg(col("value")).as("v"))
      val series = spine.join(agg, Seq("bucket"), "left")
      Temporal.interpolate(series, Nil, "bucket", "v")
        .select(col("bucket"), round(col("v"), 6).as("v"))
        .orderBy("bucket")
    },
      """WITH spine AS (
        |  SELECT unnest(generate_series(1704067200, 1706659200 - 3600, 3600))
        |    AS bucket
        |), agg AS (
        |  SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT)
        |           AS bucket,
        |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE)
        |           / count(value) AS v
        |  FROM events WHERE event_type = 'error' GROUP BY 1
        |), s AS (
        |  SELECT spine.bucket, agg.v FROM spine LEFT JOIN agg USING (bucket)
        |), f AS (
        |  SELECT bucket, v,
        |         last_value(v IGNORE NULLS) OVER (ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |         last_value(CASE WHEN v IS NOT NULL THEN bucket END
        |           IGNORE NULLS) OVER (ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb,
        |         first_value(v IGNORE NULLS) OVER (ORDER BY bucket
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |         first_value(CASE WHEN v IS NOT NULL THEN bucket END
        |           IGNORE NULLS) OVER (ORDER BY bucket
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
        |  FROM s
        |)
        |SELECT bucket,
        |       round(CASE WHEN v IS NOT NULL THEN v
        |                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |                    pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
        |                      / CAST(nb - pb AS DOUBLE))
        |             END, 6) AS v
        |FROM f ORDER BY bucket""".stripMargin),

    // ── Morton z-value for the (user_id, hour) layout key — the data-
    //    skipping sort key writeZOrdered lays files out by
    Query("q_zorder", (s, dir) =>
      ev(s, dir).select(col("event_id"),
          graft.io.ZOrder.zValue(col("user_id"),
            expr("ts_nanos div 1000000000 div 3600") - lit(FROM / HOUR))
            .as("zval"))
        .orderBy("event_id"),
      // same 21-bit interleave, generated term-by-term (x bit i → 2i,
      // y bit i → 2i+1), fully parenthesized for DuckDB precedence
      {
      val terms = (0 until 21).flatMap(i => Seq(
        s"(((user_id >> $i) & 1) << ${2 * i})",
        s"(((hr >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""SELECT event_id, ($terms) AS zval
         |FROM (
         |  SELECT event_id, user_id,
         |         epoch_ns(ts) // 1000000000 // 3600 - ${FROM / HOUR} AS hr
         |  FROM events
         |)
         |ORDER BY event_id""".stripMargin
    }),

    // ── semantic dedup: k-means-cell candidate sets (centroids pinned to
    //    the 16 lowest-id vectors so the oracle can replicate assignment)
    Query("q_semantic_dedup", (s, dir) => {
      // fanOut + materialize-then-range-sort: the survivors are one
      // row per kept vector (corpus-scaling), so a SinglePartition
      // funnel would sort them in one task at scale; localCheckpoint
      // runs the kernel + anti-join exactly once (no orderBy
      // range-sampling re-execution) and the distributed sort orders
      // the cheap materialized rows (the orderedCorpus pattern)
      val e = Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      val cents = e.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(Similarity.asDouble(col("embedding"))).collect()
        .map(_.getSeq[Double](0).toArray)
      Similarity.semanticDedup(e, "vec_id", "embedding", cents, tau = 0.4)
        .select("vec_id", "label")
        .localCheckpoint(true).orderBy("vec_id")
    },
      // assignment CTE mirrors q_ann_ivf (centroids = 16 lowest-id vectors,
      // argmax-cosine cell, ties → lowest cell); then within-cell pairs with
      // cosine ≥ 0.4 remove the higher id
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, e.label, e.v, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, label, v, cell FROM sims WHERE rn = 1
        |), removed AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) /
        |          (sqrt(list_dot_product(a.v, a.v)) *
        |           sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM removed)
        |ORDER BY vec_id""".stripMargin),
  )
}
