package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.{AnomalyScan, SeasonalModel, SeasonalModelParams, SeasonalModelType}
import graft.operators._
import graft.sources.Tables

/** Driver contract — one [[Query]] per implemented operator from
  * SURVEY.md §2, each declaring its Spark body and, right under it, the
  * DuckDB-equivalent oracle SQL. `queries` and `oracleSql` are views of
  * the one table.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - every floating-point aggregate is `round(x, n)` in BOTH engines;
  *  - computed time columns are BIGINT epoch seconds, never timestamps;
  *  - every query has a total ORDER BY on output columns;
  *  - ties (mode, top-N) are broken by an explicit secondary key.
  */
object SparkEntry {

  // events table covers [2024-01-01, 2024-01-31) at every SF (TESTDATA.md)
  private val FROM  = 1704067200L              // 2024-01-01T00:00:00Z
  private val TO    = 1706659200L              // 2024-01-31T00:00:00Z
  private val SPLIT = FROM + 20L * 86400L      // train/test split (day 21)
  private val HOUR  = 3600L

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val wAll = Window.orderBy("bucket")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The §7.3
    * minimum slice: bucketed avg+count with tag filter and gap fill. */
  def entry(spark: SparkSession): DataFrame =
    timesAvgCount(spark, "/root/testdata/sf0.001")

  private def timesAvgCount(s: SparkSession, dir: String): DataFrame =
    TimesQuery.run(
      s, t(s, dir, "events"), "ts", HOUR, FROM, TO,
      Seq(
        Feature("avg_click", "avg", "value",
          matchAll = Seq("event_type" -> "click"), fill = ConstFill(0.0)),
        Feature("count_click", "count", "value",
          matchAll = Seq("event_type" -> "click"), fill = ConstFill(0.0))))
      .withColumn("avg_click", round(col("avg_click") + lit(1e-9), 4))

  /** Hourly avg(value) over all events for a range — the canonical bucketed
    * series feeding the window/ML operators. */
  private def hourlyAvg(s: SparkSession, dir: String, from: Long, to: Long,
      fill: Fill = NoFill): DataFrame =
    TimesQuery.run(s, t(s, dir, "events"), "ts", HOUR, from, to,
      Seq(Feature("observed", "avg", "value", fill = fill)))

  private val seasonalParams = SeasonalModelParams(bucketInterval = HOUR)

  /** Train on days 1-20, score days 21-30 (SURVEY §2.11). */
  private def seasonalScored(s: SparkSession, dir: String): DataFrame = {
    val profile = SeasonalModel.train(
      hourlyAvg(s, dir, FROM, SPLIT), "observed", Nil, seasonalParams)
    SeasonalModel.predict(
      hourlyAvg(s, dir, SPLIT, TO), profile, "observed", Nil, seasonalParams)
  }

  /** Every query by name, from the one declaration per query in this
    * file and the three family registries. */
  lazy val table: Map[String, Query] = Query.byName(core ++
    DataPipelineQueries.declared ++ TemporalQueries.declared ++
    StreamingQueries.declared)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map { case (n, q) => n -> q.run }

  lazy val oracleSql: Map[String, String] =
    table.map { case (n, q) => n -> q.oracle }

  private lazy val core: Seq[Query] = Seq(
    // ── §2.1-2.4: the core times-query (scan+filter+bucket+agg+spine+fill)
    Query("q_times_avg_count", (s, dir) => timesAvgCount(s, dir),
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${TO - HOUR}, $HOUR)) AS bucket
         |), agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(CASE WHEN event_type='click' THEN value END AS DECIMAL(30,12))) AS DOUBLE) / count(CASE WHEN event_type='click' THEN value END) AS avg_click,
         |         CAST(count(CASE WHEN event_type='click' THEN value END) AS DOUBLE) AS count_click
         |  FROM events
         |  WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO
         |  GROUP BY 1
         |)
         |SELECT s.bucket,
         |       round(coalesce(a.avg_click, 0.0) + 1e-9, 4) AS avg_click,
         |       coalesce(a.count_click, 0.0) AS count_click
         |FROM spine s LEFT JOIN agg a USING (bucket)
         |ORDER BY s.bucket""".stripMargin),

    // ── §2.2 per-feature measurement override (model.py:82-83): features
    //    resolve to different sources, fused per source, merged by bucket
    Query("q_times_multi", (s, dir) => {
      def resolve(b: Option[String], m: Option[String]): DataFrame = m match {
        case Some("clicks") =>
          t(s, dir, "events").filter(col("event_type") === "click")
        case _ => t(s, dir, "events")
      }
      TimesQuery.runMulti(s, resolve, "ts", HOUR, FROM, FROM + 7L * 86400L,
        Seq(
          Feature("avg_all", "avg", "value"),
          Feature("click_cnt", "count", "value",
            measurement = Some("clicks"))))
        .select(col("bucket"), round(col("avg_all"), 4).as("avg_all"),
          col("click_cnt"))
        .orderBy("bucket")
    },
      {
      val end = FROM + 7L * 86400L
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${end - HOUR}, $HOUR)) AS bucket
         |), a AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS avg_all
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $end
         |  GROUP BY 1
         |), c AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(count(value) AS DOUBLE) AS click_cnt
         |  FROM events
         |  WHERE epoch(ts) >= $FROM AND epoch(ts) < $end
         |    AND event_type = 'click'
         |  GROUP BY 1
         |)
         |SELECT s.bucket, round(a.avg_all, 4) AS avg_all,
         |       coalesce(c.click_cnt, 0.0) AS click_cnt
         |FROM spine s LEFT JOIN a USING (bucket) LEFT JOIN c USING (bucket)
         |ORDER BY s.bucket""".stripMargin
    }),

    // ── §2.4 mode + topk/bottomk THROUGH TimesQuery (registry path; the
    //    script floors value to 1dp so frequency ties are common and the
    //    lowest-value tie-break is genuinely exercised)
    Query("q_times_mode", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", 86400L, FROM, TO,
        Seq(
          Feature("mode_v", "mode", "value",
            script = Some("floor(value * 10) / 10")),
          Feature("top_v", "topk", "value"),
          Feature("bot_v", "bottomk", "value")))
        .select(col("bucket"), col("mode_v"),
          round(col("top_v"), 4).as("top_v"),
          round(col("bot_v"), 4).as("bot_v"))
        .orderBy("bucket"),
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${TO - 86400L}, 86400)) AS bucket
         |), pts AS (
         |  SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bucket,
         |         floor(value * 10) / 10 AS v, value
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO
         |), counts AS (
         |  SELECT bucket, v, count(*) AS c FROM pts GROUP BY 1, 2
         |), md AS (
         |  SELECT bucket, v,
         |         row_number() OVER (PARTITION BY bucket
         |           ORDER BY c DESC, v ASC) AS rn
         |  FROM counts
         |), mm AS (
         |  SELECT bucket, max(value) AS top_v, min(value) AS bot_v
         |  FROM pts GROUP BY 1
         |)
         |SELECT s.bucket, md.v AS mode_v,
         |       round(mm.top_v, 4) AS top_v, round(mm.bot_v, 4) AS bot_v
         |FROM spine s
         |LEFT JOIN (SELECT bucket, v FROM md WHERE rn = 1) md USING (bucket)
         |LEFT JOIN mm USING (bucket)
         |ORDER BY s.bucket""".stripMargin),

    // ── general k>1 topk/bottomk: the bounded-heap native aggregate
    //    (TopKAgg — O(k) state per bucket, mergeable partials), unrolled
    //    to scalars for the driver's hash compare. Raw input doubles,
    //    no arithmetic → compared unrounded.
    Query("q_topk_agg", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", 86400L, FROM, TO,
        Seq(
          Feature("top3", "topk_3", "value"),
          Feature("bot2", "bottomk_2", "value")))
        .select(col("bucket"),
          element_at(col("top3"), 1).as("t1"),
          element_at(col("top3"), 2).as("t2"),
          element_at(col("top3"), 3).as("t3"),
          element_at(col("bot2"), 1).as("b1"),
          element_at(col("bot2"), 2).as("b2"))
        .orderBy("bucket"),
      // rank-per-bucket mirror of the bounded-heap TopKAgg: t_i = i-th
      // largest value, b_i = i-th smallest; ties resolved by value order
      // only (duplicates each occupy a rank, same as the heap)
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${TO - 86400L}, 86400)) AS bucket
         |), pts AS (
         |  SELECT CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bucket, value
         |  FROM events
         |  WHERE epoch(ts) >= $FROM AND epoch(ts) < $TO AND value IS NOT NULL
         |), rk AS (
         |  SELECT bucket, value,
         |         row_number() OVER (PARTITION BY bucket ORDER BY value DESC) AS rd,
         |         row_number() OVER (PARTITION BY bucket ORDER BY value ASC) AS ra
         |  FROM pts
         |), agg AS (
         |  SELECT bucket,
         |         max(CASE WHEN rd = 1 THEN value END) AS t1,
         |         max(CASE WHEN rd = 2 THEN value END) AS t2,
         |         max(CASE WHEN rd = 3 THEN value END) AS t3,
         |         max(CASE WHEN ra = 1 THEN value END) AS b1,
         |         max(CASE WHEN ra = 2 THEN value END) AS b2
         |  FROM rk GROUP BY 1
         |)
         |SELECT s.bucket, a.t1, a.t2, a.t3, a.b1, a.b2
         |FROM spine s LEFT JOIN agg a USING (bucket)
         |ORDER BY s.bucket""".stripMargin),

    // ── feature `scores` scaling at model-input assembly (model.py:97)
    Query("q_feature_scores", (s, dir) => {
      val f = Feature("observed", "avg", "value", fill = ConstFill(0.0),
        scores = "normalize")
      val series = TimesQuery.run(
        s, t(s, dir, "events"), "ts", HOUR, FROM, SPLIT, Seq(f))
      graft.functions.Stats.scaleSeries(series, "observed", f.scores, "scaled")
        .select(col("bucket"), round(col("scaled"), 6).as("scaled"))
        .orderBy("bucket")
    },
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${SPLIT - HOUR}, $HOUR)) AS bucket
         |), agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT
         |  GROUP BY 1
         |), series AS (
         |  SELECT s.bucket, coalesce(a.v, 0.0) AS v
         |  FROM spine s LEFT JOIN agg a USING (bucket)
         |), l2 AS (
         |  SELECT sqrt(sum(v*v)) AS n FROM series
         |)
         |SELECT bucket,
         |       round(v / (CASE WHEN l2.n = 0 OR l2.n IS NULL THEN 1.0
         |                       ELSE l2.n END), 6) AS scaled
         |FROM series, l2 ORDER BY bucket""".stripMargin),

    // ── §2.1 JDBC bucket end-to-end (the reference's "external store"
    //    connector class, file-backed via embedded Derby — the only
    //    store reachable without network): stage a one-week purchase
    //    slice into the database, then run the SAME bucketed agg
    //    THROUGH the JDBC relation. Time-range predicates push into the
    //    store's own SQL (PushedFilters on the JDBC scan — the Spark
    //    analog of the reference generating WHERE clauses into
    //    InfluxQL, influx.py:521-546); pushdown is plan-audited in
    //    PlanShapeSpec.
    Query("q_times_jdbc", (s, dir) => {
      val end = FROM + 7L * 86400L
      val dbDir = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_derby_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      System.setProperty("derby.stream.error.file",
        new java.io.File(sys.props("java.io.tmpdir"), "derby.log").getPath)
      val bucket = new graft.sources.JdbcBucket(
        "evdb", s"jdbc:derby:${dbDir.getAbsolutePath}/events;create=true",
        "events_week", "ts")
      // rangeFilter, not a ts_nanos predicate: on the timestamp[us]
      // layout ts_nanos is derived and its predicate cannot push — the
      // typed ts range is the one that prunes the staging scan
      val slice = TimesQuery.rangeFilter(t(s, dir, "events"), "ts", FROM, end)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .coalesce(1) // embedded store: one writer connection is the shape
      bucket.overwrite(slice)
      TimesQuery.run(s, bucket.readPoints(s), "ts", HOUR, FROM, end,
          Seq(
            Feature("avg_v", "avg", "value", fill = ConstFill(0.0)),
            Feature("cnt_v", "count", "value", fill = ConstFill(0.0))))
        .withColumn("avg_v", round(col("avg_v") + lit(1e-9), 4))
        .orderBy("bucket")
    },
      // same series the JDBC round-trip stages: the oracle reads the
      // parquet directly — value/ts must survive the store byte-exact
      {
      val end = FROM + 7L * 86400L
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${end - HOUR}, $HOUR)) AS bucket
         |), agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS avg_v,
         |         CAST(count(value) AS DOUBLE) AS cnt_v
         |  FROM events
         |  WHERE event_type = 'purchase'
         |    AND epoch(ts) >= $FROM AND epoch(ts) < $end
         |  GROUP BY 1
         |)
         |SELECT s.bucket,
         |       round(coalesce(a.avg_v, 0.0) + 1e-9, 4) AS avg_v,
         |       coalesce(a.cnt_v, 0.0) AS cnt_v
         |FROM spine s LEFT JOIN agg a USING (bucket)
         |ORDER BY s.bucket""".stripMargin
    }),

    // ── §2.4 basic aggregations (TPC-H Q1 shape)
    Query("q_agg_basic", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── §2.4 min/max/spread + stddev/variance/sum_of_squares
    Query("q_agg_stats", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(min("value"), 4).as("min_v"),
          round(max("value"), 4).as("max_v"),
          round(max("value") - min("value"), 4).as("spread_v"),
          round(stddev_pop("value"), 4).as("stddev_v"),
          round(var_pop("value"), 4).as("var_v"),
          round(sum(col("value") * col("value")), 2).as("sum_sq"))
        .orderBy("event_type"),
      """SELECT event_type,
        |       round(min(value), 4) AS min_v,
        |       round(max(value), 4) AS max_v,
        |       round(max(value) - min(value), 4) AS spread_v,
        |       round(stddev_pop(value), 4) AS stddev_v,
        |       round(var_pop(value), 4) AS var_v,
        |       round(sum(value * value), 2) AS sum_sq
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── §2.4 median + percentiles (exact; approx is the 100 TB setting)
    Query("q_percentiles", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(percentile(col("value"), lit(0.05)), 4).as("p05"),
          round(percentile(col("value"), lit(0.10)), 4).as("p10"),
          round(percentile(col("value"), lit(0.50)), 4).as("median_v"),
          round(percentile(col("value"), lit(0.90)), 4).as("p90"),
          round(percentile(col("value"), lit(0.95)), 4).as("p95"))
        .orderBy("event_type"),
      """SELECT event_type,
        |       round(quantile_cont(value, 0.05), 4) AS p05,
        |       round(quantile_cont(value, 0.10), 4) AS p10,
        |       round(quantile_cont(value, 0.50), 4) AS median_v,
        |       round(quantile_cont(value, 0.90), 4) AS p90,
        |       round(quantile_cont(value, 0.95), 4) AS p95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── §2.4 mode (deterministic tie-break: highest count, lowest value)
    Query("q_mode", (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("value").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("value").as("mode_v"))
        .orderBy("event_type")
    },
      """SELECT event_type, value AS mode_v FROM (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY count(*) DESC, value ASC) AS rn
        |  FROM events GROUP BY event_type, value
        |) WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // ── §2.2 predicates: time range + tag equality (match_all). The
    //    time range goes through TimesQuery.rangeFilter: typed ts
    //    literals reach PushedFilters and prune row groups (a
    //    unix_timestamp(ts) >= F function-of-column never pushes) —
    //    plan-asserted in PlanShapeSpec. Equivalent for integer epoch
    //    bounds: floor(ts) >= F ⟺ ts >= F and floor(ts) < T ⟺ ts < T.
    Query("q_filter_tags", (s, dir) =>
      operators.TimesQuery.rangeFilter(
          t(s, dir, "events"), "ts", FROM, FROM + 7 * 86400)
        .filter(col("event_type") === "purchase" &&
          col("user_id") % 2 === 0)
        .select("event_id", "user_id", "value")
        .orderBy("event_id"),
      s"""SELECT event_id, user_id, value FROM events
         |WHERE event_type = 'purchase' AND user_id % 2 = 0
         |  AND epoch(ts) >= $FROM AND epoch(ts) < ${FROM + 7 * 86400}
         |ORDER BY event_id""".stripMargin),

    // ── §2.2 script-derived field (ES painless analog): JSON prop extract
    Query("q_script_field", (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
        .groupBy("event_type")
        .agg(round(avg("k"), 4).as("avg_k"), round(max("k"), 4).as("max_k"))
        .orderBy("event_type"),
      """SELECT event_type,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
        |       round(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── §2.6 top-N
    Query("q_topn", (s, dir) =>
      t(s, dir, "events")
        .select("event_id", "value")
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(100),
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 100""".stripMargin),

    // ── dimensional star join (TPC-H Q5 shape): 1996 revenue per ASIA
    //    nation — the fact table shuffles only against orders/customer;
    //    nation/region ride as broadcasts; the date filter pushes into
    //    the orders scan before any join
    Query("q_star_join", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so routing
      // through a TZ-aware cast yields the same epoch DuckDB's epoch()
      // computes on the naive value
      val odEpoch = col("o_orderdate").cast("timestamp").cast("long")
      val o = t(s, dir, "orders").filter(
        odEpoch >= 820454400L && odEpoch < 852076800L)
      // DECIMAL(30,6), not (30,12): the true product has <= 4 decimal
      // digits (2-decimal price x 2-decimal discount); at 12 digits the
      // binary representation error can land exactly on a rounding
      // half-boundary where Spark (half-up) and DuckDB (half-even)
      // disagree — observed once in 600k rows at sf0.1. At 6 digits the
      // ~1e-12 error is 6 orders of magnitude from any boundary.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(30, 6))
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(rev).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |               AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND epoch(o_orderdate) >= 820454400
        |  AND epoch(o_orderdate) < 852076800
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // ── join → window: top-3 customers by revenue per nation (ranking
    //    on the EXACT decimal sum so rank order is engine-independent)
    Query("q_top_customers", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // DECIMAL(30,6), not (30,12): the true product has <= 4 decimal
      // digits (2-decimal price x 2-decimal discount); at 12 digits the
      // binary representation error can land exactly on a rounding
      // half-boundary where Spark (half-up) and DuckDB (half-even)
      // disagree — observed once in 600k rows at sf0.1. At 6 digits the
      // ~1e-12 error is 6 orders of magnitude from any boundary.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(30, 6))
      val perCust = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(rev).as("rev"))
      perCust
        .withColumn("rank", row_number().over(Window.partitionBy("n_name")
          .orderBy(col("rev").desc, col("c_custkey"))))
        .filter(col("rank") <= 3)
        .select(col("n_name"), col("rank").cast("long").as("rank"),
          col("c_custkey"), round(col("rev").cast("double"), 2).as("revenue"))
        .orderBy("n_name", "rank")
    },
      """WITH per_cust AS (
        |  SELECT n_name, c_custkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount)
        |           AS DECIMAL(30,6))) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT n_name, c_custkey, rev,
        |         row_number() OVER (PARTITION BY n_name
        |           ORDER BY rev DESC, c_custkey) AS rank
        |  FROM per_cust
        |)
        |SELECT n_name, CAST(rank AS BIGINT) AS rank, c_custkey,
        |       round(CAST(rev AS DOUBLE), 2) AS revenue
        |FROM ranked WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin),

    // ── §2.3 semi/anti joins: customers WITH any high-value order vs
    //    customers with NONE — left_semi/left_anti plan as build-side
    //    joins that never widen rows (the EXISTS/NOT EXISTS shapes)
    Query("q_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 200000.0)
        .select(col("o_custkey").as("c_custkey"))
      def shape(d: DataFrame, label: String) =
        d.agg(count(lit(1)).as("n"),
            min(col("c_custkey")).as("lo"), max(col("c_custkey")).as("hi"))
          .select(lit(label).as("op"), col("n"), col("lo"), col("hi"))
      shape(c.join(bigOrders, Seq("c_custkey"), "left_semi"), "has_big")
        .unionAll(
          shape(c.join(bigOrders, Seq("c_custkey"), "left_anti"), "no_big"))
        .orderBy("op")
    },
      """WITH big AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_totalprice > 200000.0
        |), has_big AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM big)
        |), no_big AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM big)
        |)
        |SELECT 'has_big' AS op, count(*) AS n, min(c_custkey) AS lo,
        |       max(c_custkey) AS hi FROM has_big
        |UNION ALL
        |SELECT 'no_big', count(*), min(c_custkey), max(c_custkey)
        |FROM no_big
        |ORDER BY op""".stripMargin),

    // ── TPC-H Q6 analog: revenue delta from a band of discounts in one
    //    scan — every predicate must reach the parquet scan
    Query("q_filtered_revenue", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // typed NTZ literals so the date RANGE pushes to the scan
      // (a cast chain on the column would demote it to a post-scan
      // DataFilter and forfeit row-group pruning); session TZ is UTC,
      // so the naive literals equal the oracle's epoch() bounds
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .agg(
          count(lit(1)).as("n"),
          round(sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(30, 6))).cast("double"), 2).as("revenue"))
        .select(col("n"), col("revenue"))
    },
      """SELECT count(*) AS n,
        |       round(CAST(sum(CAST(l_extendedprice * l_discount
        |               AS DECIMAL(30,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |WHERE epoch(l_shipdate) >= 788918400
        |  AND epoch(l_shipdate) < 820454400
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24.0""".stripMargin),

    // ── §2.4 derivative (influx DERIVATIVE(MEAN(f)), per-second)
    Query("q_derivative", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", HOUR, FROM, TO,
        Seq(Feature("deriv_v", "derivative", "value")))
        .withColumn("deriv_v", round(col("deriv_v"), 6)),
      s"""WITH ${spineAvgSql(FROM, TO, HOUR)}
         |SELECT bucket,
         |       round((v - lag(v) OVER (ORDER BY bucket)) / $HOUR.0, 6) AS deriv_v
         |FROM series ORDER BY bucket""".stripMargin),

    // ── §2.4 integral (trapezoid between consecutive bucket means)
    Query("q_integral", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", HOUR, FROM, TO,
        Seq(Feature("integral_v", "integral", "value")))
        .withColumn("integral_v", round(col("integral_v"), 4)),
      s"""WITH ${spineAvgSql(FROM, TO, HOUR)}
         |SELECT bucket,
         |       round((v + lag(v) OVER (ORDER BY bucket)) / 2.0 * $HOUR.0, 4) AS integral_v
         |FROM series ORDER BY bucket""".stripMargin),

    // ── §2.5 forward fill (default: 'previous')
    Query("q_ffill", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", 1800L, FROM, TO,
        Seq(Feature("ff_signup", "avg", "value",
          matchAll = Seq("event_type" -> "signup"), fill = PreviousFill)))
        .withColumn("ff_signup", round(col("ff_signup") + lit(1e-9), 4)),
      s"""WITH ${spineAvgSql(FROM, TO, 1800L, filter = "event_type='signup'")}
         |SELECT bucket,
         |       round(last_value(v IGNORE NULLS) OVER (
         |         ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         + 1e-9, 4)
         |         AS ff_signup
         |FROM series ORDER BY bucket""".stripMargin),

    // ── §2.5 diff transform (declared at loudml/model.py:96)
    Query("q_diff", (s, dir) =>
      TimesQuery.run(s, t(s, dir, "events"), "ts", HOUR, FROM, TO,
        Seq(Feature("diff_avg", "avg", "value",
          fill = ConstFill(0.0), transform = Some("diff"))))
        .withColumn("diff_avg", round(col("diff_avg"), 4)),
      s"""WITH ${spineAvgSql(FROM, TO, HOUR)},
         |filled AS (SELECT bucket, coalesce(v, 0.0) AS v FROM series)
         |SELECT bucket,
         |       round(v - lag(v) OVER (ORDER BY bucket), 4) AS diff_avg
         |FROM filled ORDER BY bucket""".stripMargin),

    // ── §2.5 sliding windows over the bucketed series (model input shape)
    Query("q_sliding", (s, dir) =>
      hourlyAvg(s, dir, FROM, TO, fill = ConstFill(0.0))
        .withColumn("sliding_sum",
          round(sum("observed").over(wAll.rowsBetween(-9, 0)), 4))
        .withColumn("observed", round(col("observed"), 4)),
      s"""WITH ${spineAvgSql(FROM, TO, HOUR)},
         |filled AS (SELECT bucket, coalesce(v, 0.0) AS v FROM series)
         |SELECT bucket, round(v, 4) AS observed,
         |       round(sum(v) OVER (
         |         ORDER BY bucket ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4)
         |         AS sliding_sum
         |FROM filled ORDER BY bucket""".stripMargin),

    // ── §2.3 per-feature merge by bucket (client-side zip → full outer join)
    Query("q_merge", (s, dir) => {
      def one(name: String, tag: String) =
        TimesQuery.run(s, t(s, dir, "events"), "ts", HOUR, FROM, TO,
          Seq(Feature(name, "avg", "value", matchAll = Seq("event_type" -> tag))))
      TimesQuery.mergeByBucket(Seq(one("avg_click", "click"), one("avg_view", "view")))
        .withColumn("avg_click", round(col("avg_click") + lit(1e-9), 4))
        .withColumn("avg_view", round(col("avg_view") + lit(1e-9), 4))
        .orderBy("bucket")
    },
      s"""WITH spine AS (
         |  SELECT unnest(generate_series($FROM, ${TO - HOUR}, $HOUR)) AS bucket
         |), clicks AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE event_type='click'
         |    AND epoch(ts) >= $FROM AND epoch(ts) < $TO GROUP BY 1
         |), views AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE event_type='view'
         |    AND epoch(ts) >= $FROM AND epoch(ts) < $TO GROUP BY 1
         |)
         |SELECT s.bucket, round(c.v + 1e-9, 4) AS avg_click, round(w.v + 1e-9, 4) AS avg_view
         |FROM spine s
         |LEFT JOIN clicks c USING (bucket)
         |LEFT JOIN views w USING (bucket)
         |ORDER BY s.bucket""".stripMargin),

    // ── §2.8 seasonality inputs: daytime + ISO weekday
    Query("q_time_features", (s, dir) =>
      t(s, dir, "events")
        .withColumn("tsx", col("ts").cast("timestamp"))
        .select(
          col("event_id"),
          hour(col("tsx")).cast("long").as("daytime"),
          (weekday(col("tsx")) + 1).cast("long").as("iso_weekday"))
        .orderBy("event_id"),
      """SELECT event_id,
        |       CAST(hour(ts) AS BIGINT) AS daytime,
        |       CAST(isodow(ts) AS BIGINT) AS iso_weekday
        |FROM events ORDER BY event_id""".stripMargin),

    // ── §2.8/§2.11 standardize (y-μ)/σ per series
    Query("q_standardize", (s, dir) => {
      // through the library's scale-safe shape (groupBy stats + broadcast
      // join back) rather than Window.partitionBy(event_type): ~5 event
      // types would mean 5 giant window partitions at 100 TB
      graft.functions.Stats.scaleSeries(t(s, dir, "events"),
          "value", "standardize", "z", seriesKeys = Seq("event_type"))
        .withColumn("z", round(col("z"), 4))
        .select("event_id", "z")
        .orderBy("event_id")
    },
      """SELECT event_id,
        |       round((value - avg(value) OVER w) /
        |         (CASE WHEN stddev_pop(value) OVER w = 0 THEN 1.0
        |               ELSE stddev_pop(value) OVER w END), 4) AS z
        |FROM events
        |WINDOW w AS (PARTITION BY event_type)
        |ORDER BY event_id""".stripMargin),

    // ── §2.11 seasonal-baseline model: train days 1-20, predict 21-30
    Query("q_seasonal_predict", (s, dir) =>
      seasonalScored(s, dir)
        .select(
          col("bucket"),
          round(col("observed"), 4).as("observed"),
          round(col("predicted"), 4).as("predicted"),
          round(col("lower"), 4).as("lower"),
          round(col("upper"), 4).as("upper"))
        .orderBy("bucket"),
      s"""$seasonalSql
         |SELECT bucket, round(observed, 4) AS observed,
         |       round(predicted, 4) AS predicted,
         |       round(lower, 4) AS lower, round(upper, 4) AS upper
         |FROM scored ORDER BY bucket""".stripMargin),

    // ── §2.8 anomaly score 100·(2Φ(|z|)−1) (loudml/donut.py:899-924)
    Query("q_anomaly_score", (s, dir) =>
      seasonalScored(s, dir)
        .select(
          col("bucket"),
          round(col("observed"), 4).as("observed"),
          round(col("score"), 4).as("score"))
        .orderBy("bucket"),
      s"""$seasonalSql
         |SELECT bucket, round(observed, 4) AS observed, round(score, 4) AS score
         |FROM scored ORDER BY bucket""".stripMargin),

    // ── §2.5/§2.9 anomaly hysteresis state machine (loudml/donut.py:1477-1578)
    Query("q_anomaly_scan", (s, dir) => {
      val scored = seasonalScored(s, dir)
        .withColumn("score", coalesce(col("score"), lit(0.0)))
        .select("bucket", "score")
      AnomalyScan.scan(scored, maxThreshold = 95.0, minThreshold = 60.0)
        .select(col("bucket"), round(col("score"), 4).as("score"),
          col("is_anomaly"), col("anomaly"))
        .orderBy("bucket")
    },
      // latch recurrence open_t = det_t OR (open_{t-1} AND s_t≥min),
      // closed-form (grace=0): open iff the latest ≥max bucket is more
      // recent than the latest <min bucket (gaps-and-islands over the two
      // thresholds). is_anomaly = the per-bucket detection flag
      // (donut.py:1507-1515), NOT the open-state.
      s"""$seasonalSql,
         |latched AS (
         |  SELECT bucket, coalesce(score, 0.0) AS score,
         |    coalesce(max(CASE WHEN coalesce(score,0.0) >= 95.0 THEN bucket END)
         |      OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
         |      AS last_start,
         |    coalesce(max(CASE WHEN coalesce(score,0.0) < 60.0 THEN bucket END)
         |      OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
         |      AS last_stop
         |  FROM scored
         |), states AS (
         |  SELECT bucket, score, score >= 95.0 AS detected,
         |         lag(last_start > last_stop, 1, FALSE) OVER (ORDER BY bucket) AS prev
         |  FROM latched
         |)
         |SELECT bucket, round(score, 4) AS score, detected AS is_anomaly,
         |       CASE WHEN NOT prev AND detected THEN 'start'
         |            WHEN prev AND NOT detected AND score < 60.0 THEN 'end'
         |            WHEN prev THEN 'ongoing'
         |       END AS anomaly
         |FROM states ORDER BY bucket""".stripMargin),

    // ── grace-period path (loudml/donut.py:1488-1490,1570): grace anchors
    //    to the previous episode's END; a suppressed detection stays closed
    Query("q_anomaly_scan_grace", (s, dir) => {
      val scored = seasonalScored(s, dir)
        .withColumn("score", coalesce(col("score"), lit(0.0)))
        .select("bucket", "score")
      AnomalyScan.scan(scored, maxThreshold = 90.0, minThreshold = 60.0,
          gracePeriodSec = 21600L)
        .select(col("bucket"), round(col("score"), 4).as("score"),
          col("is_anomaly"), col("anomaly"),
          round(col("episode_max"), 4).as("episode_max"))
        .orderBy("bucket")
    },
      // grace > 0 breaks the closed form (ends feed back into detection),
      // so the oracle replays the exact state machine with a recursive CTE
      // over row-numbered buckets — state = (open, last_end, episode_max),
      // transitions mirroring donut.py:1477-1578 / AnomalyScan.scan.
      {
      val det = "(sm.last_end IS NULL OR o.bucket - sm.last_end >= 21600) " +
        "AND o.score >= 90.0"
      s"""${seasonalSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ordered AS (
         |  SELECT row_number() OVER (ORDER BY bucket) AS rn, bucket,
         |         coalesce(score, 0.0) AS score
         |  FROM scored
         |), sm AS (
         |  SELECT rn, bucket, score,
         |         score >= 90.0 AS detected,
         |         score >= 90.0 AS open_after,
         |         CAST(NULL AS BIGINT) AS last_end,
         |         CASE WHEN score >= 90.0 THEN score ELSE 0.0 END AS epi_max,
         |         CASE WHEN score >= 90.0 THEN 'start' END AS anomaly
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT o.rn, o.bucket, o.score,
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
         |  FROM sm JOIN ordered o ON o.rn = sm.rn + 1
         |)
         |SELECT bucket, round(score, 4) AS score, detected AS is_anomaly,
         |       anomaly,
         |       round(CASE WHEN anomaly IS NOT NULL THEN epi_max END, 4)
         |         AS episode_max
         |FROM sm ORDER BY bucket""".stripMargin
    }),

    // ── §2.11 forecast: future bands from the seasonal profile
    Query("q_forecast", (s, dir) => {
      val profile = SeasonalModel.train(
        hourlyAvg(s, dir, FROM, SPLIT), "observed", Nil, seasonalParams)
      new SeasonalModelType.TrainedSeasonal(profile, seasonalParams)
        .forecast(s, TO, TO + 2 * 86400L)
        .select(
          col("bucket"),
          round(col("predicted"), 4).as("predicted"),
          round(col("lower"), 4).as("lower"),
          round(col("upper"), 4).as("upper"))
        .orderBy("bucket")
    },
      s"""WITH train_agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1
         |), train_spine AS (
         |  SELECT unnest(generate_series($FROM, ${SPLIT - HOUR}, $HOUR)) AS bucket
         |), train_series AS (
         |  SELECT s.bucket, a.v FROM train_spine s LEFT JOIN train_agg a USING (bucket)
         |), profile AS (
         |  SELECT CAST((bucket % 86400) / $HOUR AS BIGINT) AS slot,
         |         avg(v) AS mu,
         |         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL THEN 1.0
         |              ELSE stddev_pop(v) END AS sigma
         |  FROM train_series GROUP BY 1
         |), fspine AS (
         |  SELECT unnest(generate_series($TO, ${TO + 2 * 86400 - HOUR}, $HOUR)) AS bucket
         |)
         |SELECT f.bucket, round(p.mu, 4) AS predicted,
         |       round(p.mu - 3*p.sigma, 4) AS lower,
         |       round(p.mu + 3*p.sigma, 4) AS upper
         |FROM fspine f
         |JOIN profile p ON p.slot = CAST((f.bucket % 86400) / $HOUR AS BIGINT)
         |ORDER BY f.bucket""".stripMargin),

    // ── §2.11 Holt-Winters: train on days 1-20 (explicit α,β,γ — the
    //    grid-searched path is unit-tested), forecast 48h from the split
    Query("q_holtwinters", (s, dir) => {
      val settings =
        """{"type":"holtwinters","bucket_interval":3600,"period":86400,
          |"alpha":0.3,"beta":0.01,"gamma":0.3}""".stripMargin
      val m = graft.ml.HoltWintersType.train(
        hourlyAvg(s, dir, FROM, SPLIT), "observed", settings)
      m.forecast(s, SPLIT, SPLIT + 2 * 86400L)
        .select(
          col("bucket"),
          round(col("predicted"), 4).as("predicted"),
          round(col("lower"), 4).as("lower"),
          round(col("upper"), 4).as("upper"))
        .orderBy("bucket")
    },
      // the Holt-Winters fold replayed as a recursive CTE with the seasonal
      // vector carried as a LIST column — every double op in the same order
      // as HoltWinters.fit; the forecast bands are ±3σ exactly, as in
      // q_fleet_hw; list_reduce forces the sequential summation order of
      // Seq.sum in the init means
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
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1
         |), obs AS (
         |  SELECT bucket, v, (bucket % 86400) // $HOUR AS slot,
         |         row_number() OVER (ORDER BY bucket) AS rn
         |  FROM train_agg WHERE v IS NOT NULL
         |), nobs AS (SELECT count(*) AS n FROM obs),
         |s1 AS (
         |  SELECT list_reduce(list(v ORDER BY rn), (a, b) -> a + b) AS sum1,
         |         count(*) AS n1
         |  FROM obs WHERE rn <= $m
         |), s2 AS (
         |  SELECT CASE WHEN count(*) > 0
         |              THEN list_reduce(list(v ORDER BY rn), (a, b) -> a + b) END AS sum2,
         |         count(*) AS n2
         |  FROM obs WHERE rn > $m AND rn <= ${2 * m}
         |), init AS (
         |  SELECT sum1/n1 AS mean1,
         |         CASE WHEN n2 > 0 THEN (sum2/n2 - sum1/n1) / $m ELSE 0.0 END AS trend0
         |  FROM s1, s2
         |), slot_last AS (
         |  SELECT slot, v FROM (
         |    SELECT slot, v, row_number() OVER (PARTITION BY slot ORDER BY rn DESC) AS rr
         |    FROM obs WHERE rn <= $m) t WHERE rr = 1
         |), season0 AS (
         |  SELECT list(coalesce(sl.v - (SELECT mean1 FROM init), 0.0) ORDER BY g.j) AS season
         |  FROM generate_series(0, ${m - 1}) g(j) LEFT JOIN slot_last sl ON sl.slot = g.j
         |), fold AS (
         |  SELECT CAST(0 AS BIGINT) AS rn,
         |         (SELECT mean1 FROM init) AS lvl,
         |         (SELECT trend0 FROM init) AS tr,
         |         (SELECT season FROM season0) AS season,
         |         (SELECT bucket FROM obs WHERE rn = 1) AS prev_bucket,
         |         CAST(0.0 AS DOUBLE) AS sse
         |  UNION ALL
         |  SELECT o.rn,
         |         $alpha * (o.v - $sj) + (1 - $alpha) * ($roll + f.tr) AS newlvl,
         |         $beta * (newlvl - $roll) + (1 - $beta) * f.tr AS newtr,
         |         list_transform(range(1, ${m + 1}), i -> CASE WHEN i - 1 = o.slot
         |             THEN $gamma * (o.v - newlvl) + (1 - $gamma) * $sj
         |             ELSE f.season[CAST(i AS INT)] END) AS season,
         |         o.bucket AS prev_bucket,
         |         f.sse + (o.v - ($roll + f.tr + $sj)) * (o.v - ($roll + f.tr + $sj)) AS sse
         |  FROM fold f JOIN obs o ON o.rn = f.rn + 1
         |), st AS (
         |  SELECT lvl, tr, season, prev_bucket AS last_bucket,
         |         greatest(sqrt(sse / (SELECT n FROM nobs)), 1e-9) AS sigma
         |  FROM fold WHERE rn = (SELECT n FROM nobs)
         |), fspine AS (
         |  SELECT unnest(generate_series($SPLIT, ${SPLIT + 2 * 86400 - HOUR}, $HOUR)) AS bucket
         |)
         |SELECT f.bucket,
         |       round($predExpr, 4) AS predicted,
         |       round($predExpr - $z * st.sigma, 4) AS lower,
         |       round($predExpr + $z * st.sigma, 4) AS upper
         |FROM fspine f, st ORDER BY f.bucket""".stripMargin
    }),

    // ── §2.11 Donut-VAE deterministic scoring (donut.py:1257-1276):
    //    the PINNED net (real trained weights, PinnedDonut) through the
    //    real load()→predict() path — standardize, z = z_mean encode/
    //    decode, MCMC-impute, de-standardize, band, erf score. The
    //    oracle replays the dense forward pass with bit-exact
    //    left-to-right folds (DonutOracle)
    Query("q_donut_score", (s, dir) =>
      graft.ml.PinnedDonut.model(s)
        .predict(hourlyAvg(s, dir, SPLIT, TO), "observed")
        .select(
          col("bucket"),
          round(col("observed"), 4).as("observed"),
          round(col("predicted"), 6).as("predicted"),
          round(col("lower"), 6).as("lower"),
          round(col("upper"), 6).as("upper"),
          round(col("score"), 4).as("score"))
        .orderBy("bucket"),
      // the pinned-VAE forward replay: weights as a VALUES dictionary,
      // dot products as bias-seeded ordered list folds (bit-identical to
      // Lin.fwd), MCMC unrolled — generated from the SAME pinned JSON the
      // query loads
      graft.ml.DonutOracle.sql(SPLIT, TO)),

    // ── §2.11 forecast at a requested confidence with horizon noise
    //    (percent_interval/percent_noise, loudml/donut.py:1338-1339,1415,
    //    1423): z = Φ⁻¹(1−(1−0.68)/2) ≈ 0.9945, half-band grows by
    //    noise·j·|μ| per forecast step j
    Query("q_forecast_ci", (s, dir) => {
      val profile = SeasonalModel.train(
        hourlyAvg(s, dir, FROM, SPLIT), "observed", Nil, seasonalParams)
      new SeasonalModelType.TrainedSeasonal(profile, seasonalParams)
        .forecastCI(s, TO, TO + 2 * 86400L, percentInterval = 0.68,
          percentNoise = 2.0)
        .select(
          col("bucket"),
          round(col("predicted"), 4).as("predicted"),
          round(col("lower"), 4).as("lower"),
          round(col("upper"), 4).as("upper"))
        .orderBy("bucket")
    },
      // z and per-step noise are plan literals computed by the same Scala
      // code the query uses (they cannot drift); step j is exact (buckets
      // are multiples of the interval), so double→BIGINT conversion agrees
      // across engines
      {
      val z = graft.functions.Stats.normPpf(1.0 - (1.0 - 0.68) / 2.0)
      val noise = 2.0 * HOUR.toDouble / 86400.0
      s"""WITH train_agg AS (
         |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1
         |), train_spine AS (
         |  SELECT unnest(generate_series($FROM, ${SPLIT - HOUR}, $HOUR)) AS bucket
         |), train_series AS (
         |  SELECT s.bucket, a.v FROM train_spine s LEFT JOIN train_agg a USING (bucket)
         |), profile AS (
         |  SELECT CAST((bucket % 86400) / $HOUR AS BIGINT) AS slot,
         |         avg(v) AS mu,
         |         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL THEN 1.0
         |              ELSE stddev_pop(v) END AS sigma
         |  FROM train_series GROUP BY 1
         |), fspine AS (
         |  SELECT unnest(generate_series($TO, ${TO + 2 * 86400 - HOUR}, $HOUR)) AS bucket
         |)
         |SELECT f.bucket, round(p.mu, 4) AS predicted,
         |       round(p.mu - ($z*p.sigma + $noise*CAST((f.bucket - $TO)/$HOUR AS BIGINT)*abs(p.mu)), 4) AS lower,
         |       round(p.mu + ($z*p.sigma + $noise*CAST((f.bucket - $TO)/$HOUR AS BIGINT)*abs(p.mu)), 4) AS upper
         |FROM fspine f
         |JOIN profile p ON p.slot = CAST((f.bucket % 86400) / $HOUR AS BIGINT)
         |ORDER BY f.bucket""".stripMargin
    }),

    // ── §2.11 MSE between observed and predicted (loudml/donut.py:417-424)
    Query("q_mse", (s, dir) =>
      seasonalScored(s, dir)
        .agg(round(avg((col("observed") - col("predicted")) *
          (col("observed") - col("predicted"))), 4).as("mse")),
      s"""$seasonalSql
         |SELECT round(avg((observed - predicted)*(observed - predicted)), 4) AS mse
         |FROM scored""".stripMargin),
  )

  // ──────────────────── shared oracle SQL helpers ────────────────────

  /** Spine CTE over [from,to[ at `step` + hourly avg agg of events. */
  private def spineAvgSql(from: Long, to: Long, step: Long,
      filter: String = "TRUE", valueExpr: String = "value"): String =
    s"""spine AS (
       |  SELECT unnest(generate_series($from, ${to - step}, $step)) AS bucket
       |), agg AS (
       |  SELECT CAST(floor(epoch(ts)/$step) AS BIGINT)*$step AS bucket,
       |         CAST(sum(CAST(CASE WHEN $filter THEN $valueExpr END AS DECIMAL(30,12))) AS DOUBLE) / count(CASE WHEN $filter THEN $valueExpr END) AS v
       |  FROM events
       |  WHERE epoch(ts) >= $from AND epoch(ts) < $to
       |  GROUP BY 1
       |), series AS (
       |  SELECT s.bucket, a.v FROM spine s LEFT JOIN agg a USING (bucket)
       |)""".stripMargin

  /** Per-slot seasonal profile + scored test series, as SQL CTEs. */
  private val seasonalSql: String =
    s"""WITH train_agg AS (
       |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
       |  FROM events WHERE epoch(ts) >= $FROM AND epoch(ts) < $SPLIT GROUP BY 1
       |), train_spine AS (
       |  SELECT unnest(generate_series($FROM, ${SPLIT - HOUR}, $HOUR)) AS bucket
       |), train_series AS (
       |  SELECT s.bucket, a.v FROM train_spine s LEFT JOIN train_agg a USING (bucket)
       |), profile AS (
       |  SELECT CAST((bucket % 86400) / $HOUR AS BIGINT) AS slot,
       |         avg(v) AS mu,
       |         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL THEN 1.0
       |              ELSE stddev_pop(v) END AS sigma
       |  FROM train_series GROUP BY 1
       |), test_agg AS (
       |  SELECT CAST(floor(epoch(ts)/$HOUR) AS BIGINT)*$HOUR AS bucket, CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
       |  FROM events WHERE epoch(ts) >= $SPLIT AND epoch(ts) < $TO GROUP BY 1
       |), test_spine AS (
       |  SELECT unnest(generate_series($SPLIT, ${TO - HOUR}, $HOUR)) AS bucket
       |), test_series AS (
       |  SELECT s.bucket, a.v FROM test_spine s LEFT JOIN test_agg a USING (bucket)
       |), banded AS (
       |  SELECT t.bucket, t.v AS observed, p.mu AS predicted,
       |         p.mu - 3*p.sigma AS lower, p.mu + 3*p.sigma AS upper
       |  FROM test_series t
       |  JOIN profile p ON p.slot = CAST((t.bucket % 86400) / $HOUR AS BIGINT)
       |), xed AS (
       |  -- x = |z|/sqrt(2), z = (obs-pred)/sigma_hat, sigma_hat = (upper-pred)/3
       |  -- (exact op-order mirror of graft.functions.Stats.anomalyScore)
       |  SELECT *,
       |    abs((observed - predicted) / greatest((upper - predicted)/3.0, 1e-9)) / sqrt(2) AS x
       |  FROM banded
       |), ted AS (
       |  SELECT *, 1/(1 + 0.3275911*x) AS tp FROM xed
       |), scored AS (
       |  -- erf via Abramowitz-Stegun 7.1.26; score = 100*clamp(2*Phi(|z|)-1)
       |  SELECT bucket, observed, predicted, lower, upper,
       |    100 * least(greatest(
       |      2*(0.5*(1 + (1 - ((((1.061405429*tp - 1.453152027)*tp + 1.421413741)*tp
       |                          - 0.284496736)*tp + 0.254829592)*tp * exp(-x*x)))) - 1,
       |      0), 1) AS score
       |  FROM ted
       |)""".stripMargin

  /** DuckDB-equivalent SQL per query (same tables, same column names). */
}
