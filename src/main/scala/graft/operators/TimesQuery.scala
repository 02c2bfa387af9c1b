package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Metrics

/** Fill policy for empty buckets — the reference's feature `default`
  * (constant, or 'previous' = forward fill; /root/reference/loudml/model.py:88,
  * /root/reference/loudml/donut.py:597-610).
  */
sealed trait Fill
case object NoFill extends Fill
final case class ConstFill(value: Double) extends Fill
case object PreviousFill extends Fill

/** One feature of a times-query — mirrors the reference's feature DSL
  * (/root/reference/loudml/model.py:77-131) in full: named metric over a
  * field, restricted by `match_all` tag equalities, with a default-fill
  * policy, an optional `diff` transform (model.py:96), a per-feature
  * source override (`bucket`/`measurement`, model.py:82-83 — consumed by
  * [[TimesQuery.runMulti]]), a script-derived field (ES painless analog →
  * Spark SQL `expr`, model.py:93), IO direction (model.py:92,126-127),
  * per-feature anomaly direction (model.py:95) and scaling choice
  * (`scores`, model.py:97,129 — applied by
  * [[graft.functions.Stats.scaleSeries]] at model-input assembly).
  */
final case class Feature(
    name: String,
    metric: String,
    field: String,
    matchAll: Seq[(String, Any)] = Nil,
    fill: Fill = NoFill,
    transform: Option[String] = None,
    measurement: Option[String] = None,
    bucket: Option[String] = None,
    script: Option[String] = None,
    io: String = "io",
    anomalyType: String = "low_high",
    scores: String = "min_max") {
  require(transform.forall(_ == "diff"), s"unsupported transform: $transform")
  require(Set("io", "i", "o")(io), s"bad io: $io (io/i/o)")
  require(Set("low", "high", "low_high")(anomalyType),
    s"bad anomaly_type: $anomalyType")
  require(Set("min_max", "normalize", "standardize")(scores),
    s"bad scores: $scores")
  Metrics.validate(metric)

  def isInput: Boolean = io.contains('i')
  def isOutput: Boolean = io.contains('o')

  /** Scan-fusion group id (`build_agg_id`, model.py:133-141): features
    * sharing it can be computed in one scan. */
  def aggId: String = {
    val prefix = measurement.getOrElse(bucket.getOrElse("all"))
    if (matchAll.isEmpty) prefix
    else s"${prefix}_${matchAll.map { case (k, v) => s"$k=$v" }.sorted.mkString(",")}"
  }
}

/** The core operator: filtered, time-bucketed, per-feature aggregation with
  * gap materialization — the Spark restatement of `get_times_data`
  * (contract: /root/reference/loudml/bucket.py:157-194).
  *
  * Semantics (oracle-checked, see SURVEY §1.4):
  *  - range `[from, to[`, final point excluded;
  *  - `from` floored / `to` ceiled to multiples of `interval`
  *    (/root/reference/loudml/misc.py:215-252);
  *  - buckets epoch-aligned (InfluxDB `mod` alignment,
  *    /root/reference/loudml/influx.py:587-589), labeled by LEFT edge;
  *  - empty buckets materialized with nulls, then filled per feature
  *    (/root/reference/loudml/elastic.py:488-500 `min_doc_count:0`).
  *
  * Fused scan (SURVEY §4): the reference issues ONE TSDB query per feature
  * and zip-joins results client-side
  * (/root/reference/loudml/influx.py:566-585). Here all features sharing the
  * scan are fused into a single `groupBy(bucket).agg(...)` using conditional
  * aggregation — `agg(metric(when(tagFilter, field)))` — so N features cost
  * ONE scan regardless of N.
  *
  * Plan shape, one rule: a single series (no `seriesKeys`) whose points
  * plan estimates at most `spark.sql.files.openCostInBytes` — Spark's own
  * price of opening one file, below which splitting an input cannot pay —
  * is read as ONE partition: the aggregate, a one-split spine, a
  * shuffle-hash spine join, the fill/transform windows and the sort then
  * need no exchange, so the query is one Spark job of one stage (a TSDB
  * answering a small range in one round trip). Anything else — keyed
  * series, a larger input, or an input of unknown size such as JDBC —
  * runs distributed: map-side partial aggregation collapses each
  * partition to ~one row per bucket before the exchange, so shuffle
  * volume is O(buckets), not O(rows), and the aggregated side is
  * broadcast into the spine join (keyed: AQE picks the join).
  */
object TimesQuery {

  /** `[f, t[` epoch-seconds range filter that REACHES the parquet scan
    * whatever the physical timestamp layout:
    *  - predicate on `tsCol` with literals of the column's own type
    *    (Timestamp or TimestampNTZ) → PushedFilters + row-group stats
    *    pruning; at 100 TB, partition pruning on a date partition col;
    *  - when the source also kept a raw epoch-nanos long beside a
    *    derived timestamp (Tables.load's legacy layout), the same range
    *    as literal comparisons on the raw column — semantically
    *    redundant, never wrong, and in the nanos-as-int64 layout THAT
    *    is the file column whose predicate prunes.
    * Callers staging slices outside [[run]] (e.g. the JDBC write path)
    * should use this instead of filtering a derived epoch expression,
    * which cannot push. */
  def rangeFilter(points: DataFrame, tsCol: String, f: Long, t: Long): DataFrame = {
    val ts = col(tsCol)
    val isNtz = points.schema(tsCol).dataType ==
      org.apache.spark.sql.types.TimestampNTZType
    def tsLit(epoch: Long): Column = {
      val c = timestamp_seconds(lit(epoch))
      if (isNtz) c.cast(org.apache.spark.sql.types.TimestampNTZType) else c
    }
    var inRange = points.filter(ts >= tsLit(f) && ts < tsLit(t))
    val nanosCol = s"${tsCol}_nanos"
    // only when the nanos long is a genuine FILE column (Tables.load tags
    // it) — a redundant predicate on a *derived* nanos column pushes
    // nothing and just burns per-row arithmetic in the scan filter
    if (points.schema.fieldNames.contains(nanosCol) && {
          val fld = points.schema(nanosCol)
          fld.dataType == org.apache.spark.sql.types.LongType &&
            fld.metadata.contains("graft.rawFileColumn")
        })
      inRange = inRange.filter(
        col(nanosCol) >= f * 1000000000L && col(nanosCol) < t * 1000000000L)
    inRange
  }

  /** Floor `from`, ceil `to` to interval multiples
    * (/root/reference/loudml/misc.py:224-238). */
  def alignRange(from: Long, to: Long, interval: Long): (Long, Long) = {
    val f = math.floorDiv(from, interval) * interval
    val t0 = math.floorDiv(to, interval) * interval
    val t = if (t0 == to) to else t0 + interval
    (f, t)
  }

  /** Epoch-aligned left-edge bucket label (seconds) for a timestamp col.
    * `cast("timestamp")` normalizes TIMESTAMP_NTZ (how Spark 4 reads naive
    * parquet timestamps) to the session-UTC instant; no-op for LTZ. */
  def bucketCol(ts: Column, interval: Long): Column =
    (floor(unix_timestamp(ts.cast("timestamp")) / interval) * interval).cast("long")

  /** True when `points`' optimized plan estimates at most
    * `spark.sql.files.openCostInBytes` (planning only, no job). A source
    * that cannot estimate its size (JDBC) reports Spark's default of
    * `Long.MaxValue` and never qualifies. */
  private def isSmall(points: DataFrame): Boolean =
    points.queryExecution.optimizedPlan.stats.sizeInBytes <=
      points.sparkSession.sessionState.conf.filesOpenCostInBytes

  private def tagPredicate(matchAll: Seq[(String, Any)]): Column =
    matchAll.foldLeft(lit(true)) { case (acc, (tag, value)) =>
      acc && col(tag) === lit(value)
    }

  /** Run a times-query. Returns one row per bucket (per series if
    * `seriesKeys` nonempty), columns: `bucket: Long` (epoch-seconds left
    * edge), one Double column per feature, ordered by bucket.
    *
    * @param exact use exact percentile aggregates (oracle parity) vs
    *              approx (the 100 TB setting)
    * @param anchorAtFrom bucket-alignment semantics: false (default) =
    *   epoch-aligned buckets with floor/ceil range expansion (InfluxDB /
    *   Elasticsearch semantics, /root/reference/loudml/influx.py:587-589,
    *   /root/reference/loudml/misc.py:224-238 — our canonical choice);
    *   true = buckets anchored at the raw `from` (MemBucket semantics,
    *   /root/reference/loudml/membucket.py:187-216, which iterates from
    *   `from_date` without alignment)
    */
  def run(
      spark: SparkSession,
      points: DataFrame,
      tsCol: String,
      interval: Long,
      from: Long,
      to: Long,
      features: Seq[Feature],
      seriesKeys: Seq[String] = Nil,
      exact: Boolean = true,
      anchorAtFrom: Boolean = false,
      maxSeries: Option[Int] = None): DataFrame = {
    require(features.nonEmpty, "at least one feature")
    // max_series_per_request guard (/root/reference/loudml/bucket.py:41-46,
    // 87-89, default 2000): refuse a fan-out beyond the configured series
    // limit before running the query. Opt-in (the check itself costs a
    // distinct count over the key columns).
    maxSeries.filter(_ => seriesKeys.nonEmpty).foreach { mx =>
      val n = points.select(seriesKeys.map(col): _*).distinct().count()
      if (n > mx) throw new IllegalArgumentException(
        s"max_series_per_request exceeded: $n series > $mx")
    }
    val (f, t) = if (anchorAtFrom) (from, to) else alignRange(from, to, interval)
    val ts = col(tsCol)
    val onePartition = seriesKeys.isEmpty && isSmall(points)
    val inRange =
      if (onePartition) rangeFilter(points, tsCol, f, t).coalesce(1)
      else rangeFilter(points, tsCol, f, t)

    // anchored label: floor((ts-f)/i)*i + f; for epoch-aligned f (f % i == 0)
    // this reduces to floor(ts/i)*i, the epoch-aligned left edge
    val unixTs = unix_timestamp(ts.cast("timestamp"))
    val bucket =
      ((floor((unixTs - f) / interval) * interval).cast("long") + f).as("bucket")
    val keyCols = col("bucket") +: seriesKeys.map(col)

    // Fused conditional aggregation: one agg column per non-post-agg feature.
    // Post-agg metrics (derivative/integral) aggregate avg() first, then get
    // their window transform after the spine join.
    def baseCol(feat: Feature): Column = {
      // script-derived field (ES painless analog, SURVEY §2.2): a Spark
      // SQL expression instead of a raw column
      val input = feat.script.map(expr).getOrElse(col(feat.field))
      val guarded =
        if (feat.matchAll.isEmpty) input
        else when(tagPredicate(feat.matchAll), input)
      if (Metrics.isPostAgg(feat.metric))
        Metrics.agg("avg", guarded, exact).as(feat.name)
      else {
        val a = Metrics.agg(feat.metric, guarded, exact)
        // scalar metrics normalize to double; array-valued metrics
        // (topk_N/bottomk_N) already carry array<double> and must not
        // be collapsed
        if (Metrics.isArrayValued(feat.metric)) a.as(feat.name)
        else a.cast("double").as(feat.name)
      }
    }
    val aggs = features.map(baseCol)
    val agged = inRange
      .groupBy((bucket +: seriesKeys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

    // Gap spine: every interval in [f, t[ present, (t-f)/interval rows.
    // With seriesKeys the spine is crossed with the distinct series (also
    // small: tag cardinality).
    var spine: DataFrame =
      (if (onePartition) spark.range(f, t, interval, 1)
       else spark.range(f, t, interval)).select(col("id").as("bucket"))
    if (seriesKeys.nonEmpty) {
      val series = points.select(seriesKeys.map(col): _*).distinct()
      spine = spine.crossJoin(series)
    }
    // Left join spine→agg builds the RIGHT side, ≤ one row per bucket. In
    // one partition a hash join builds it in place (a broadcast would be a
    // job of its own); distributed, broadcast it. With seriesKeys both
    // sides are buckets×series — let AQE pick the strategy there rather
    // than forcing a broadcast of something potentially large.
    val aggSide =
      if (onePartition) agged.hint("shuffle_hash")
      else if (seriesKeys.isEmpty) broadcast(agged)
      else agged
    var out = spine.join(aggSide, keyCols.map(_.toString), "left")

    // Per-feature fill + transforms. Ordered windows partition by series so
    // no single-partition global sort appears when series keys exist; for a
    // single model-sized series (the reference's case) one partition is fine.
    val w = if (seriesKeys.isEmpty) Window.orderBy(col("bucket"))
            else Window.partitionBy(seriesKeys.map(col): _*).orderBy(col("bucket"))
    for (feat <- features) {
      val c = col(feat.name)
      // post-agg metrics first (computed over the gap-materialized series)
      if (Metrics.canonical(feat.metric) == "derivative")
        // Influx DERIVATIVE(MEAN(f)): per-bucket delta of bucket means / dt
        // (/root/reference/loudml/influx.py:114-116)
        out = out.withColumn(feat.name,
          (c - lag(c, 1).over(w)) / lit(interval.toDouble))
      else if (Metrics.canonical(feat.metric) == "integral")
        // trapezoid between consecutive bucket means × dt
        // (/root/reference/loudml/influx.py:119-121)
        out = out.withColumn(feat.name,
          (c + lag(c, 1).over(w)) / lit(2.0) * lit(interval.toDouble))
      // count of an empty bucket is 0, not null (influx semantics —
      // golden /root/reference/tests/test_influx.py:281-282; only the
      // OpenTSDB connector shares this, /root/reference/loudml/opentsdb.py:452-454;
      // avg/min/max/… stay null)
      if (Metrics.canonical(feat.metric) == "count")
        out = out.withColumn(feat.name, coalesce(col(feat.name), lit(0.0)))
      val filled = feat.fill match {
        case NoFill        => col(feat.name)
        case ConstFill(v)  => coalesce(col(feat.name), lit(v))
        case PreviousFill  =>
          last(col(feat.name), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
      }
      out = out.withColumn(feat.name, filled)
      if (feat.transform.contains("diff"))
        out = out.withColumn(feat.name,
          col(feat.name) - lag(col(feat.name), 1).over(w))
    }
    out.orderBy(keyCols: _*)
  }

  /** Merge independently-aggregated per-feature series by bucket — the
    * reference's client-side zip of one-query-per-feature results
    * (/root/reference/loudml/influx.py:566-585). Needed when features come
    * from *different* sources/measurements and can't be fused into one
    * scan (SURVEY §7.5.6). Equi-join on the bucket label, full outer so a
    * bucket present in any series survives. Each side is already
    * aggregated (O(buckets) rows), so this join is cheap at any scale;
    * Spark will broadcast the smaller side or AQE-optimize the exchange.
    */
  def mergeByBucket(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce((a, b) => a.join(b, Seq("bucket"), "full_outer"))

  /** Times-query over features with per-feature `bucket`/`measurement`
    * source overrides (/root/reference/loudml/model.py:82-83; influx
    * measurement selection /root/reference/loudml/influx.py:540-543).
    * Features are grouped by (bucket, measurement) — each group fuses
    * into ONE scan exactly like [[run]] (same-source features stay one
    * shuffle); groups hit different sources and merge by bucket label.
    * `resolve` maps (bucket, measurement) to a points frame exposing
    * `tsCol` (resolvers normalize timestamp column names). */
  def runMulti(
      spark: SparkSession,
      resolve: (Option[String], Option[String]) => DataFrame,
      tsCol: String,
      interval: Long,
      from: Long,
      to: Long,
      features: Seq[Feature],
      exact: Boolean = true): DataFrame = {
    require(features.nonEmpty, "at least one feature")
    val groups = features.groupBy(f => (f.bucket, f.measurement)).toSeq
      .sortBy { case ((b, m), _) => (b.getOrElse(""), m.getOrElse("")) }
    val parts = groups.map { case ((b, m), fs) =>
      run(spark, resolve(b, m), tsCol, interval, from, to, fs, exact = exact)
    }
    mergeByBucket(parts).orderBy("bucket")
  }

  /** Sequential train/validation split — the reference's
    * `train_test_split` (/root/reference/loudml/donut.py:989-997: first
    * `trainSize` fraction of the ordered series trains, the rest
    * validates). Row-count-based like the reference (ntrn =
    * round(n·trainSize)); one count + two bucket-threshold filters, no
    * sort or limit — the threshold comes from an ordered quantile over
    * the (bounded) bucket labels. */
  def sequentialSplit(bucketed: DataFrame, trainSize: Double = 0.67)
      : (DataFrame, DataFrame) = {
    require(trainSize > 0 && trainSize < 1, s"bad train_size: $trainSize")
    val buckets = bucketed.select(min(col("bucket")), max(col("bucket")),
      count(lit(1))).collect()(0)
    val (lo, hi, n) = (buckets.getLong(0), buckets.getLong(1), buckets.getLong(2))
    // spine-complete series ⇒ bucket labels are evenly spaced; the
    // (round(n·trainSize))-th bucket is lo + ntrn·step
    val step = if (n > 1) (hi - lo) / (n - 1) else 1L
    val cut = lo + math.round(n * trainSize) * step
    (bucketed.filter(col("bucket") < cut), bucketed.filter(col("bucket") >= cut))
  }

  /** Time offset relative to the first bucket — the reference returns
    * `(ts − t₀)` tuples from `get_times_data`
    * (/root/reference/loudml/influx.py:591-612,
    * /root/reference/loudml/membucket.py:253-273). Per series when keys
    * given; the min is an aggregation broadcast back (no unpartitioned
    * window). */
  def withTimeOffset(df: DataFrame, seriesKeys: Seq[String] = Nil): DataFrame = {
    val m =
      if (seriesKeys.isEmpty) df.agg(min(col("bucket")).as("__t0"))
      else df.groupBy(seriesKeys.map(col): _*).agg(min(col("bucket")).as("__t0"))
    val joined =
      if (seriesKeys.isEmpty) df.crossJoin(broadcast(m))
      else df.join(broadcast(m), seriesKeys)
    joined.withColumn("time_offset", col("bucket") - col("__t0")).drop("__t0")
  }
}
