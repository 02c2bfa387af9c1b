package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal relational operators Spark lacks as built-ins — as-of join,
  * interval (range) join, gap sessionization, counter-reset-aware rate,
  * and EWMA smoothing — each expressed as a declarative plan Catalyst can
  * optimize, with the shuffle structure chosen for 100 TB inputs.
  *
  * These extend the reference's time-series surface (bucketed aggregation
  * over tagged series, /root/reference/loudml/bucket.py:365-420) with the
  * enrichment/alignment joins a monitoring pipeline needs around it: align
  * a metric to the latest config/deploy event (as-of), attribute points to
  * incident windows (interval join), split activity into visits
  * (sessionize), turn monotonic counters into rates (the Prometheus
  * `rate()` semantic the reference's prometheus bucket reads pre-computed,
  * /root/reference/loudml/prometheus.py), and smooth a series (EWMA).
  *
  * Timestamps are NUMERIC here (epoch seconds or nanos, caller's choice —
  * all comparisons/differences are plain arithmetic), per the repo rule
  * that computed time columns are integers, never timestamps.
  */
object Temporal {

  /** Backward (default) or forward as-of join: for each left row, attach
    * the payload of the single right row with the greatest `rightTs` ≤
    * `leftTs` (forward: smallest ≥) within the same key group, optionally
    * within `tolerance` time units. Left rows with no match keep nulls —
    * LEFT OUTER semantics, exactly DuckDB's `ASOF LEFT JOIN`.
    *
    * Scale shape: the naive plan is a per-key theta join (every left row
    * × every earlier right row, then argmax) — quadratic per key. This is
    * instead the union-merge plan: both sides are projected to a common
    * narrow schema, unioned, and ONE window pass per key carries the last
    * seen right payload forward (`last(_, ignoreNulls)` over rows
    * UNBOUNDED PRECEDING..CURRENT). Cost: one shuffle of |L|+|R| rows on
    * the key columns, no join, no per-key blowup; within a partition the
    * sort is the merge step of a sort-merge join. Skew bound: a key's
    * partition holds that key's rows only — same bound as any keyed
    * window/aggregation at 100 TB. Equal timestamps: the right row sorts
    * BEFORE the left row (side 0 < 1), so a right event at exactly
    * `leftTs` matches, matching DuckDB `ON l.ts >= r.ts`; ties among
    * right rows at the same instant resolve to the last in `tieCols`
    * order (pass tie columns for determinism).
    *
    * @param payload right columns to attach (prefixed `r_` on output)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      forward: Boolean = false, tolerance: Option[Long] = None,
      rightTieCols: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    val payStruct = struct(
      (col(rightTs).cast("long").as("__rts") +:
        payload.map(c => col(c))): _*)
    val r = right
      .select((keys.map(col) :+ col(rightTs).cast("long").as("__ts")) ++
        Seq(lit(0).as("__side"), payStruct.as("__pay"),
          lit(null).cast(structTypeOf(left)).as("__lrow"),
          struct((lit(0L) +: rightTieCols.map(col)): _*).as("__tie")): _*)
    val l = left
      .select((keys.map(col) :+ col(leftTs).cast("long").as("__ts")) ++
        Seq(lit(1).as("__side"),
          lit(null).cast(r.schema("__pay").dataType).as("__pay"),
          struct(leftCols.map(col): _*).as("__lrow"),
          lit(null).cast(r.schema("__tie").dataType).as("__tie")): _*)
    val ord =
      if (forward) Seq(col("__ts").desc, col("__side").asc, col("__tie").desc)
      else Seq(col("__ts").asc, col("__side").asc, col("__tie").asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = r.unionByName(l)
      .withColumn("__match", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val gap =
      if (forward) col("__match.__rts") - col("__ts")
      else col("__ts") - col("__match.__rts")
    val matched = tolerance match {
      case Some(tol) => carried.withColumn("__match",
        when(gap <= lit(tol), col("__match")))
      case None => carried
    }
    matched.select(
      leftCols.map(c => col(s"__lrow.$c").as(c)) ++
        payload.map(c => col(s"__match.$c").as(s"r_$c")): _*)
  }

  private def structTypeOf(df: DataFrame) =
    org.apache.spark.sql.types.StructType(df.schema.fields)

  /** Point-in-interval join: pairs each point row with every interval row
    * of the same key whose `[startCol, endCol)` contains `tsCol`.
    *
    * Scale shape: the naive plan is a per-key inequality (theta) join —
    * Spark executes it as a broadcast nested loop or a cartesian-per-key
    * sort-merge, both quadratic in hot keys. Instead both sides are mapped
    * onto a time grid of `bucketSec`: each interval explodes to the
    * buckets it covers (bounded by duration/bucketSec — pick bucketSec
    * near the typical interval length so the fan-out is O(1)), each point
    * computes its single containing bucket, and the join becomes an
    * EQUI-join on (keys, bucket) that hashes, prunes, and AQE-skew-splits
    * like any other. A point's bucket appears at most once per interval,
    * so the exact containment filter after the join yields each matching
    * pair exactly once — no distinct needed.
    */
  def intervalJoin(points: DataFrame, intervals: DataFrame,
      keys: Seq[String], tsCol: String, startCol: String, endCol: String,
      bucketSec: Long): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val w = lit(bucketSec)
    val iv = intervals.withColumn("__b",
      explode(sequence(floor(col(startCol) / w).cast("long"),
        floor((col(endCol) - 1) / w).cast("long"))))
    val pts = points.withColumn("__b", floor(col(tsCol) / w).cast("long"))
    pts.join(iv, keys :+ "__b")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__b")
  }

  /** Gap-based sessionization: within each key, a new session starts when
    * the gap to the previous event exceeds `gapTicks` (same unit as
    * `tsCol`). Adds a 0-based `session_id` per key. One shuffle on the
    * keys; the two stacked windows (lag + running sum) share the same
    * partitioning and sort, so Catalyst plans a single Exchange + Sort.
    * Per-key partition size is bounded by that key's history — the same
    * bound as any keyed window at scale. `tieCols` break equal-timestamp
    * ordering deterministically.
    */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
      gapTicks: Long, tieCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val newSess = when(
      col(tsCol) - lag(col(tsCol), 1).over(w) > lit(gapTicks) ||
        lag(col(tsCol), 1).over(w).isNull, 1L).otherwise(0L)
    df.withColumn("session_id",
      sum(newSess).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)) - 1L)
  }

  /** Counter → per-bucket rate with Prometheus reset semantics
    * (/root/reference/loudml/prometheus.py reads the TSDB's own `rate()`;
    * this is that semantic over a raw monotonic counter column): the
    * increase between consecutive samples is `c - lag(c)` when the
    * counter grew, and `c` when it shrank (the counter restarted from 0 —
    * a process restart), summed per `[bucketSec]` bucket and divided by
    * the bucket length. The first sample of each key contributes nothing
    * (no predecessor). One keyed window (lag) + one keyed aggregation,
    * both on the same key hash — two shuffles total, map-side partials on
    * the sum.
    */
  def counterRate(df: DataFrame, keys: Seq[String], tsCol: String,
      counterCol: String, bucketSec: Long,
      tieCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val prev = lag(col(counterCol), 1).over(w)
    val inc = when(prev.isNull, lit(null))
      .when(col(counterCol) >= prev, col(counterCol) - prev)
      .otherwise(col(counterCol))
    df.withColumn("__inc", inc)
      .withColumn("bucket",
        (floor(col(tsCol) / bucketSec) * bucketSec).cast("long"))
      .groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg((sum(col("__inc")) / lit(bucketSec.toDouble)).as("rate"))
  }

  /** Rolling Pearson correlation between two bucketized series sharing a
    * bucket column: `corr(x, y)` over the trailing `windowBuckets` rows,
    * per key. Detects coupling changes between metrics (a cache and its
    * DB decorrelating is an incident signal no single-series monitor
    * sees). Runs AFTER bucketization, so partition size is O(buckets) —
    * bounded by the query range, not data volume; `corr` is a built-in
    * declarative aggregate, fully codegen-compatible over the frame.
    *
    * Keyless-shape audit (vs [[theilSen]]'s guarded cartesian): the
    * keyless form is a GLOBAL ordered window — one sort partition, but
    * O(n log n) with spill, never quadratic, and the input is a single
    * bucketized series bounded by the query range; the keyed form
    * partitions by series and has no bottleneck. */
  def rollingCorr(series: DataFrame, keys: Seq[String], bucketCol: String,
      xCol: String, yCol: String, windowBuckets: Int): DataFrame = {
    val w = (if (keys.isEmpty) Window.orderBy(col(bucketCol))
      else Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol)))
      .rowsBetween(-(windowBuckets - 1), Window.currentRow)
    series.withColumn("roll_corr", corr(col(xCol), col(yCol)).over(w))
  }

  /** Cross-correlation by lag: Pearson correlation between `x_t` and
    * `y_{t+lag·step}` for every lag in `[-maxLag, maxLag]` — the lead/lag
    * detector ("purchases track clicks with a 2h delay"). One self-join
    * per plan (the lag axis explodes from a literal array, then a single
    * equi-join aligns the shifted series), one aggregation keyed by
    * (keys, lag): both shuffles are on small keyed series, never raw
    * events. Output: one row per lag with its correlation.
    */
  def crossCorr(series: DataFrame, keys: Seq[String], bucketCol: String,
      xCol: String, yCol: String, maxLag: Int, step: Long): DataFrame = {
    val lags = typedlit((-maxLag to maxLag).map(_.toLong))
    val x = series.select((keys.map(col) ++ Seq(col(bucketCol).as("__b"),
      col(xCol).as("__x"))): _*)
      .withColumn("lag", explode(lags))
      .withColumn("__b", col("__b") + col("lag") * step)
    val y = series.select((keys.map(col) ++ Seq(col(bucketCol).as("__b"),
      col(yCol).as("__y"))): _*)
    x.join(y, keys :+ "__b")
      .groupBy((keys.map(col) :+ col("lag")): _*)
      .agg(corr(col("__x"), col("__y")).as("xcorr"),
        count(lit(1)).as("n_overlap"))
  }

  /** Exponentially-weighted moving average over an already-bucketized
    * series: `ewma_i = α·v_i + (1−α)·ewma_{i−1}`, seeded with the first
    * value. Input is one row per (keys, bucketCol); output adds `ewma`.
    *
    * Scale shape: the recurrence is sequential per key, but it runs AFTER
    * bucketization — the series length is bounded by the query's time
    * range / bucket width (a config constant), not by data volume, so the
    * heavy reduction already happened map-side in the bucketing
    * aggregation. Each key's series is collected into one sorted array
    * (size O(buckets)) and folded by a single codegen'd `aggregate`
    * expression — no UDF, no driver collect, keys stay distributed. The
    * fold appends to an array per step (O(buckets²) copying); at the
    * bounded series lengths this operator is defined for (≤ ~10⁵ buckets)
    * that is microseconds per key.
    */
  def ewma(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0,1]")
    val g = series.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col(bucketCol).as("b"), col(valueCol).as("v")))).as("__s"))
    val folded = g.withColumn("__e", expr(
      s"""aggregate(__s,
         |  named_struct('out', cast(array() as array<struct<b:bigint,e:double>>),
         |               'prev', cast(null as double)),
         |  (acc, x) -> named_struct(
         |    'out', acc.out || array(named_struct('b', x.b, 'e',
         |      CASE WHEN acc.prev IS NULL THEN x.v
         |           ELSE $alpha * x.v + ${1 - alpha} * acc.prev END)),
         |    'prev', CASE WHEN acc.prev IS NULL THEN x.v
         |                 ELSE $alpha * x.v + ${1 - alpha} * acc.prev END),
         |  acc -> acc.out)""".stripMargin))
    folded.select((keys.map(col) :+ explode(col("__e")).as("__x")): _*)
      .select((keys.map(col) ++ Seq(col("__x.b").as(bucketCol),
        col("__x.e").as("ewma"))): _*)
  }

  /** Two-sided CUSUM changepoint detection over a bucketized series —
    * the classic sequential drift detector (Page 1954, public): per key,
    *   up_n = max(0, up_{n−1} + (v_n − target − k))
    *   dn_n = max(0, dn_{n−1} + (target − v_n − k))
    * with an alarm when either sum exceeds `h`. Catches sustained small
    * shifts the per-point z-score/MAD flaggers miss, and resets itself
    * after the alarm condition clears — the standard monitor for "this
    * metric has drifted", not "this point is an outlier".
    *
    * `target` is a per-row Column (typically a per-key mean joined on,
    * or a literal SLA level); `k` the slack (half the shift magnitude
    * worth detecting), `h` the decision interval.
    *
    * Scale shape: the fold is honestly sequential per key, so it runs
    * as one `aggregate` over the key's collected bucket list (the ewma
    * idiom) — per-key state is O(buckets in range), bounded by the
    * query window, never raw-event-sized; keys parallelize freely.
    * Output: (keys…, bucketCol, v, cusum_up, cusum_dn, alarm).
    *
    * Precondition: `valueCol`/`target` non-null on every row — a null
    * poisons the fold from that bucket on (fill or drop gaps first;
    * [[ewma]]/interpolate have the same contract). */
  def cusum(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, target: Column, k: Double, h: Double)
      : DataFrame = {
    require(k >= 0, "k must be >= 0")
    require(h > 0, "h must be > 0")
    val g = series.withColumn("__t", target)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(bucketCol).as("b"),
        col(valueCol).as("v"), col("__t").as("t")))).as("__s"))
    val folded = g.withColumn("__c", expr(
      s"""aggregate(__s,
         |  named_struct(
         |    'out', cast(array() as
         |      array<struct<b:bigint,v:double,up:double,dn:double>>),
         |    'up', cast(0.0 as double), 'dn', cast(0.0 as double)),
         |  (acc, x) -> named_struct(
         |    'out', acc.out || array(named_struct('b', x.b, 'v', x.v,
         |      'up', greatest(cast(0.0 as double),
         |        acc.up + (x.v - x.t - $k)),
         |      'dn', greatest(cast(0.0 as double),
         |        acc.dn + (x.t - x.v - $k)))),
         |    'up', greatest(cast(0.0 as double),
         |      acc.up + (x.v - x.t - $k)),
         |    'dn', greatest(cast(0.0 as double),
         |      acc.dn + (x.t - x.v - $k))),
         |  acc -> acc.out)""".stripMargin))
    folded.select((keys.map(col) :+ explode(col("__c")).as("__x")): _*)
      .select((keys.map(col) ++ Seq(col("__x.b").as(bucketCol),
        col("__x.v").as("v"), col("__x.up").as("cusum_up"),
        col("__x.dn").as("cusum_dn"),
        (col("__x.up") > h || col("__x.dn") > h).as("alarm"))): _*)
  }

  /** Linear interpolation of null gaps in a bucketized series — the gap
    * fill BETWEEN the reference's constant/`previous` modes (the
    * interpolation its ES connector sketches but never enables,
    * /root/reference/loudml/elastic.py:573-603): each null value becomes
    * the time-weighted blend of the nearest non-null neighbors,
    * `prev + (next−prev)·(b−b_prev)/(b_next−b_prev)`. Leading/trailing
    * nulls (no neighbor on one side) stay null — compose with ffill/const
    * fill for edge policy.
    *
    * Scale shape: four window carries (prev/next value and bucket) over
    * the same keyed partitioning and sort — the preceding and following
    * frames share one WindowExec and one Sort (plan-audited), all
    * post-bucketization, so partition size is O(buckets) per key, bounded
    * by the query range, not data volume.
    */
  /** Merge overlapping (and by default touching) intervals per key —
    * gaps-and-islands coalescing: incident windows, downtime stitching,
    * annotation-span normalization (the reference's annotation windows,
    * loudml — see [[graft.ml.Annotations]] — arrive overlapping and are
    * consumed as if disjoint; this makes that explicit and reusable).
    *
    * Island detection: one keyed window ordered by (start, end) carries
    * the running max of `end` over STRICTLY PRECEDING rows; a row opens a
    * new island iff its start lies beyond that max (`>` when touching
    * intervals merge — the half-open-interval default — `>=` otherwise).
    * The island id is the running sum of those flags; islands aggregate
    * to (min start, max end, member count). Tie order between identical
    * starts cannot flip the result: the decision depends only on the
    * running max, which is order-insensitive within a tie group.
    *
    * Scale shape: one shuffle on the keys for the window, one keyed agg
    * on (keys, island) — both over interval rows (already-reduced data,
    * not raw events). Per-key partition = that key's intervals, the same
    * bound as any keyed window. */
  def mergeIntervals(df: DataFrame, keys: Seq[String], startCol: String,
      endCol: String, mergeTouching: Boolean = true): DataFrame = {
    val base = (if (keys.isEmpty) Window.orderBy(col(startCol), col(endCol))
      else Window.partitionBy(keys.map(col): _*)
        .orderBy(col(startCol), col(endCol)))
    val prevMax = max(col(endCol))
      .over(base.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(prevMax.isNull, 1)
      .when(if (mergeTouching) col(startCol) > prevMax
            else col(startCol) >= prevMax, 1)
      .otherwise(0)
    df.withColumn("__open", opens)
      .withColumn("__island",
        sum(col("__open")).over(base.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy((keys.map(col) :+ col("__island")): _*)
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }

  /** Classic additive seasonal-trend decomposition (the moving-average
    * decomposition underlying STL's initial pass — public textbook
    * method): over a bucketized series,
    *
    *   trend_i    = centered moving average over `2·⌊period/2⌋+1` buckets
    *                (null unless the window is complete — edges have no
    *                trend, as in the textbook definition);
    *   seasonal_s = mean of (v − trend) per slot s = bucket mod period,
    *                centered so the indices sum to zero;
    *   resid_i    = v_i − trend_i − seasonal_{slot(i)}.
    *
    * The reference fits seasonality implicitly (Donut's windowed VAE,
    * /root/reference/loudml/donut.py; our SeasonalModel's slot baseline) —
    * this is the transparent diagnostic version a capacity/anomaly
    * pipeline runs to SEE the components.
    *
    * Determinism: every mean is the house exact pattern — decimal(30,12)
    * sum (exact, order-independent) cast to double, divided by the count —
    * so engine-side aggregation order can never wiggle a low bit.
    *
    * Scale shape: one keyed window pass (partition = one key's bucketized
    * series, O(buckets) rows, bounded by the query range); the slot means
    * are a keyed agg of ≤ period·|keys| rows whose join back is
    * broadcast-sized by construction. Nothing touches raw (pre-bucket)
    * events.
    */
  def seasonalDecompose(series: DataFrame, keys: Seq[String],
      bucketCol: String, valueCol: String, period: Int): DataFrame = {
    require(period >= 2, "period must be >= 2 buckets")
    import org.apache.spark.sql.types.DecimalType
    val h = period / 2
    val span = 2 * h + 1
    def part(cols: Seq[org.apache.spark.sql.Column]) =
      if (cols.isEmpty) Window.partitionBy() else Window.partitionBy(cols: _*)
    val kCols = keys.map(col)
    // W1: centered moving average — trend
    val wTrend = part(kCols).orderBy(col(bucketCol)).rowsBetween(-h, h)
    val v = col(valueCol)
    val exactSum = sum(v.cast(DecimalType(30, 12))).over(wTrend).cast("double")
    // W2: per-(key, slot) mean of the detrended series, attached to every
    // row by an unbounded window — no groupBy + join-back (a join would
    // re-derive this whole subtree and re-scan the input; window reuse
    // keeps it ONE pass)
    val wSlot = part(kCols :+ col("__slot"))
    // W3: grand mean of the slot means. Each slot contributes its mean
    // exactly once: the slot's first row (row_number()==1) carries it,
    // the unbounded key window sums those representatives.
    val wSlotSeq = part(kCols :+ col("__slot")).orderBy(col(bucketCol))
    val wKey = part(kCols)
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(30, 12))
    series
      .withColumn("trend",
        when(count(v).over(wTrend) === span, exactSum / lit(span.toDouble)))
      .withColumn("__detr", v - col("trend"))
      .withColumn("__slot", pmod(col(bucketCol), lit(period.toLong)))
      .withColumn("__slot_mean",
        sum(dec(col("__detr"))).over(wSlot).cast("double") /
          count(col("__detr")).over(wSlot))
      .withColumn("__rep",
        when(row_number().over(wSlotSeq) === 1, col("__slot_mean")))
      // center the indices: seasonal sums to ~0 across one period
      .withColumn("__grand",
        sum(dec(col("__rep"))).over(wKey).cast("double") /
          count(col("__rep")).over(wKey))
      .withColumn("seasonal", col("__slot_mean") - col("__grand"))
      .withColumn("resid", col("__detr") - col("seasonal"))
      .drop("__detr", "__slot", "__slot_mean", "__rep", "__grand")
  }

  /** Time-weighted average per (key, bucket) over IRREGULARLY-sampled
    * values — the TSDB aggregation that `avg` silently gets wrong on
    * uneven sampling (a sensor reporting 1× per hour and 60× in one hot
    * minute should not weight the hot minute 60×). Each sample's value
    * "holds" from its timestamp until the next sample in the same
    * bucket; the last sample holds to bucket end; the span before the
    * first sample has no value and is excluded from the denominator
    * (`covered` reports the seconds actually attributed). The reference
    * reads pre-shaped bucket aggregations from its TSDBs
    * (/root/reference/loudml/influx.py:62-68 normalizes per-connector
    * time units; InfluxQL's own `integral()` is this weighting) — this
    * is the engine-side equivalent for raw event streams.
    *
    * Determinism: the per-row product value·hold is ONE double op
    * (identical in any engine), and the sum runs in DECIMAL(30,12) —
    * exact, order-independent — before the final divide, so aggregation
    * order can never wiggle a low bit (house exact-mean pattern).
    *
    * Scale shape: one shuffle keyed by (keys, bucket) serves BOTH the
    * lead() window and the final aggregation (same partitioning —
    * Catalyst reuses the exchange), and a window partition holds one
    * key's samples within ONE bucket, so partition size is bounded by
    * per-bucket density, not series length.
    *
    * @param tsCol   integer epoch time (seconds or any uniform tick)
    * @param tieCols extra ordering columns for duplicated-instant rows
    *                (the earlier duplicate gets hold = 0 — deterministic)
    */
  def timeWeightedAvg(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, bucketSec: Long, tieCols: Seq[String] = Nil)
      : DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    import org.apache.spark.sql.types.DecimalType
    // exact integer floor-to-bucket (Spark `/` on longs is TRUE division
    // through double — fine at these magnitudes, but integers remove the
    // question; ts is non-negative epoch time so pmod ≡ %)
    val bucket = col(tsCol).cast("long") -
      pmod(col(tsCol).cast("long"), lit(bucketSec))
    val part = keys.map(col) :+ col("__bucket")
    val w = Window.partitionBy(part: _*)
      .orderBy((col(tsCol) +: tieCols.map(col)): _*)
    val hold = coalesce(lead(col(tsCol), 1).over(w),
      col("__bucket") + bucketSec) - col(tsCol)
    df.withColumn("__bucket", bucket)
      .withColumn("__hold", hold.cast("long"))
      .groupBy(keys.map(col) :+ col("__bucket").as("bucket"): _*)
      .agg(
        (sum((col(valueCol) * col("__hold")).cast(DecimalType(30, 12)))
          .cast("double") / sum(col("__hold"))).as("twa"),
        sum(col("__hold")).as("covered"),
        count(lit(1)).as("n"))
  }

  def interpolate(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String): DataFrame = {
    val base = (if (keys.isEmpty) Window.orderBy(col(bucketCol))
      else Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol)))
    val back = base.rowsBetween(Window.unboundedPreceding, -1)
    val fwd = base.rowsBetween(1, Window.unboundedFollowing)
    val v = col(valueCol)
    val b = col(bucketCol)
    val prevV = last(v, ignoreNulls = true).over(back)
    val prevB = last(when(v.isNotNull, b), ignoreNulls = true).over(back)
    val nextV = first(v, ignoreNulls = true).over(fwd)
    val nextB = first(when(v.isNotNull, b), ignoreNulls = true).over(fwd)
    series.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(prevV.isNotNull && nextV.isNotNull,
          prevV + (nextV - prevV) *
            ((b - prevB).cast("double") / (nextB - prevB).cast("double"))))
  }

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    * `(v_j − v_i) / (t_j − t_i)`, i < j — the breakdown-resistant slope
    * estimator (up to ~29% outliers can't move it, unlike OLS where one
    * spike owns the fit). Returns `(keys…, n_pairs, slope)`.
    *
    * Scale: the self-join is keyed (series id), so the quadratic blowup
    * is bounded per SERIES by its bucket count — a bucketized series is
    * hundreds-to-thousands of points regardless of corpus size, and
    * series are independent (embarrassingly parallel across the key
    * space, one keyed shuffle each side). Never call this on raw
    * un-bucketized events: bucketize first, that's the contract.
    *
    * Determinism: each slope is one double division of exact inputs;
    * the median is Spark's exact `percentile` (interpolation at even
    * counts differs from other engines in the last ulp — callers
    * comparing cross-engine round the output, house rule).
    *
    * Both forms are fail-fast guarded (the house pair-budget
    * convention — see [[Dedup.hammingNearDups]]). The KEYLESS form
    * must build a genuine cartesian (there is no join key), so past
    * `maxKeylessPoints` bucketized points it refuses with a
    * pair-budget error instead of silently launching an unbounded
    * n²/2 plan. The KEYED form is bounded per series by its bucket
    * count, but per-key n grows linearly with the queried time range —
    * at 100× the range, pairs grow 10,000× — so one map-side-partial
    * `groupBy(keys).count()` pre-pass (a tiny agg: one long per key)
    * checks the HOTTEST key's `n·(n−1)/2` against `maxPairsPerKey`
    * before the quadratic join launches. Remedies on either trip:
    * bucketize coarser, or use [[trendOls]] (one aggregation at any
    * scale); keyed callers who have priced in the volume can raise the
    * budget, or pass `maxPairsPerKey = 0` to disable the pre-pass. */
  def theilSen(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, maxKeylessPoints: Int = 10000,
      maxPairsPerKey: Long = 2000000L): DataFrame = {
    val a = series.select(
      keys.map(col) :+ col(bucketCol).as("__ta") :+
        col(valueCol).as("__va"): _*)
    val b = series.select(
      keys.map(col) :+ col(bucketCol).as("__tb") :+
        col(valueCol).as("__vb"): _*)
    if (keys.isEmpty) {
      val n = series.count()
      if (n > maxKeylessPoints) throw new IllegalArgumentException(
        s"keyless theilSen on $n points would enumerate ${n * (n - 1) / 2} " +
          s"pairs (> budget for maxKeylessPoints=$maxKeylessPoints): " +
          "bucketize coarser, pass series keys, or use trendOls (one " +
          "aggregation at any scale)")
    } else if (maxPairsPerKey > 0L) {
      // one histogram pass before the keyed self-join: map-side
      // partials collapse each task to one long per key, then the
      // hottest key's pair count gates the plan. Null-key rows are
      // excluded — the equi-join drops them, so they can never pair
      // (a dirty corpus with a big NULL key group must not false-trip
      // the guard). The count is a deliberate UPPER bound: rows
      // sharing one bucket value produce no strict __tb > __ta pair
      // but still count (same conservatism as hammingNearDups'
      // pre-hamming-filter estimate). n·(n−1) summed as LONG and
      // halved on the driver (always even); coalesce because max over
      // an EMPTY series is NULL.
      val worst = series
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .agg(coalesce(max(col("__n") * (col("__n") - 1)), lit(0L)))
        .head().getLong(0) / 2
      if (worst > maxPairsPerKey) throw new IllegalStateException(
        s"keyed theilSen: hottest key would enumerate $worst slope " +
          s"pairs (> maxPairsPerKey=$maxPairsPerKey). Remedies: " +
          "bucketize coarser, use theilSenApprox (bounded-lag median, " +
          "O(n·L) at any scale), use trendOls (one aggregation, not " +
          "robust), or raise maxPairsPerKey if the volume is priced in.")
    }
    val joined =
      if (keys.isEmpty) a.crossJoin(b).filter(col("__tb") > col("__ta"))
      else a.join(b, keys).filter(col("__tb") > col("__ta"))
    val grouped =
      if (keys.isEmpty) joined.groupBy()
      else joined.groupBy(keys.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_pairs"),
        percentile(
          (col("__vb") - col("__va")) /
            (col("__tb") - col("__ta")).cast("double"),
          lit(0.5)).as("slope"))
  }

  /** Bounded-lag Theil–Sen — the O(n·L) path for series past
    * [[theilSen]]'s pair budget: slopes are taken only between points
    * at RANK distance 1..`maxLag` within each key's bucket order
    * (ranks, not bucket deltas, so data gaps don't widen the window),
    * and the estimate is their median. ONE window pass builds the L
    * lead columns — one keyed sort, no self-join, nothing quadratic —
    * so cost is n·L at any corpus scale and no fail-fast budget is
    * needed. Robustness trade: each point touches ≤ 2L slopes, so a
    * single outlier taints ≤ 2L of the ~nL pairs — the breakdown
    * point is ~L outliers rather than exact Theil–Sen's ~29% of n
    * (the standard windowed-estimator trade). EXACT equivalence: a
    * series of n ≤ maxLag+1 points has every pair inside the lag
    * window, so the result IS [[theilSen]]'s (spec-pinned, same
    * n_pairs and slope). SAME-bucket pairs are dropped in both forms
    * (strict `tb > ta`) — duplicate-bucket rows still pair with OTHER
    * buckets, and the rank order breaks bucket ties by value so the
    * boundary pair selection is deterministic (exact-duplicate rows
    * are interchangeable — any order yields the same slope multiset).
    * Null-key and null-bucket rows are excluded up front, matching
    * what [[theilSen]]'s equi-join/strict comparison drop — the two
    * forms see the same points. Returns `(keys…, n_pairs, slope)`. */
  def theilSenApprox(series0: DataFrame, keys: Seq[String],
      bucketCol: String, valueCol: String, maxLag: Int = 16): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val series = series0.filter(
      (keys.map(col(_).isNotNull) :+ col(bucketCol).isNotNull)
        .reduce(_ && _))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(bucketCol), col(valueCol))
    val lagStructs = (1 to maxLag).map { l =>
      struct(lead(col(bucketCol), l).over(w).as("tb"),
        lead(col(valueCol), l).over(w).as("vb"))
    }
    val withArr = series.select(
      keys.map(col) :+ col(bucketCol).as("__ta") :+
        col(valueCol).as("__va") :+ array(lagStructs: _*).as("__ls"): _*)
    val slopes = withArr
      .select(keys.map(col) :+ col("__ta") :+ col("__va") :+
        explode(col("__ls")).as("__p"): _*)
      .filter(col("__p.tb").isNotNull && col("__p.tb") > col("__ta"))
    val grouped =
      if (keys.isEmpty) slopes.groupBy()
      else slopes.groupBy(keys.map(col): _*)
    grouped.agg(count(lit(1)).as("n_pairs"),
      percentile(
        (col("__p.vb") - col("__va")) /
          (col("__p.tb") - col("__ta")).cast("double"),
        lit(0.5)).as("slope"))
  }

  /** OLS trend per key: slope, intercept and R² of `vCol` on `xCol` —
    * the parametric companion to [[theilSen]] (cheap, one keyed agg, but
    * outlier-sensitive; run both and compare when the series is dirty).
    *
    * Numerical contract: callers should pass an `xCol` CENTERED near
    * zero (e.g. hours since the range start, not raw epoch seconds) —
    * the moment formulation `n·Σxy − Σx·Σy` cancels catastrophically
    * when |x| ≫ spread(x). With small-integer x every moment sum is
    * exact in the decimal(30,12) routing and the fit is
    * order-independent and engine-reproducible. Degenerate contracts:
    * R² is NULL (not NaN) for a constant series (zero y-variance), and
    * slope/intercept/R² are NULL for a degenerate x (single distinct
    * point — zero x-variance), never a 0/0 NaN. */
  def trendOls(series: DataFrame, keys: Seq[String], xCol: String,
      vCol: String): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val x = col(xCol).cast("double")
    val y = col(vCol).cast("double")
    val g = if (keys.isEmpty) series.groupBy()
      else series.groupBy(keys.map(col): _*)
    g.agg(count(lit(1)).as("n"), dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * y).as("sxy"), dsum(x * x).as("sxx"),
        dsum(y * y).as("syy"))
      .withColumn("__vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("__vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("__cov", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope", when(col("__vx") > 0, col("__cov") / col("__vx")))
      .withColumn("intercept",
        when(col("__vx") > 0,
          (col("sy") - col("slope") * col("sx")) / col("n").cast("double")))
      .withColumn("r2",
        when(col("__vx") > 0 && col("__vy") > 0,
          (col("__cov") * col("__cov")) / (col("__vx") * col("__vy"))))
      .select((keys.map(col) ++
        Seq(col("n"), col("slope"), col("intercept"), col("r2"))): _*)
  }

  /** Seasonal-naive forecast evaluation per key: predict
    * `ŷ(t) = y(t − period)`, score on buckets ≥ `evalFrom` where both
    * endpoints exist, report `(n_eval, mae, rmse, smape)`. The honest
    * BASELINE every real forecaster must beat (a model whose MAE is
    * above seasonal-naive's is worse than no model) — run it next to
    * q_forecast/q_holtwinters to contextualize their errors.
    *
    * sMAPE uses the symmetric `2|e| / (|y| + |ŷ|)` form, mean over
    * eval points. Scale: one keyed self-equi-join on
    * `(keys, bucket − period)` + one keyed agg; error moments route
    * through decimal(30,12) (order-independent). */
  def seasonalNaiveEval(series: DataFrame, keys: Seq[String],
      bucketCol: String, vCol: String, period: Long,
      evalFrom: Long): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val kc = keys.map(col)
    val actual = series.select(
      kc :+ col(bucketCol).as("__t") :+ col(vCol).as("__y"): _*)
      .filter(col("__t") >= evalFrom)
    val base = series.select(
      kc :+ (col(bucketCol) + period).as("__t") :+
        col(vCol).as("__yhat"): _*)
    val joined = actual.join(base, keys :+ "__t")
      .withColumn("__e", col("__y") - col("__yhat"))
    val g = if (keys.isEmpty) joined.groupBy()
      else joined.groupBy(kc: _*)
    g.agg(count(lit(1)).as("n_eval"),
        (dsum(abs(col("__e"))) / count(lit(1))).as("mae"),
        sqrt(dsum(col("__e") * col("__e")) / count(lit(1))).as("rmse"),
        (dsum(lit(2.0) * abs(col("__e")) /
            (abs(col("__y")) + abs(col("__yhat")))) / count(lit(1)))
          .as("smape"))
  }

  /** Iterative sigma-clipping per key (the astronomy-standard robust
    * outlier flagger): repeatedly compute the per-key mean/population-σ
    * over the SURVIVORS and drop points with `|v − μ| > k·σ`, until a
    * pass removes nothing or `maxIter` passes ran. One spike inflates a
    * plain z-threshold's own σ and hides itself — re-estimating after
    * each removal is what catches it. Returns the INPUT rows with an
    * `is_outlier` flag (non-destructive; filter downstream).
    *
    * Scale: each pass is one keyed agg + one broadcast-back join over a
    * BUCKETIZED series (bucket-bounded rows, like [[theilSen]] —
    * bucketize first, stated contract). Passes run on
    * [[Fixpoint.untilSettled]] with a budget of at most `maxIter`
    * passes: a pass marks the points it keeps (`__keep`) and the next
    * pass drops the rest, so the probe, one count of unkept points,
    * both materializes the pass and answers "removed nothing": one action
    * per pass.
    *
    * Determinism: μ and σ from decimal(30,12) sums
    * (σ = √max(0, Σv²/n − μ²), same expression both engines), so the
    * removal set per pass — and therefore the fixed point — is
    * engine-reproducible; the oracle replays the loop as a recursive
    * CTE (always unrolled to exactly maxIter passes: extra no-op passes
    * are identity, so early-stop and full-unroll agree). */
  def sigmaClip(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, k: Double, maxIter: Int): DataFrame = {
    require(k > 0 && maxIter >= 1, "k > 0, maxIter >= 1")
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val kc = keys.map(col)
    val v = col(valueCol)
    val point = kc :+ col(bucketCol) :+ v
    val marked = Fixpoint.untilSettled(
        Fixpoint.pin(series.select(kc :+ col(bucketCol) :+
          v.cast("double").as(valueCol) :+ lit(true).as("__keep"): _*)),
        maxIter, Fixpoint.Stop) { marked =>
      val survivors = marked.filter(col("__keep")).select(point: _*)
      val g = if (keys.isEmpty) survivors.groupBy()
        else survivors.groupBy(kc: _*)
      val stats = g.agg((dsum(v) / count(v)).as("__mu"),
        (dsum(v * v) / count(v)).as("__m2"))
        .withColumn("__sigma",
          sqrt(greatest(lit(0.0),
            col("__m2") - col("__mu") * col("__mu"))))
      val joined = (if (keys.isEmpty) survivors.crossJoin(broadcast(stats))
        else survivors.join(broadcast(stats), keys))
      // a null comparison drops the point, as a filter would
      joined.select(point :+ coalesce(
        abs(v - col("__mu")) <= lit(k) * col("__sigma"), lit(false))
        .as("__keep"): _*)
    } { marked =>
      marked.agg(count(when(!col("__keep"), lit(1)))).head().getLong(0) == 0L
    }
    series.join(
      marked.filter(col("__keep"))
        .select(kc :+ col(bucketCol) :+ lit(false).as("is_outlier"): _*),
      keys :+ bucketCol, "left")
      .na.fill(true, Seq("is_outlier"))
  }

  /** Sample autocorrelation per key at lags `1..maxLag` (lag unit =
    * `step` in the bucket column's time base):
    *
    *   acf(l) = Σ (y_t − ȳ)(y_{t+l} − ȳ) / Σ (y_t − ȳ)²
    *
    * over the bucketized series AS IS (pairs where both endpoints exist;
    * missing buckets contribute nothing — interpolate/ffill first if
    * gap-filled semantics are wanted). The periodicity audit behind
    * seasonal-model configuration (a daily cycle shows as a peak at
    * lag 24 on hourly buckets). Returns `(keys…, lag, n_pairs, acf)`.
    *
    * Scale: the lag axis explodes from a literal array and a single
    * EQUI-join aligns the shifted series (the [[crossCorr]] shape) —
    * n·maxLag rows, linear in the series, never a pairwise join, keyed
    * or keyless; moments are per-key aggs. Determinism: ȳ, the
    * denominator, and each lag's numerator all route through
    * decimal(30,12) sums (house rule for order-independent doubles). */
  def acf(series: DataFrame, keys: Seq[String], bucketCol: String,
      valueCol: String, maxLag: Int, step: Long): DataFrame = {
    require(maxLag >= 1 && step > 0, "maxLag >= 1, step > 0")
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val kc = keys.map(col)
    val moments = {
      val g = if (keys.isEmpty) series.groupBy() else series.groupBy(kc: _*)
      g.agg((dsum(col(valueCol)) / count(col(valueCol))).as("__mean"))
    }
    val centered = (if (keys.isEmpty) series.crossJoin(broadcast(moments))
      else series.join(moments, keys))
      .select(kc :+ col(bucketCol).as("__t") :+
        (col(valueCol) - col("__mean")).as("__d"): _*)
    val denom = {
      val g = if (keys.isEmpty) centered.groupBy()
        else centered.groupBy(kc: _*)
      g.agg(dsum(col("__d") * col("__d")).as("__ss"))
    }
    val a = centered.select(
      kc :+ col("__t").as("__ta") :+ col("__d").as("__da"): _*)
      .withColumn("lag", explode(typedlit((1 to maxLag).toList)))
      .withColumn("__tb", col("__ta") + col("lag").cast("long") * lit(step))
    val b = centered.select(
      kc :+ col("__t").as("__tb") :+ col("__d").as("__db"): _*)
    val pairs = a.join(b, keys :+ "__tb")
    val grouped =
      if (keys.isEmpty) pairs.groupBy(col("lag"))
      else pairs.groupBy(kc :+ col("lag"): _*)
    val nums = grouped
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("__da") * col("__db")).as("__num"))
    (if (keys.isEmpty) nums.crossJoin(broadcast(denom))
     else nums.join(denom, keys))
      .select(kc ++ Seq(col("lag"), col("n_pairs"),
        (col("__num") / col("__ss")).as("acf")): _*)
  }
}
