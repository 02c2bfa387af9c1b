package graft.ml

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Json

/** Additive Holt-Winters (triple exponential smoothing) — the classic
  * level/trend/seasonal forecaster, as a third [[ModelType]] behind the
  * same registry seam as the seasonal profile and the window
  * reconstructor. Where [[SeasonalModel]] learns a STATIC per-slot
  * profile (μ,σ per slot, no trend, no recency weighting), Holt-Winters
  * tracks level ℓ, trend b and per-slot seasonal offsets s that adapt to
  * drift — the standard answer for "the metric is growing 2% a week AND
  * has a daily shape" (Holt 1957, Winters 1960; the same smoothing
  * family Graphite/RRDtool ship for monitoring):
  *
  *   ℓ_t = α(y_t − s_{t−m}) + (1−α)(ℓ_{t−1} + b_{t−1})
  *   b_t = β(ℓ_t − ℓ_{t−1}) + (1−β) b_{t−1}
  *   s_t = γ(y_t − ℓ_t)    + (1−γ) s_{t−m}
  *
  * Scale shape: the recurrence is inherently sequential, but it runs over
  * the BUCKETIZED series — O(buckets) rows, bounded by time-range/interval
  * (a config constant), never data volume; the heavy reduction already
  * happened in the distributed bucketing aggregation. Training therefore
  * collects the series to the driver (model-sized, same budget as every
  * profile/1-row-aggregate collect in this repo) and folds once.
  * Prediction and forecasting are pure per-bucket projections from the
  * frozen end-of-training state (level + h·trend + season[slot] ± 3σ),
  * keyed: a fleet's states (one row per series, [[HoltWinters.train]])
  * join the bucketed frame by key; a solo model carries its state into
  * the plan as literals — no join, and over a local series no Spark job.
  */
/** Smoothing constants. β defaults SMALL deliberately: with long seasonal
  * periods (m = 24, 168 …) the coupled level/trend/season system has
  * slowly-damped oscillatory modes once β is more than a few percent —
  * the trend estimate "ripples" around truth for hundreds of steps
  * (measured: β=0.1 at m=24 leaves the trend 50-100% off after 20 days
  * of hourly data; β=0.01 recovers it to ±10%). [[HoltWinters.fitBest]]'s
  * in-sample RMS criterion also penalizes rippling configurations, so the
  * grid search lands on damped ones. */
final case class HoltWintersParams(
    bucketInterval: Long,
    period: Long = 86400L,
    alpha: Double = 0.3,
    beta: Double = 0.01,
    gamma: Double = 0.3,
    sigmaFloor: Double = 1e-9) {
  def m: Int = (period / bucketInterval).toInt
}

/** End-of-training state: forecast origin. `season(j)` is the additive
  * offset for slot j = (bucket mod period)/interval. */
final case class HoltWintersState(
    level: Double, trend: Double, season: Array[Double],
    sigma: Double, lastBucket: Long)

object HoltWinters {

  /** Fold the recurrence over an ordered (bucket, value) series. Missing
    * buckets (gaps/nulls) roll the state forward without an update:
    * ℓ += b per skipped step, s untouched — the standard treatment.
    * σ is the RMS of one-step-ahead residuals (the in-sample innovation
    * scale used for the bands), floored like every σ here. */
  def fit(series: Seq[(Long, Option[Double])],
      p: HoltWintersParams): HoltWintersState = {
    val m = p.m
    require(m >= 1, "period must be >= bucketInterval")
    val obs = series.collect { case (b, Some(v)) => (b, v) }
    require(obs.nonEmpty, "no observations to fit")

    // init from the first (up to two) seasons: level = mean of season 1,
    // trend = per-step delta between season means, s_j = y_j − mean1
    val s1 = obs.take(m)
    val s2 = obs.slice(m, 2 * m)
    val mean1 = s1.map(_._2).sum / s1.size
    val trend0 =
      if (s2.nonEmpty) (s2.map(_._2).sum / s2.size - mean1) / m else 0.0
    val season = Array.fill(m)(0.0)
    s1.foreach { case (b, v) =>
      season(Slot.of(b, p.period, p.bucketInterval)) = v - mean1 }

    var level = mean1
    var trend = trend0
    var prevBucket = obs.head._1
    var sse = 0.0
    var n = 0
    obs.foreach { case (b, v) =>
      // roll state over any gap (h-1 silent steps project level forward)
      val h = ((b - prevBucket) / p.bucketInterval).toInt
      if (h > 1) level += (h - 1) * trend
      val j = Slot.of(b, p.period, p.bucketInterval)
      val pred = level + trend + season(j)
      sse += (v - pred) * (v - pred); n += 1
      val prevLevel = level
      level = p.alpha * (v - season(j)) + (1 - p.alpha) * (level + trend)
      trend = p.beta * (level - prevLevel) + (1 - p.beta) * trend
      season(j) = p.gamma * (v - level) + (1 - p.gamma) * season(j)
      prevBucket = b
    }
    val sigma = math.max(math.sqrt(sse / n), p.sigmaFloor)
    HoltWintersState(level, trend, season, sigma, prevBucket)
  }

  /** Grid-search (α,β,γ) by in-sample one-step-ahead RMS (each candidate
    * is one O(buckets) driver fold — the whole grid costs less than one
    * Spark job). */
  def fitBest(series: Seq[(Long, Option[Double])], p: HoltWintersParams,
      alphaGrid: Seq[Double] = Seq(0.1, 0.3, 0.5, 0.8),
      betaGrid: Seq[Double] = Seq(0.01, 0.05),
      gammaGrid: Seq[Double] = Seq(0.1, 0.3, 0.6))
      : (HoltWintersParams, HoltWintersState) = {
    val cands = for (a <- alphaGrid; b <- betaGrid; g <- gammaGrid)
      yield p.copy(alpha = a, beta = b, gamma = g)
    cands.map(c => (c, fit(series, c))).minBy(_._2.sigma)
  }

  /** Budgeted annealed random search over the CONTINUOUS (α, β, γ) space
    * (+ an optional period candidate set) — the reference's hyperopt-TPE
    * `max_evals` knob (/root/reference/loudml/donut.py:800-855) restated
    * without the surrogate density: a third of the budget explores with
    * seeded uniform draws over the full box, the rest exploits by
    * perturbing the incumbent with log-scale noise whose temperature
    * anneals toward zero — TPE's explore/exploit split, deterministic by
    * seed. Each eval is one O(buckets) driver fold (criterion: the same
    * in-sample one-step RMS as [[fitBest]]); the whole budget costs less
    * than one Spark job. Beats the fixed grid at equal budget whenever
    * the optimum sits off-grid (spec-pinned on a seeded synthetic).
    */
  def searchBest(series: Seq[(Long, Option[Double])], p: HoltWintersParams,
      maxEvals: Int = 21, periods: Seq[Long] = Nil, seed: Long = 42L)
      : (HoltWintersParams, HoltWintersState) = {
    require(maxEvals >= 1, "maxEvals must be >= 1")
    val rnd = new scala.util.Random(seed)
    val pers = if (periods.nonEmpty) periods else Seq(p.period)
    val lo = Array(0.01, 0.001, 0.01) // α, β, γ bounds
    val hi = Array(0.99, 0.2, 0.99)
    def clamp(v: Double, i: Int) = math.min(hi(i), math.max(lo(i), v))
    def uniform(i: Int) = lo(i) + rnd.nextDouble() * (hi(i) - lo(i))

    val explore = math.max(1, maxEvals / 3)
    var best: (HoltWintersParams, HoltWintersState) = null
    var evals = 0
    while (evals < maxEvals) {
      val cand =
        if (best == null || evals < explore)
          p.copy(alpha = uniform(0), beta = uniform(1), gamma = uniform(2),
            period = pers(rnd.nextInt(pers.size)))
        else {
          // anneal: log-normal perturbation of the incumbent, temperature
          // decaying from 0.5 to ~0.05 over the remaining budget
          val t = 0.5 * math.pow(0.1,
            (evals - explore).toDouble / math.max(1, maxEvals - explore))
          val b = best._1
          p.copy(
            alpha = clamp(b.alpha * math.exp(rnd.nextGaussian() * t), 0),
            beta = clamp(b.beta * math.exp(rnd.nextGaussian() * t), 1),
            gamma = clamp(b.gamma * math.exp(rnd.nextGaussian() * t), 2),
            period = if (pers.size == 1 || rnd.nextDouble() < 0.8) b.period
              else pers(rnd.nextInt(pers.size)))
        }
      val st = fit(series, cand)
      if (best == null || st.sigma < best._2.sigma) best = (cand, st)
      evals += 1
    }
    best
  }

  /** Collect a bucketed frame to the ordered driver-side series
    * (model-sized: O(buckets)). */
  def collectSeries(bucketed: DataFrame, valueCol: String)
      : Seq[(Long, Option[Double])] =
    bucketed.select(col("bucket").cast("long"),
        col(valueCol).cast("double"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq

  /** Seasonal offsets as the model's profile frame (slot, s). */
  def profileFrame(spark: SparkSession, st: HoltWintersState): DataFrame = {
    import spark.implicits._
    st.season.zipWithIndex.map { case (s, j) => (j.toLong, s) }
      .toSeq.toDF("slot", "s")
  }

  /** One key's trained state (mirrors [[HoltWintersState]]). */
  private[ml] final case class KeyedState(k: Seq[String], level: Double,
      trend: Double, sigma: Double, last_bucket: Long, season: Seq[Double])

  private[ml] implicit val keyedStateEncoder: Encoder[KeyedState] =
    Encoders.product[KeyedState]

  private[ml] def keyedState(k: Seq[String], st: HoltWintersState) =
    KeyedState(k, st.level, st.trend, st.sigma, st.lastBucket, st.season.toSeq)

  /** Train one state per key from a bucketized frame `(keys…, bucket,
    * valueCol)` (gaps as missing rows or null values — both roll the
    * state exactly like [[fit]], which this reuses verbatim per key), in
    * one Spark job ([[Keyed.fit]]). A key with no observation (empty or
    * all-null) is skipped and counted in the named accumulator
    * `graft.fleetHw.skippedKeys`. Returns
    * `(keys…, level, trend, sigma, last_bucket, season)`. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: HoltWintersParams): DataFrame =
    Keyed.fit(bucketed, valueCol, keys, Some(Keyed.Skip(
        "graft.fleetHw.skippedKeys", s => s.forall(_._2.isEmpty)))) {
      (k, series) =>
        keyedState(k, fit(series, p))
    }

  /** `predicted` = ℓ + h·b + s_slot, with h = steps since the forecast
    * origin, from the state columns, which go except `sigma`. */
  private def expected(withState: DataFrame, p: HoltWintersParams): DataFrame = {
    val slot = Slot.column(col("bucket"), p.period, p.bucketInterval)
    val h = ((col("bucket") - col("last_bucket")) / lit(p.bucketInterval))
      .cast("long")
    withState.withColumn("predicted", col("level") + h * col("trend") +
        element_at(col("season"), (slot + 1).cast("int")))
      .drop("level", "trend", "last_bucket", "season")
  }

  /** Forecast every key over `[from, to)`: the bucket spine crosses the
    * states (a narrow projection, no shuffle, no per-key driver work);
    * `predicted = ℓ + h·b + season[slot]`, bands ±3σ ([[Bands]]).
    * Output: `(keys…, bucket, predicted, lower, upper)`. */
  def forecast(states: DataFrame, keys: Seq[String], from: Long, to: Long,
      p: HoltWintersParams): DataFrame = {
    val spine = states.sparkSession.range(from, to, p.bucketInterval)
      .select(col("id").as("bucket"))
    Bands.forecast(expected(states.crossJoin(spine), p), from, p.bucketInterval,
      z = 3.0, noisePerStep = 0.0)
  }

  /** Score an observed bucketized frame against the states: join by key
    * (`keys = Nil`: the one-row state crosses a single series), project
    * predicted, bands and Φ-score ([[Bands.scored]]). Keys without a
    * state emit nothing. */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: HoltWintersParams,
      anomalyType: String = "low_high"): DataFrame =
    Bands.scored(expected(bucketed.join(states, keys), p), valueCol,
      anomalyType)

  /** A single series' state as literal columns: a projection in place of
    * the cross join with a one-row state. */
  private def withState(df: DataFrame, st: HoltWintersState): DataFrame =
    df.select(col("*"), lit(st.level).as("level"), lit(st.trend).as("trend"),
      lit(st.sigma).as("sigma"), lit(st.lastBucket).as("last_bucket"),
      typedLit(st.season.toSeq).as("season"))

  /** [[predict]] for a single series whose state is on the driver. */
  private[ml] def predictSolo(bucketed: DataFrame, st: HoltWintersState,
      valueCol: String, p: HoltWintersParams, anomalyType: String): DataFrame =
    Bands.scored(expected(withState(bucketed, st), p), valueCol, anomalyType)

  /** `(bucket, predicted, sigma)` over `[from, to[` for a single series
    * whose state is on the driver, over a local spine: rows in bucket
    * order, no Spark job. */
  private[ml] def expectedSolo(spark: SparkSession, st: HoltWintersState,
      from: Long, to: Long, p: HoltWintersParams): DataFrame =
    expected(withState(Local.range(spark, from, to, p.bucketInterval), st), p)
}

/** Registry wrapper: settings `{"type":"holtwinters","bucket_interval":N,
  * "period":N, ["alpha":a,"beta":b,"gamma":g]}` — smoothing constants
  * omitted → grid-searched by in-sample RMS ([[HoltWinters.fitBest]]).
  * Trained scalars (level/trend/sigma/last_bucket + chosen α,β,γ) are
  * appended to the settings JSON so `load` rehydrates bit-identically. */
object HoltWintersType extends ModelType {
  import org.json4s._
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods

  val name = "holtwinters"

  private def params(json: String): (HoltWintersParams, Boolean) = {
    val j = JsonMethods.parse(json)
    val base = HoltWintersParams(
      bucketInterval = Json.num(j \ "bucket_interval").getOrElse(
        throw new IllegalArgumentException("bucket_interval required")).toLong,
      period = Json.num(j \ "period").map(_.toLong).getOrElse(86400L))
    val explicit = Json.num(j \ "alpha").isDefined
    val p = base.copy(
      alpha = Json.num(j \ "alpha").getOrElse(base.alpha),
      beta = Json.num(j \ "beta").getOrElse(base.beta),
      gamma = Json.num(j \ "gamma").getOrElse(base.gamma))
    (p, explicit)
  }

  def train(bucketed: DataFrame, valueCol: String,
      settingsJson: String): TrainedModel = {
    val (p0, explicit) = params(settingsJson)
    val series = HoltWinters.collectSeries(bucketed, valueCol)
    // "max_evals" present → budgeted annealed search (the reference's
    // hyperopt knob, donut.py:800-855); absent → the fixed grid
    val maxEvals = Json.num(JsonMethods.parse(settingsJson) \ "max_evals")
      .map(_.toInt)
    val (p, st) =
      if (explicit) (p0, HoltWinters.fit(series, p0))
      else maxEvals match {
        case Some(n) => HoltWinters.searchBest(series, p0, n)
        case None    => HoltWinters.fitBest(series, p0)
      }
    val spark = bucketed.sparkSession
    // merge (not ~): replaces existing keys so the settings JSON never
    // carries duplicate fields (json4s `\` on a duplicated key returns a
    // JArray, which would break load dispatch)
    val extras: JObject =
      ("type" -> name) ~ ("alpha" -> p.alpha) ~ ("beta" -> p.beta) ~
        ("gamma" -> p.gamma) ~ ("level" -> st.level) ~
        ("trend" -> st.trend) ~ ("sigma" -> st.sigma) ~
        ("last_bucket" -> st.lastBucket)
    val json = JsonMethods.compact(JsonMethods.render(
      JsonMethods.parse(settingsJson).merge(extras: JValue)))
    new Trained(HoltWinters.profileFrame(spark, st), json, p, st)
  }

  def load(spark: SparkSession, profile: DataFrame,
      settingsJson: String): TrainedModel = {
    val (p, _) = params(settingsJson)
    val j = JsonMethods.parse(settingsJson)
    val season = profile.orderBy("slot").select("s").collect()
      .map(_.getDouble(0))
    val st = HoltWintersState(
      level = Json.num(j \ "level").getOrElse(0.0),
      trend = Json.num(j \ "trend").getOrElse(0.0),
      season = season,
      sigma = Json.num(j \ "sigma").getOrElse(1.0),
      lastBucket = Json.num(j \ "last_bucket").map(_.toLong).getOrElse(0L))
    new Trained(profile, settingsJson, p, st)
  }

  final class Trained(val profile: DataFrame, val settingsJson: String,
      p: HoltWintersParams, st: HoltWintersState) extends TrainedModel {
    val modelType: String = name

    def bucketInterval: Long = p.bucketInterval

    def predict(bucketed: DataFrame, valueCol: String,
        anomalyType: String = "low_high"): DataFrame =
      HoltWinters.predictSolo(bucketed, st, valueCol, p, anomalyType)

    protected def expected(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      HoltWinters.expectedSolo(spark, st, from, to, p)
  }
}
