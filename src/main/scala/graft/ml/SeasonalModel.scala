package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Json

/** Seasonal-baseline time-series model — the interface-compatible first
  * implementation of the reference's model trait (SURVEY §2.11, plan §7.2
  * step 4): `train` → profile, `predict` → (observed, predicted, lower,
  * upper, score), `forecast` → future bands (the trained model's).
  *
  * Where the reference trains a VAE ("Donut", arXiv 1802.03903,
  * /root/reference/loudml/donut.py:492-1595) to reconstruct each window and
  * derive μ ± 3σ bands by MC sampling
  * (/root/reference/loudml/donut.py:1264-1296), this model learns per
  * seasonal-slot statistics (the `daytime`/`weekday` seasonality inputs the
  * reference exposes, /root/reference/loudml/misc.py:201-212): slot =
  * (bucket mod period)/interval, profile = (μ, σ_pop) per slot. Same output
  * schema, same scoring, same anomaly scan downstream — the VAE is an
  * upgrade path behind the same trait.
  *
  * Scale: train is one groupBy over O(period/interval) slots (tiny shuffle,
  * map-side partials); predict is a broadcast join of the profile (≤ a few
  * thousand rows) onto the bucketed series — no extra shuffle at 100 TB.
  *
  * Keyed: with `keys`, every series gets its OWN per-slot profile in the
  * same single aggregation (one shuffle keyed by series+slot — the key the
  * predict join needs), instead of one training job per series; the
  * profile table is O(#series · period/interval) rows —
  * data-scale-independent — and plugs straight into [[FleetScan]] /
  * [[graft.streaming.StreamingEval.startFleet]] as the `score` function.
  * A single series is the empty key (`keys = Nil`).
  */
final case class SeasonalModelParams(
    bucketInterval: Long,
    period: Long = 86400L, // daily seasonality; 604800 = weekly
    sigmaFloor: Double = 1e-9)

object SeasonalModel {

  def slotCol(bucket: Column, p: SeasonalModelParams): Column =
    Slot.column(bucket, p.period, p.bucketInterval).as("slot")

  /** Train: per-(key, slot) mean/σ_pop profile of `valueCol` over a
    * bucketed frame (σ=0→1 guard as in loudml/donut.py:644-650).
    * Returns
    * `(keys…, slot, mu, sigma)`. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: SeasonalModelParams): DataFrame =
    bucketed
      .groupBy((keys.map(col) :+ slotCol(col("bucket"), p)): _*)
      .agg(
        avg(col(valueCol)).as("mu"),
        coalesce(
          when(stddev_pop(col(valueCol)) === 0.0, 1.0)
            .otherwise(stddev_pop(col(valueCol))),
          lit(1.0)).as("sigma"))

  /** Predict over a bucketed frame, each series against its OWN profile
    * (join on keys + slot): adds predicted (the slot's μ), the bands and
    * the anomaly score ([[Bands.scored]]). A key absent from
    * the profile (a host that appeared after training) emits nothing. A
    * single series' profile (`keys = Nil`) is broadcast; a fleet's is
    * O(#series) and joins by key. */
  def predict(
      bucketed: DataFrame,
      profile: DataFrame,
      valueCol: String,
      keys: Seq[String],
      p: SeasonalModelParams,
      anomalyType: String = "low_high"): DataFrame =
    Bands.scored(expected(joinProfile(bucketed, profile, keys, p)), valueCol,
      anomalyType)

  /** `df` with its slot's `mu` and `sigma` joined from `profile` (inner:
    * a slot or key the profile lacks drops the row). */
  private def joinProfile(df: DataFrame, profile: DataFrame,
      keys: Seq[String], p: SeasonalModelParams): DataFrame =
    df.withColumn("slot", slotCol(col("bucket"), p))
      .join(if (keys.isEmpty) broadcast(profile) else profile, keys :+ "slot")

  /** `predicted` from the `slot`/`mu` columns, which go; `sigma` stays. */
  private[ml] def expected(withProfile: DataFrame): DataFrame =
    withProfile.withColumn("predicted", col("mu")).drop("slot", "mu")

  /** A single series' profile held on the driver, indexed by slot over
    * every slot of the period: whether the profile has the slot, and its
    * μ and σ. */
  private[ml] final case class Slots(has: Seq[Boolean], mu: Seq[Option[Double]],
      sigma: Seq[Option[Double]])

  /** Collect a single series' `(slot, mu, sigma)` profile (model-sized). */
  private[ml] def collectSlots(profile: DataFrame,
      p: SeasonalModelParams): Slots = {
    val rows = profile.select(col("slot").cast("long"),
      col("mu").cast("double"), col("sigma").cast("double")).collect()
    val bySlot = rows.map(r => r.getLong(0) -> r).toMap
    val n = (bySlot.keys.toSeq :+ (p.period - 1) / p.bucketInterval).max + 1
    def value(i: Int)(s: Long): Option[Double] =
      bySlot.get(s).filterNot(_.isNullAt(i)).map(_.getDouble(i))
    Slots((0L until n).map(bySlot.contains), (0L until n).map(value(1)),
      (0L until n).map(value(2)))
  }

  /** `df` with its slot's `mu` and `sigma` from a collected profile: array
    * literals indexed by slot, a projection and a filter instead of a
    * join. A slot the profile lacks drops the row, as the join does. */
  private[ml] def withSlots(df: DataFrame, s: Slots,
      p: SeasonalModelParams): DataFrame = {
    def at(values: Column): Column =
      element_at(values, (col("slot") + 1).cast("int"))
    df.withColumn("slot", slotCol(col("bucket"), p))
      .filter(at(typedLit(s.has)))
      .withColumn("mu", at(typedLit(s.mu)))
      .withColumn("sigma", at(typedLit(s.sigma)))
  }

  /** Mean squared error between observed and predicted
    * (/root/reference/loudml/donut.py:417-424). */
  def mse(predicted: DataFrame, valueCol: String): DataFrame =
    predicted.agg(avg(pow(col(valueCol) - col("predicted"), 2)).as("mse"))

  // ── incremental training (the reference's `continue` / warm-start,
  //    /root/reference/loudml/donut.py:857-897,1068-1080) ──────────────

  /** Sufficient statistics per slot: (slot, n, sum, sumsq). Mergeable, so
    * training continues on new data without revisiting old data — the
    * profile-model warm start. */
  def trainStats(bucketed: DataFrame, valueCol: String, p: SeasonalModelParams): DataFrame =
    bucketed
      .groupBy(slotCol(col("bucket"), p))
      .agg(
        count(col(valueCol)).as("n"),
        sum(col(valueCol)).as("sum"),
        sum(col(valueCol) * col(valueCol)).as("sumsq"))

  /** Merge two sufficient-stats frames (full outer on slot, add counts). */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("slot"), col("n").as("n1"), col("sum").as("s1"), col("sumsq").as("q1"))
      .join(b.select(col("slot"), col("n").as("n2"), col("sum").as("s2"),
        col("sumsq").as("q2")), Seq("slot"), "full_outer")
      .select(
        col("slot"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
        (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))).as("sum"),
        (coalesce(col("q1"), lit(0.0)) + coalesce(col("q2"), lit(0.0))).as("sumsq"))

  /** Sufficient stats → (slot, mu, sigma) profile; σ_pop = sqrt(E[x²]−μ²),
    * σ=0→1 guard as in train(). */
  def statsToProfile(stats: DataFrame): DataFrame =
    stats.filter(col("n") > 0)
      .withColumn("mu", col("sum") / col("n"))
      .withColumn("var", greatest(col("sumsq") / col("n") - col("mu") * col("mu"),
        lit(0.0)))
      .withColumn("sigma", when(sqrt(col("var")) === 0.0, 1.0).otherwise(sqrt(col("var"))))
      .select("slot", "mu", "sigma")

  // ── model selection (the reference's hyperparameter search,
  //    /root/reference/loudml/donut.py:800-855, TrainValidationSplit-style) ──

  /** Fit one profile per candidate period, score each on the validation
    * series by MSE, return (bestParams, profile). The candidate set is the
    * profile-model's hyperparameter grid (the VAE greed over
    * latent/intermediate dims maps to period/interval choices here). */
  def fitBest(
      train: DataFrame, valid: DataFrame, valueCol: String,
      bucketInterval: Long, periods: Seq[Long]): (SeasonalModelParams, DataFrame) = {
    val scored = periods.map { period =>
      val p = SeasonalModelParams(bucketInterval, period)
      val profile = SeasonalModel.train(train, valueCol, Nil, p)
      val err = mse(predict(valid, profile, valueCol, Nil, p), valueCol)
        .collect()(0).getDouble(0)
      (p, profile, err)
    }
    val best = scored.minBy(_._3)
    (best._1, best._2)
  }
}

/** The seasonal baseline behind the [[ModelType]] registry seam
  * (/root/reference/loudml/model.py:445-468). */
object SeasonalModelType extends ModelType {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  val name = "seasonal"

  def parseParams(json: String): SeasonalModelParams = {
    val j = JsonMethods.parse(json)
    SeasonalModelParams(
      bucketInterval = Json.num(j \ "bucket_interval")
        .getOrElse(throw new IllegalArgumentException(
          "seasonal settings need bucket_interval")).toLong,
      period = Json.num(j \ "period").getOrElse(86400.0).toLong)
  }

  def train(bucketed: DataFrame, valueCol: String, settingsJson: String): TrainedModel =
    new TrainedSeasonal(
      SeasonalModel.train(bucketed, valueCol, Nil, parseParams(settingsJson)),
      parseParams(settingsJson))

  def load(spark: SparkSession, profile: DataFrame, settingsJson: String): TrainedModel = {
    val m = new TrainedSeasonal(profile, parseParams(settingsJson))
    m.slots // collect the profile once, at load
    m
  }

  /** A single series: the profile is collected once, and predict and
    * forecast carry it into the plan as literals
    * ([[SeasonalModel.withSlots]]), so over a local series or spine they
    * start no Spark job. */
  final class TrainedSeasonal(
      val profile: DataFrame, p: SeasonalModelParams) extends TrainedModel {
    private[ml] lazy val slots = SeasonalModel.collectSlots(profile, p)
    def modelType: String = name
    def settingsJson: String =
      s"""{"type":"$name","bucket_interval":${p.bucketInterval},""" +
        s""""period":${p.period}}"""
    def bucketInterval: Long = p.bucketInterval
    def predict(bucketed: DataFrame, valueCol: String,
        anomalyType: String = "low_high"): DataFrame =
      Bands.scored(SeasonalModel.expected(
        SeasonalModel.withSlots(bucketed, slots, p)), valueCol, anomalyType)
    protected def expected(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      SeasonalModel.expected(SeasonalModel.withSlots(
        Local.range(spark, from, to, p.bucketInterval), slots, p))
  }
}
