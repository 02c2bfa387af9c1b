package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Stats
import graft.io.ModelStore

/** Model trait + plugin registry — the Spark restatement of the
  * reference's model loading seam (/root/reference/loudml/model.py:445-468:
  * `load_model` resolves `settings['type']` through the `loudml.models`
  * entry-point registry; unknown type → `UnsupportedModel`).
  *
  * A [[ModelType]] is the factory ("entry point"): it trains a new
  * [[TrainedModel]] from a bucketed series or rehydrates one from storage.
  * A [[TrainedModel]] carries its small state (profile frame + settings
  * JSON) and answers predict/forecast with a common output schema
  * (`predicted`, `lower`, `upper`, `score` added to the input series,
  * the bands from the one rule in [[Bands]]), so
  * the scoring + hysteresis-scan + hooks pipeline downstream is
  * model-agnostic — exactly the seam the VAE upgrade path needs.
  *
  * Settings ride as JSON (the analog of the reference's settings dict,
  * persisted by `ModelStore` next to the profile parquet); each type owns
  * its schema and must include `"type": "<name>"` for load dispatch.
  */
final case class UnsupportedModel(modelType: String)
  extends IllegalArgumentException(s"unsupported model type: $modelType")

trait TrainedModel {
  def modelType: String
  /** Small state frame persisted as the checkpoint parquet (per-slot
    * profile, weights table, …). Model-sized, never a data-scale frame. */
  def profile: DataFrame
  /** Settings + trained scalars as JSON; must contain `"type"`. */
  def settingsJson: String
  /** Bucket width in seconds. */
  def bucketInterval: Long

  /** Add `predicted`/`lower`/`upper`/`score` to a bucketed series. */
  def predict(bucketed: DataFrame, valueCol: String,
      anomalyType: String = "low_high"): DataFrame

  /** The model's expected value and one-σ width for each bucket of
    * `[from, to[` with no observations: `(bucket, predicted, sigma)`, in
    * bucket order. The bands derive from it in [[Bands]]. */
  protected def expected(spark: SparkSession, from: Long, to: Long): DataFrame

  /** Future bands over `[from, to[` (no observations): predicted ± 3σ,
    * z = 3 exactly. */
  final def forecast(spark: SparkSession, from: Long, to: Long): DataFrame =
    Bands.forecast(expected(spark, from, to), from, bucketInterval,
      z = 3.0, noisePerStep = 0.0)

  /** Future bands at a requested confidence — the reference's forecast
    * parameters (/root/reference/loudml/donut.py:1338-1339,1415,1423):
    * half-width z·σ with z = Φ⁻¹(1−(1−percentInterval)/2), plus
    * deterministic noise growth over the horizon — the reference expands
    * each forecast step h by uniform(±noise·h) with
    * noise = percentNoise·bucket_interval/86400; the deterministic analog
    * widens the band by noise·h·|predicted| (the expansion's envelope). */
  final def forecastCI(spark: SparkSession, from: Long, to: Long,
      percentInterval: Double, percentNoise: Double): DataFrame =
    Bands.forecast(expected(spark, from, to), from, bucketInterval,
      z = Stats.normPpf(1.0 - (1.0 - percentInterval) / 2.0),
      noisePerStep = percentNoise * bucketInterval.toDouble / 86400.0)

  /** Versioned checkpoint via [[graft.io.ModelStore]]; returns version. */
  def save(root: String, name: String): Int =
    ModelStore.save(profile, settingsJson, root, name)
}

/** The one band rule, for every model type, solo and keyed. A type
  * supplies `predicted` and a one-σ width `sigma` per bucket; the bands
  * are predicted ± 3σ (/root/reference/loudml/donut.py:1290-1296) and the
  * score reads σ back from `upper` (donut.py:899-924). Both take a frame
  * carrying `predicted` and `sigma`, append `lower` and `upper`, and
  * drop `sigma`; every other column is kept in place. */
private[ml] object Bands {

  /** Bands at ±3σ and the Φ-`score` of `valueCol` against them. */
  def scored(df: DataFrame, valueCol: String, anomalyType: String): DataFrame =
    banded(df, lit(3.0) * col("sigma"))
      .withColumn("score", Stats.anomalyScore(
        col(valueCol), col("predicted"), col("upper"), anomalyType))

  /** Forecast bands over a spine starting at `from`: at step
    * h = (bucket − from)/interval the half-width is
    * z·σ + noisePerStep·h·|predicted|. */
  def forecast(df: DataFrame, from: Long, interval: Long, z: Double,
      noisePerStep: Double): DataFrame = {
    val width = lit(z) * col("sigma")
    banded(df,
      if (noisePerStep == 0.0) width
      else width + lit(noisePerStep) *
        ((col("bucket") - lit(from)) / lit(interval)).cast("long") *
        abs(col("predicted")))
  }

  private def banded(df: DataFrame, half: Column): DataFrame =
    df.withColumn("lower", col("predicted") - half)
      .withColumn("upper", col("predicted") + half)
      .drop("sigma")
}

/** The one slot rule: a bucket's seasonal slot is
  * `(bucket mod period) / interval`, the index of every model type's
  * per-slot profile. `of` is the scalar form, `column` the Spark one. */
private[ml] object Slot {
  def of(bucket: Long, period: Long, interval: Long): Int =
    (Math.floorMod(bucket, period) / interval).toInt

  def column(bucket: Column, period: Long, interval: Long): Column =
    (pmod(bucket, lit(period)) / lit(interval)).cast("long")
}

trait ModelType {
  def name: String
  /** Train on a spine-complete bucketed series (`bucket: Long` epoch-sec
    * left edges, `valueCol: Double` nullable). */
  def train(bucketed: DataFrame, valueCol: String, settingsJson: String): TrainedModel
  /** Rehydrate from a stored (profile, settings) pair. */
  def load(spark: SparkSession, profile: DataFrame, settingsJson: String): TrainedModel
}

object ModelRegistry {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private val types = scala.collection.concurrent.TrieMap.empty[String, ModelType]

  def register(t: ModelType): Unit = types.put(t.name, t)
  def apply(name: String): ModelType =
    types.getOrElse(name, throw UnsupportedModel(name))
  def names: Seq[String] = types.keys.toSeq.sorted

  /** `load_model` analog: dispatch on the persisted settings' `type`. */
  def load(spark: SparkSession, root: String, model: String,
      version: Option[Int] = None): TrainedModel = {
    val (profile, json) = ModelStore.load(spark, root, model, version)
    val tpe = JsonMethods.parse(json) \ "type" match {
      case JString(s) => s
      case _ => throw UnsupportedModel("(model has no type)")
    }
    apply(tpe).load(spark, profile, json)
  }

  // built-in types (the reference ships 'donut'; we ship the seasonal
  // baseline + the windowed reconstructor targeting donut's quality
  // floors + additive Holt-Winters for trending seasonal series + the
  // low-rank tied-weights autoencoder + the true Donut VAE)
  register(SeasonalModelType)
  register(WindowReconstructor)
  register(HoltWintersType)
  register(AutoencoderReconstructor)
  register(DonutVae)
}
