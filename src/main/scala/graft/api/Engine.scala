package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.ModelStore
import graft.ml.{Annotations, Constraints, Hook, ModelRegistry, TrainedModel}
import graft.operators.{ConstFill, Feature, Fill, NoFill, PreviousFill, TimesQuery}
import graft.sources.BucketRegistry
import graft.streaming.{EvalParams, EvalStep, ScheduledEval}

/** Model settings — the reference's settings dict
  * (/root/reference/loudml/model.py:207-264: name, type, features[],
  * bucket_interval, interval, offset, thresholds, grace_period,
  * default_bucket). Interval-ish fields accept numbers or timedelta
  * strings ("1h", "140m") exactly like the voluptuous schema
  * (/root/reference/loudml/schemas.py). */
final case class ModelSettings(
    name: String,
    tpe: String,
    features: Seq[Feature],
    bucketInterval: Long,
    interval: Long,
    offset: Long,
    maxThreshold: Double,
    minThreshold: Double,
    gracePeriod: Long,
    period: Long,
    defaultBucket: Option[String],
    raw: String) {

  /** The model's input feature — model I/O assembly filters on the
    * feature's declared direction (donut.py:547-551 `enum_features(
    * is_input=True)`; model.py:126-127 `is_input = 'i' in io`): an
    * output-only feature never feeds the model. Reference models are
    * single-feature (donut.py:543-545), so the first input wins. */
  def inputFeature: Feature =
    features.find(_.isInput).getOrElse(throw new IllegalArgumentException(
      s"model $name has no input feature (every feature is io='o')"))

  /** Settings JSON for the model trait with EVERY duration field numeric
    * — model types parse durations with a plain numeric extractor, so a
    * timedelta string (`"period": "2h"`, valid at this surface) must be
    * canonicalized here or the model would silently fall back to its
    * default period while the engine uses the parsed one. */
  def canonicalJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val merged = JsonMethods.parse(raw).merge(JObject(
      "type" -> JString(tpe),
      "bucket_interval" -> JLong(bucketInterval),
      "period" -> JLong(period)))
    JsonMethods.compact(JsonMethods.render(merged))
  }
}

object ModelSettings {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def seconds(j: JValue, default: => Long): Long = j match {
    case JInt(x)     => x.toLong
    case JLong(x)    => x
    case JDouble(x)  => x.toLong
    case JString(s)  => DateMath.parseDelta(s).toLong
    case _           => default
  }
  private def num(j: JValue, default: => Double): Double =
    graft.io.Json.num(j).getOrElse(default)
  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s); case _ => None
  }

  private def feature(j: JValue): Feature = {
    val name = str(j \ "name").getOrElse(
      throw new IllegalArgumentException("feature needs a name"))
    val metric = str(j \ "metric").getOrElse(
      throw new IllegalArgumentException("feature needs a metric"))
    val field = str(j \ "field").getOrElse(
      throw new IllegalArgumentException("feature needs a field"))
    val matchAll: Seq[(String, Any)] = (j \ "match_all") match {
      case JArray(xs) => xs.map { m =>
        val tag = str(m \ "tag").getOrElse(
          throw new IllegalArgumentException("match_all entry needs a tag"))
        val v: Any = (m \ "value") match {
          case JString(s) => s
          case JInt(x)    => x.toLong
          case JLong(x)   => x
          case JDouble(x) => x
          case JBool(b)   => b
          case _ => throw new IllegalArgumentException("match_all needs a value")
        }
        tag -> v
      }
      case _ => Nil
    }
    val fill: Fill = (j \ "default") match {
      case JString("previous") => PreviousFill
      case JInt(x)             => ConstFill(x.toDouble)
      case JLong(x)            => ConstFill(x.toDouble)
      case JDouble(x)          => ConstFill(x)
      case _                   => NoFill
    }
    Feature(name, metric, field, matchAll = matchAll, fill = fill,
      measurement = str(j \ "measurement"), bucket = str(j \ "bucket"),
      script = str(j \ "script"),
      io = str(j \ "io").getOrElse("io"),
      anomalyType = str(j \ "anomaly_type").getOrElse("low_high"),
      scores = str(j \ "scores").getOrElse("min_max"))
  }

  def parse(json: String): ModelSettings = {
    val j = JsonMethods.parse(json)
    val feats = (j \ "features") match {
      case JArray(xs) if xs.nonEmpty => xs.map(feature)
      case _ => throw new IllegalArgumentException("model needs features")
    }
    ModelSettings(
      name = str(j \ "name").getOrElse(
        throw new IllegalArgumentException("model needs a name")),
      tpe = str(j \ "type").getOrElse(
        throw new IllegalArgumentException("model has no type")),
      features = feats,
      bucketInterval = seconds(j \ "bucket_interval",
        throw new IllegalArgumentException("model needs bucket_interval")),
      interval = seconds(j \ "interval", 60L),
      offset = seconds(j \ "offset", 30L),
      maxThreshold = num(j \ "max_threshold", 99.7),
      minThreshold = num(j \ "min_threshold", 68.0),
      gracePeriod = seconds(j \ "grace_period", 0L),
      period = seconds(j \ "period", 86400L),
      defaultBucket = str(j \ "default_bucket"),
      raw = json)
  }
}

/** The engine facade — what the reference's REST server exposes, as a
  * library (endpoint → method):
  *
  *  - `POST /buckets/<b>/_read` (server.py:1168-1217)  → [[readFromBucket]]
  *  - model CRUD (server.py:736-936)                   → [[createModel]]
  *  - `POST /models/<m>/_train` (server.py:907-936)    → [[trainModel]]
  *  - `POST /models/<m>/_eval` (server.py:1583-1602)   → [[evalModel]]
  *  - `POST /models/<m>/_forecast` + constraint
  *    (worker.py:299-318)                              → [[forecastModel]]
  *  - `POST /models/<m>/_start` (server.py:1559-1580)  → [[startScheduled]]
  *
  * A loudml user switches by registering buckets, posting the same model
  * settings JSON, and calling these methods. The Flask/job-pool plumbing
  * of the reference is process architecture, not capability — callers
  * own their own async.
  */
class Engine(
    spark: SparkSession,
    val buckets: BucketRegistry,
    storageRoot: String,
    val annotations: graft.ml.AnnotationStore = new graft.ml.AnnotationStore) {

  private val settings =
    scala.collection.concurrent.TrieMap.empty[String, ModelSettings]

  // a crashed writer's staging leftovers go before this engine writes
  graft.io.Durable.sweep(java.nio.file.Paths.get(storageRoot))

  def createModel(settingsJson: String): ModelSettings = {
    val s = ModelSettings.parse(settingsJson)
    Schemas.requireKey(s.name, "model name")
    ModelRegistry(s.tpe) // unknown type → UnsupportedModel, model.py:445-468
    settings.put(s.name, s)
    s
  }

  def getModel(name: String): ModelSettings =
    settings.getOrElse(name,
      throw new IllegalArgumentException(s"unknown model: $name"))

  /** `_read`: features expressed as `metric(measurement.field)` lists,
    * from/to as epoch / ISO / now±delta date-math. */
  def readFromBucket(bucket: String, from: String, to: String,
      bucketInterval: Long, featuresExpr: String,
      nowEpoch: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val b = buckets(bucket)
    val feats = FeatureDsl.parseList(featuresExpr).map(_.toFeature())
    TimesQuery.run(spark, b.readPoints(spark), b.timestampField,
      bucketInterval,
      DateMath.parseTs(from, nowEpoch).toLong,
      DateMath.parseTs(to, nowEpoch).toLong,
      feats)
  }

  /** Bucketed single-feature series for a model. */
  private def series(s: ModelSettings, bucket: String, from: Long,
      to: Long): DataFrame = {
    val b = buckets(bucket)
    TimesQuery.run(spark, b.readPoints(spark), b.timestampField,
      s.bucketInterval, from, to, Seq(s.inputFeature))
  }

  private def bucketOf(s: ModelSettings, bucket: Option[String]): String =
    bucket.orElse(s.defaultBucket).getOrElse(
      throw new IllegalArgumentException(s"model ${s.name} has no bucket"))

  /** `_train`: fetch, mask known-anomaly annotation windows, train via
    * the type registry, checkpoint. Returns the checkpoint version.
    * Window masking mirrors the reference worker, which fetches
    * `list_anomalies` for the training range and passes the windows into
    * `train` (/root/reference/loudml/worker.py:87-97) so a labeled outage
    * never contaminates the learned profile. Open annotations (no end
    * yet) mask to the end of the range. */
  def trainModel(name: String, from: String, to: String,
      bucket: Option[String] = None,
      nowEpoch: Long = System.currentTimeMillis() / 1000): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val s = getModel(name)
    val f = DateMath.parseTs(from, nowEpoch).toLong
    val t = DateMath.parseTs(to, nowEpoch).toLong
    val bucketed = series(s, bucketOf(s, bucket), f, t)
    val input =
      if (annotations.size == 0) bucketed
      else {
        val windows = Annotations.inRange(
          annotations.toDF(spark)
            .withColumn("end_ts", coalesce(col("end_ts"), lit(t))), f, t)
        Annotations.maskWindows(bucketed, windows, s.inputFeature.name)
      }
    val trained = ModelRegistry(s.tpe)
      .train(input, s.inputFeature.name, s.canonicalJson)
    trained.save(storageRoot, name)
  }

  /** One loaded model per name, with the checkpoint version it came from. */
  private val loaded =
    scala.collection.concurrent.TrieMap.empty[String, (Int, TrainedModel)]

  /** The model behind `name`'s `ACTIVE` checkpoint. `ACTIVE` (one small
    * file) is read on every call: while it names the cached version the
    * cached model answers, with its state already on the driver; a
    * `_train` or a restore flips it, and the next call loads that
    * checkpoint and replaces the entry. One entry per model name, so the
    * cache holds at most the models registered. */
  def loadTrained(name: String): TrainedModel = {
    val v = ModelStore.activeVersion(storageRoot, name).getOrElse(
      throw new IllegalStateException(s"no active checkpoint for $name"))
    loaded.get(name).filter(_._1 == v).fold {
      val m = ModelRegistry.load(spark, storageRoot, name, Some(v))
      // a deleteModel racing this load must not leave its entry behind
      loaded.synchronized {
        if (ModelStore.activeVersion(storageRoot, name).contains(v))
          loaded.put(name, (v, m))
      }
      m
    }(_._2)
  }

  /** `_eval`: score `[from,to[` (context extended back 2 periods for
    * window models, donut.py:1210-1217) and, when `detectAnomalies`, run
    * the hysteresis scan (stateless here — the scheduled path owns
    * persistent state, mirroring `_eval`'s save_run_state=False,
    * server.py:1589). */
  def evalModel(name: String, from: String, to: String,
      detectAnomalies: Boolean = true, bucket: Option[String] = None,
      nowEpoch: Long = System.currentTimeMillis() / 1000): DataFrame = {
    val s = getModel(name)
    val p = evalParams(s)
    val f = DateMath.parseTs(from, nowEpoch).toLong
    val t = DateMath.parseTs(to, nowEpoch).toLong
    val scored = EvalStep.predict(loadTrained(name),
      series(s, bucketOf(s, bucket), f - p.contextSec, t),
      s.inputFeature.name, p, f, t)
    if (!detectAnomalies) scored else EvalStep.scan(scored, p)
  }

  /** A model's eval settings, shared by `_eval` and `_start`. The lag
    * context reaches back 2 seasonal periods so window models have their
    * phase-aligned lags (donut.py:1210-1217 extends by span). */
  private def evalParams(s: ModelSettings): EvalParams =
    EvalParams(interval = s.interval, offset = s.offset,
      bucketInterval = s.bucketInterval,
      maxThreshold = s.maxThreshold, minThreshold = s.minThreshold,
      gracePeriodSec = s.gracePeriod, contextSec = 2 * s.period,
      anomalyType = s.inputFeature.anomalyType)

  /** `_forecast` with optional `feature:low|high:threshold` constraint;
    * returns the bands and the first constraint violation if any.
    * `percentInterval`/`percentNoise` default to the reference's forecast
    * defaults (0.68 two-sided interval, no horizon noise —
    * /root/reference/loudml/donut.py:1338-1339). */
  def forecastModel(name: String, from: String, to: String,
      constraint: Option[String] = None,
      percentInterval: Double = 0.68, percentNoise: Double = 0.0,
      nowEpoch: Long = System.currentTimeMillis() / 1000)
      : (DataFrame, Option[(Long, Double)]) = {
    val fc = loadTrained(name).forecastCI(spark,
      DateMath.parseTs(from, nowEpoch).toLong,
      DateMath.parseTs(to, nowEpoch).toLong,
      percentInterval, percentNoise)
    (fc, constraint.map(c => Constraints.firstViolation(fc, Constraints.parse(c)))
      .getOrElse(None))
  }

  /** `_read` with the endpoint's JSON response shape
    * `{timestamps: [...], observed: {name: [...]}}`
    * (/root/reference/loudml/worker.py:130-163). */
  def readFromBucketJson(bucket: String, from: String, to: String,
      bucketInterval: Long, featuresExpr: String,
      nowEpoch: Long = System.currentTimeMillis() / 1000): String = {
    val names = FeatureDsl.parseList(featuresExpr).map(_.name)
    graft.io.Format.series(
      readFromBucket(bucket, from, to, bucketInterval, featuresExpr, nowEpoch),
      names)
  }

  private val scheduled =
    scala.collection.concurrent.TrieMap.empty[String, ScheduledEval]

  /** `_start`: the scheduled near-real-time loop with persisted run
    * state; drive it with [[ScheduledEval.evalOnce]] per trigger. Each
    * firing resolves the model through [[loadTrained]], so a later
    * `_train` is scored with, like the reference worker, which loads the
    * model for every job (worker.py:218-234). Idempotent like the
    * reference (`_start` twice returns the existing scheduled job,
    * server.py:1563-1566). */
  def startScheduled(name: String, hooks: Seq[Hook] = Nil,
      bucket: Option[String] = None): ScheduledEval =
    scheduled.getOrElseUpdate(name, {
      val s = getModel(name)
      val b = bucketOf(s, bucket)
      loadTrained(name) // an untrained model fails at _start
      new ScheduledEval(
        loadTrained(name),
        (from, to) => series(s, b, from, to),
        evalParams(s), storageRoot, name, hooksOf(name) ++ hooks,
        s.inputFeature.name)
    })

  /** `_stop` (server.py:1629-1674): deregister the scheduled loop. The
    * persisted run state survives (the reference restores jobs at boot,
    * server.py:1821-1843 — a later `_start` resumes where it left off). */
  def stopScheduled(name: String): Boolean = scheduled.remove(name).isDefined

  /** `GET /models` (docs/reference/api/models.asciidoc:60-64): all model
    * settings, name-sorted; page with
    * [[graft.api.Listing.sortPage]] like the reference's list args. */
  def listModels(): Seq[ModelSettings] =
    settings.values.toSeq.sortBy(_.name)

  /** `DELETE /models/<model_names>` — semicolon-separated, as documented
    * (models.asciidoc:44-57): unregisters settings, stops any scheduled
    * loop, detaches hooks, and removes the stored checkpoints. Returns
    * how many named models existed. */
  def deleteModel(names: String): Int =
    names.split(";").count { n =>
      val had = settings.remove(n).isDefined
      scheduled.remove(n)
      modelHooks.remove(n)
      loaded.synchronized {
        graft.io.Durable.deleteTree(java.nio.file.Paths.get(storageRoot, n))
        loaded.remove(n)
      }
      had
    }

  // ── per-model hooks API (docs/reference/api/hooks.asciidoc;
  //    server.py hook CRUD + _hook_test, 1016-1028). Hooks here are
  //    library objects implementing [[graft.ml.Hook]] rather than
  //    type+config JSON (the reference's plugin classes map to Hook
  //    implementations; AnnotationHook is the built-in analog).
  private val modelHooks = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.mutable.LinkedHashMap[String, Hook]]

  /** `PUT /models/<m>/hooks/<name>` analog: attach (or replace) a named
    * hook; [[startScheduled]] picks attached hooks up automatically. */
  def putHook(model: String, hook: Hook): Unit = {
    getModel(model) // UnsupportedModel on unknown, like the reference's 404
    modelHooks.getOrElseUpdate(model,
      scala.collection.mutable.LinkedHashMap.empty).put(hook.name, hook)
  }

  /** `GET /models/<m>/hooks` analog. */
  def listHooks(model: String): Seq[String] =
    modelHooks.get(model).map(_.keys.toSeq).getOrElse(Nil)

  /** `DELETE /models/<m>/hooks/<name>` analog. */
  def deleteHook(model: String, hookName: String): Boolean =
    modelHooks.get(model).exists(_.remove(hookName).isDefined)

  /** `POST /models/<m>/hooks/<name>/_test` (server.py:1016-1028): fire a
    * synthetic start+end through the named hook to verify alert wiring
    * without touching data. */
  def testHook(model: String, hookName: String,
      nowEpoch: Long = System.currentTimeMillis() / 1000): Boolean =
    modelHooks.get(model).flatMap(_.get(hookName)) match {
      case Some(h) =>
        graft.ml.HookTest.fire(Seq(h), getModel(model).inputFeature.name,
          nowEpoch, getModel(model).bucketInterval)
        true
      case None => false
    }

  /** Hooks attached to `model` via [[putHook]]. */
  def hooksOf(model: String): Seq[Hook] =
    modelHooks.get(model).map(_.values.toSeq).getOrElse(Nil)

  // ── runtime bucket CRUD (docs/reference/api/buckets.asciidoc:
  //    GET /buckets, POST /buckets, DELETE /buckets/<names>). Settings
  //    persist one JSON file per bucket and reload at construction, like
  //    the reference's config-file buckets.
  private val bucketDir = new graft.io.Durable.JsonDir(
    java.nio.file.Paths.get(storageRoot, "buckets"))
  bucketDir.readAll().foreach(j =>
    buckets.register(graft.sources.BucketSettings.fromJson(j)))

  /** `POST /buckets`: settings-JSON bucket, registered + persisted. */
  def createBucket(json: String): graft.sources.Bucket = {
    val b = graft.sources.BucketSettings.fromJson(json)
    Schemas.requireKey(b.name, "bucket name")
    buckets.register(b)
    bucketDir.put(b.name, json)
    b
  }

  /** `GET /buckets`: configured bucket names. */
  def listBuckets(): Seq[String] = buckets.names

  /** `DELETE /buckets/<names>` (semicolon-separated). */
  def deleteBucket(names: String): Int =
    names.split(";").count { n =>
      bucketDir.remove(n)
      buckets.remove(n)
    }
}
