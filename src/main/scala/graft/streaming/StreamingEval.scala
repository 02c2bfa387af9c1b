package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Metrics
import graft.ml.{Hook, Hooks, TrainedModel}

/** Structured Streaming eval (SURVEY §2.9): the model's `offset` becomes
  * `withWatermark(offset)`, so append-mode windowed aggregation emits a
  * bucket only once late data can no longer change it, and `interval`
  * becomes the trigger. Two cores, both run once per micro-batch in
  * `foreachBatch`:
  *
  *  - the solo stream ([[start]], [[tick]]) runs the same
  *    [[EvalStep.run]] as `_start`, with the same JSON [[StateStore]], so
  *    batch and stream cannot drift; it adds only what is specific to a
  *    stream — the gap spine from the persisted high-water mark and the
  *    lag-context rows ([[BucketHistory]]);
  *  - the fleet stream ([[startFleet]], [[fleetTick]]) stays distributed:
  *    its run state is a keyed parquet table, O(#series)
  *    ([[graft.ml.FleetScan]]), and its hooks stream O(episodes) through
  *    `toLocalIterator`.
  */
object StreamingEval {

  /** Per-(series, window) tumbling aggregation over a streaming points
    * frame: epoch-aligned `interval`-second windows labeled by LEFT edge,
    * late data admitted up to `offsetSec`; append mode ⇒ only closed
    * buckets flow downstream. Output `(keys…, bucket, value)`;
    * `seriesKeys = Nil` is one series. The shuffle is keyed by (series ++
    * window), so a million series aggregate in parallel with map-side
    * partials. */
  def bucketizeKeyed(points: DataFrame, tsCol: String, valueCol: String,
      seriesKeys: Seq[String], interval: Long, offsetSec: Long,
      metric: String = "avg"): DataFrame =
    points
      .withWatermark(tsCol, s"$offsetSec seconds")
      .groupBy((seriesKeys.map(col) :+
        window(col(tsCol), s"$interval seconds")): _*)
      // approx tier: single-pass mergeable aggregates (the streaming
      // setting is the 100 TB setting)
      .agg(Metrics.agg(metric, col(valueCol), exact = false)
        .cast("double").as("value"))
      .select((seriesKeys.map(col) :+
        unix_timestamp(col("window.start")).as("bucket") :+ col("value")): _*)

  /** Fleet streaming eval: each micro-batch of closed per-series buckets
    * is scored by `score` (default `model.predict` — correct for
    * profile-join models whose prediction depends only on the bucket
    * slot. A window model needs per-key LAG CONTEXT that a trigger's
    * batch does not carry: its scorer must prepend trailing history
    * itself — fetch from the bucket store, score with
    * `m.predictKeyed(_, valueCol, seriesKeys)`, filter back to the
    * batch's buckets — or its leading buckets impute lags to slot
    * means), scanned per key with state resumed
    * from the [[graft.ml.FleetScan]] keyed state table, and the new state
    * persisted (versioned parquet, ACTIVE pointer flips only after the
    * new version is fully written). One start + one end per episode PER
    * SERIES across micro-batches; grace anchors are per key.
    *
    * With `fill` set, each key's gap buckets are synthesized from its
    * state-table high-water mark ([[graft.ml.FleetScan.spineComplete]] —
    * fully distributed) before scoring, so a series that goes silent
    * mid-fleet still alarms when ITS data resumes or any batch fires;
    * TOTALLY silent series are closed by [[fleetTick]] from the caller's
    * scheduler (same event-time/wall-time split as [[tick]]). Without
    * `fill`, silent series only carry state forward. */
  def startFleet(
      bucketed: DataFrame,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      seriesKeys: Seq[String],
      hooks: Seq[Hook] = Nil,
      checkpointDir: String,
      trigger: Option[Trigger] = None,
      score: Option[DataFrame => DataFrame] = None,
      fill: Option[Double] = None,
      onBatch: DataFrame => Unit = _ => ()): StreamingQuery = {
    val writer = bucketed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          // the batch's newest closed bucket is FLEET-WIDE event time
          // (one global watermark closed it): with fill on, it bounds
          // every key's spine, so a series silent mid-fleet alarms as
          // soon as any series' data closes later buckets
          val upper =
            if (fill.isDefined)
              Some(batch.agg(max(col("bucket"))).collect()(0).getLong(0))
            else None
          fleetAdvance(batch.sparkSession, batch, model, params, stateRoot,
            modelName, seriesKeys, hooks, score, fill, upperExtra = upper,
            onBatch)
        }
      }
    trigger.foreach(writer.trigger)
    writer.start()
  }

  /** Fleet [[tick]]: close totally silent series by wall clock — every
    * known series (one row in the fleet state table) whose high-water
    * mark trails `now − offset` gets its missing buckets synthesized at
    * `fill` and scanned, so a host that stopped reporting entirely still
    * alarms. Distributed end to end: the spine derives from the
    * O(#series) state table, never a driver loop. Call from the owner's
    * scheduler when the stream reports no progress. */
  def fleetTick(
      spark: org.apache.spark.sql.SparkSession,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      seriesKeys: Seq[String],
      hooks: Seq[Hook] = Nil,
      score: Option[DataFrame => DataFrame] = None,
      fill: Double = 0.0,
      now: Long,
      onBatch: DataFrame => Unit = _ => ()): Unit = {
    val closed = params.closedEdge(now) - params.bucketInterval
    val fields = seriesKeys.map(k => org.apache.spark.sql.types.StructField(k,
      org.apache.spark.sql.types.StringType)) ++ Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType))
    val emptyObserved = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      org.apache.spark.sql.types.StructType(fields))
    fleetAdvance(spark, emptyObserved, model, params, stateRoot, modelName,
      seriesKeys, hooks, score, Some(fill), upperExtra = Some(closed), onBatch)
  }

  /** Shared fleet micro-batch core: optional per-key spine completion,
    * score, keyed scan with state resume, hooks, state persistence. */
  private def fleetAdvance(
      spark: org.apache.spark.sql.SparkSession,
      observed: DataFrame,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      seriesKeys: Seq[String],
      hooks: Seq[Hook],
      score: Option[DataFrame => DataFrame],
      fill: Option[Double],
      upperExtra: Option[Long],
      onBatch: DataFrame => Unit): Unit = {
    import graft.ml.FleetScan
    val scoreFn = score.getOrElse((df: DataFrame) => model.predict(df, "value"))
    val state = FleetScan.loadState(spark, stateRoot, modelName, seriesKeys)
    val series = fill match {
      case Some(f) => FleetScan.spineComplete(observed, state, seriesKeys,
        params.bucketInterval, fill = f, upperExtra = upperExtra)
      case None => observed
    }
    if (!series.isEmpty) {
      val scored = scoreFn(series)
        .withColumn("score", coalesce(col("score"), lit(0.0)))
      val (scanned, newState) = FleetScan.scanWithState(
        scored, state, seriesKeys,
        maxThreshold = params.maxThreshold,
        minThreshold = params.minThreshold,
        gracePeriodSec = params.gracePeriodSec)
      val cached = scanned.cache()
      try {
        Hooks.dispatch(cached, hooks, keyCols = seriesKeys)
        FleetScan.saveState(newState, stateRoot, modelName)
        onBatch(cached)
      } finally cached.unpersist()
    }
  }

  /** Start the solo stream. Each micro-batch of closed buckets is
    * SPINE-COMPLETED, extended with lag context and run through
    * [[EvalStep.run]] (score, scan resumed from [[StateStore]], hooks,
    * state); `onBatch` receives the scanned window as a local frame.
    *
    * Gap materialization (loudml/elastic.py:488-500):
    * append mode emits only NON-EMPTY closed windows, so a silent source
    * would produce no bucket and no anomaly. Every bucket between the
    * persisted high-water mark and the newest closed one is emitted,
    * missing ones synthesized with `fill`, in order before the resuming
    * bucket. This is race-free: append mode releases closed windows in
    * watermark order, so an absent bucket older than the newest released
    * one can only receive late (dropped) data. Synthesis starts after the
    * first observed bucket; a bucket at or below the high-water mark is
    * dropped as a late duplicate. TOTAL silence fires no micro-batch (an
    * event-time watermark needs events), so the caller's scheduler
    * closes it with [[tick]] — the engine owns event time, the caller
    * wall time. (A clock read inside `foreachBatch` could synthesize
    * buckets whose real data the watermark has not released yet.)
    *
    * Lag context: the trailing `contextSec` of emitted buckets persists
    * next to the run state and is prepended before scoring, so window
    * models see the lags [[ScheduledEval]] fetches and stream scores
    * match the batch path's. */
  def start(
      bucketed: DataFrame,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      hooks: Seq[Hook] = Nil,
      checkpointDir: String,
      trigger: Option[Trigger] = None,
      fill: Double = 0.0,
      onBatch: DataFrame => Unit = _ => ()): StreamingQuery = {
    val writer = bucketed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // one trigger's closed buckets: O(interval/bucketInterval) rows
        val observed = batch.collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) fill else r.getDouble(1)))
          .toMap
        advance(batch.sparkSession, model, params, stateRoot, modelName,
          hooks, fill, observed, upperExtra = None, onBatch)
      }
    trigger.foreach(writer.trigger)
    writer.start()
  }

  /** Close TOTALLY silent buckets by wall clock: every bucket closed at
    * `now` ([[EvalParams.closedEdge]]) above the persisted high-water mark
    * is synthesized with `fill` and run like a micro-batch. Call from the
    * owner's scheduler when the stream reports no progress; a no-op
    * before the first observed bucket or when event time caught up. Data
    * arriving later for a ticked bucket is dropped as late, the contract
    * `offset` gives the watermark. */
  def tick(
      spark: org.apache.spark.sql.SparkSession,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      hooks: Seq[Hook] = Nil,
      fill: Double = 0.0,
      now: Long,
      onBatch: DataFrame => Unit = _ => ()): Unit = {
    val closed = params.closedEdge(now) - params.bucketInterval
    advance(spark, model, params, stateRoot, modelName, hooks, fill,
      observed = Map.empty, upperExtra = Some(closed), onBatch)
  }

  /** The solo stream's part around [[EvalStep.run]]: spine-complete
    * `[hwm+bi, up]`, prepend the persisted lag context, and persist the
    * new high-water mark + trailing context. */
  private def advance(
      spark: org.apache.spark.sql.SparkSession,
      model: TrainedModel,
      params: EvalParams,
      stateRoot: String,
      modelName: String,
      hooks: Seq[Hook],
      fill: Double,
      observed: Map[Long, Double],
      upperExtra: Option[Long],
      onBatch: DataFrame => Unit): Unit = {
    val bi = params.bucketInterval
    val (hwm, hist) = BucketHistory.load(stateRoot, modelName)
    val upperOpt = (observed.keySet ++ upperExtra).reduceOption(_ max _)
    val lowerOpt = hwm.map(_ + bi)
      .orElse(observed.keySet.reduceOption(_ min _))
    (lowerOpt zip upperOpt).filter { case (lo, up) => lo <= up }
      .foreach { case (lo, up) =>
        val newRows = (lo to up by bi).map(b => b -> observed.getOrElse(b, fill))
        import spark.implicits._
        val series = (hist ++ newRows).toDF("bucket", "value")
        val scanned = EvalStep.run(model, series, "value", params, lo, up + bi,
          stateRoot, modelName, hooks)
        BucketHistory.save(stateRoot, modelName, up,
          (hist ++ newRows).filter(_._1 > up - params.contextSec))
        onBatch(scanned)
      }
  }
}

/** Streaming high-water mark + trailing lag-context buckets, persisted
  * next to the run state (`<root>/<model>/stream_history.json`) — tiny
  * (O(contextSec/bucketInterval) pairs), survives restarts like the
  * reference's saved run state. */
object BucketHistory {
  import graft.io.{Durable, Json}

  private def path(root: String, model: String) =
    java.nio.file.Paths.get(root, model, "stream_history.json")

  def save(root: String, model: String, hwm: Long,
      rows: Seq[(Long, Double)]): Unit = {
    val arr = rows.sortBy(_._1)
      .map { case (b, v) => s"[$b,$v]" }.mkString("[", ",", "]")
    Durable.write(path(root, model), s"""{"hwm":$hwm,"rows":$arr}""")
  }

  def load(root: String, model: String): (Option[Long], Seq[(Long, Double)]) =
    Durable.read(path(root, model)) match {
      case None => (None, Nil)
      case Some(text) =>
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(text)
        val rows = (j \ "rows") match {
          case JArray(xs) => xs.collect { case JArray(List(b, v)) =>
            Json.long(b).getOrElse(0L) -> Json.num(v).getOrElse(0.0)
          }
          case _ => Nil
        }
        (Json.long(j \ "hwm"), rows)
    }
}
