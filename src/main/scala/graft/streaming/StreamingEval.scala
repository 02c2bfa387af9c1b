package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Metrics
import graft.ml.{AnomalyScan, Hook, Hooks, RunState, TrainedModel}

/** Structured Streaming variant of the near-real-time eval (SURVEY §2.9):
  * where [[ScheduledEval]] replays the reference's scheduler-POSTs-_eval
  * micro-batching verbatim, this maps the same semantics onto Spark's
  * native streaming primitives —
  *
  *  - model `interval` (trigger cadence, loudml/donut.py:502,519-520) →
  *    `Trigger.ProcessingTime(interval)`;
  *  - model `offset` (allowed data latency, donut.py:503,521) →
  *    `withWatermark(offset)`: a bucket emits once the watermark passes
  *    its end, exactly the "don't evaluate a window that late data may
  *    still change" guard the reference implements by evaluating
  *    `[now-offset-interval, now-offset[`;
  *  - the incomplete-last-bucket caveat (elastic.py:573-603's
  *    commented-out interpolation) disappears: append-mode windowed
  *    aggregation only ever emits closed buckets;
  *  - anomaly run state across micro-batches → the same persisted
  *    [[StateStore]] the batch path uses, so an anomaly spanning two
  *    micro-batches fires exactly one start and one end, and batch and
  *    streaming paths cannot drift semantically.
  *
  * The scan runs in `foreachBatch` rather than `flatMapGroupsWithState`:
  * each emitted micro-batch holds a handful of closed buckets
  * (model-sized), the state machine is the SAME code as the batch path,
  * and hooks/state persistence happen exactly once per batch. The
  * heavy lifting — the windowed aggregation over the raw point stream —
  * stays fully distributed with map-side partial aggregation.
  */
object StreamingEval {

  /** Tumbling-window bucketed aggregation over a streaming points frame:
    * epoch-aligned `interval`-second windows labeled by LEFT edge, late
    * data admitted up to `offsetSec`. Append mode ⇒ only closed buckets
    * flow downstream. */
  def bucketize(points: DataFrame, tsCol: String, valueCol: String,
      interval: Long, offsetSec: Long, metric: String = "avg"): DataFrame =
    points
      .withWatermark(tsCol, s"$offsetSec seconds")
      .groupBy(window(col(tsCol), s"$interval seconds"))
      // approx tier: single-pass mergeable aggregates (the streaming
      // setting is the 100 TB setting)
      .agg(Metrics.agg(metric, col(valueCol), exact = false)
        .cast("double").as("value"))
      .select(unix_timestamp(col("window.start")).as("bucket"), col("value"))

  /** Keyed variant of [[bucketize]]: per-(series, window) tumbling
    * aggregation — the fleet input shape. Same watermark/append
    * semantics; the shuffle is keyed by (series ++ window), so a million
    * series aggregate in parallel with map-side partials. */
  def bucketizeKeyed(points: DataFrame, tsCol: String, valueCol: String,
      seriesKeys: Seq[String], interval: Long, offsetSec: Long,
      metric: String = "avg"): DataFrame =
    points
      .withWatermark(tsCol, s"$offsetSec seconds")
      .groupBy((seriesKeys.map(col) :+
        window(col(tsCol), s"$interval seconds")): _*)
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
    val bi = params.bucketInterval
    val n = now - params.offset
    val closed = n - Math.floorMod(n, bi) - bi
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

  /** Start the scored + scanned stream. Each micro-batch of closed
    * buckets is SPINE-COMPLETED, extended with lag context, scored by
    * `model`, scanned with the hysteresis machine resumed from
    * [[StateStore]], hooks fire on start/end, the new state persists, and
    * `onBatch` receives the scanned (cached, small) frame.
    *
    * Gap materialization (the batch path's empty-bucket semantics,
    * /root/reference/loudml/elastic.py:488-500): append-mode windowed
    * aggregation emits only NON-EMPTY closed windows, so without spine
    * completion a silent source — the classic "traffic dropped to zero"
    * anomaly that gap materialization exists to catch — produces no
    * buckets and no anomaly. Here every bucket between the persisted
    * high-water mark and the newest watermark-closed bucket is emitted,
    * missing ones synthesized with `fill` (the count=0 / default-fill
    * analog): when data resumes after a gap, the skipped buckets are
    * filled retroactively IN ORDER before the resuming bucket, so the
    * hysteresis machine sees the outage. This is race-free: append mode
    * releases every closed window with data in watermark order, so a
    * bucket absent from the batch output yet older than the newest
    * released one can never receive data later (it would be dropped as
    * late). Synthesis starts only after the first observed bucket (a
    * model that never saw data emits nothing), and a bucket at-or-below
    * the high-water mark is dropped as a late duplicate.
    *
    * TOTAL silence never fires `foreachBatch` at all (an event-time
    * watermark cannot advance without events), so it is closed by the
    * caller's scheduler calling [[tick]] with the wall clock — the same
    * ownership split as [[ScheduledEval]]: the engine owns event-time,
    * the caller owns wall-time. (A wall clock consulted INSIDE
    * `foreachBatch` would be wrong: a data micro-batch can fire with
    * empty OUTPUT before the watermark-advance batch releases the rows,
    * and clock-filling there would synthesize buckets whose real data is
    * still pending, then drop that data as late.)
    *
    * Lag context: the trailing `contextSec` of emitted buckets persists
    * next to the run state and is prepended before `predict`, then
    * filtered back out — so window models see their phase-aligned lags
    * and streaming scores match the batch path's ([[ScheduledEval]]
    * fetches the same context) instead of imputing every lag to slot
    * means. */
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

  /** Close TOTALLY silent buckets by wall clock: every bucket `b` with
    * `b + bucketInterval ≤ now − offset` (the reference scheduler's
    * window rule, loudml/server.py:1559-1580) above the persisted
    * high-water mark is synthesized with `fill` and pushed through the
    * same score → scan → hooks → state path as a streaming micro-batch.
    * Call from the owner's scheduler when the stream reports no progress
    * (e.g. once per `interval`); a no-op before the first observed bucket
    * or when event-time already caught up. Data arriving later for a
    * ticked bucket is dropped as late — the same contract `offset` gives
    * the watermark. */
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
    val bi = params.bucketInterval
    val n = now - params.offset
    val closed = n - Math.floorMod(n, bi) - bi
    advance(spark, model, params, stateRoot, modelName, hooks, fill,
      observed = Map.empty, upperExtra = Some(closed), onBatch)
  }

  /** Shared micro-batch core: spine-complete `[hwm+bi, up]`, prepend the
    * persisted lag context, score, scan from persisted state, dispatch
    * hooks, persist state + trailing context. */
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
        val scored = model.predict(series, "value")
          .filter(col("bucket") >= lo)
          .withColumn("score", coalesce(col("score"), lit(0.0)))
        val before = StateStore.load(stateRoot, modelName)
        val scanned = AnomalyScan.scan(scored,
          maxThreshold = params.maxThreshold,
          minThreshold = params.minThreshold,
          gracePeriodSec = params.gracePeriodSec,
          initial = before).cache()
        try {
          Hooks.dispatch(scanned, hooks)
          StateStore.save(stateRoot, modelName, RunState.fromScan(scanned, before))
          BucketHistory.save(stateRoot, modelName, up,
            (hist ++ newRows).filter(_._1 > up - params.contextSec))
          onBatch(scanned)
        } finally scanned.unpersist()
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

  def clear(root: String, model: String): Unit =
    java.nio.file.Files.deleteIfExists(path(root, model))
}
