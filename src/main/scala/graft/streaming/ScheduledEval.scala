package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{AnomalyScan, Hook, Hooks, Local, RunState, TrainedModel}

/** A model's eval settings (loudml/model.py:207-264):
  * trigger period, allowed data latency, thresholds, grace, the lag
  * context fetched before a window and the input feature's
  * `anomaly_type`. */
final case class EvalParams(
    interval: Long,               // trigger period, model.interval
    offset: Long,                 // data-latency allowance (watermark)
    bucketInterval: Long,
    maxThreshold: Double = 99.7,
    minThreshold: Double = 68.0,
    gracePeriodSec: Long = 0L,
    contextSec: Long = 2 * 86400L, // lag context fetched before the window
    anomalyType: String = "low_high") { // scored direction of the input feature

  /** The watermark at wall clock `now`: `now − offset` floored to the
    * bucket grid. Every bucket below it is closed (`b + bucketInterval ≤
    * now − offset`, the reference scheduler's window rule,
    * loudml/server.py:1559-1580). */
  def closedEdge(now: Long): Long = {
    val n = now - offset
    n - Math.floorMod(n, bucketInterval)
  }
}

/** Scheduled near-real-time evaluation — the reference's `_start`
  * (loudml/server.py:1559-1580): each trigger runs
  * [[EvalStep.run]] over `[closedEdge(now) − interval, closedEdge(now)[`,
  * resuming the persisted run state, so an anomaly spanning two eval
  * windows fires exactly one start and one end. The caller's scheduler
  * (cron, a `foreachBatch`, [[graft.api.ScheduledJobs]]) owns the clock;
  * [[evalOnce]] is one firing. `model` is evaluated on every firing, so
  * a caller that resolves it there (as [[graft.api.Engine.startScheduled]]
  * does) scores each firing with the checkpoint active at that time. */
class ScheduledEval(
    model: => TrainedModel,
    fetch: (Long, Long) => DataFrame, // [from,to[ → spine-complete series
    params: EvalParams,
    stateRoot: String,
    modelName: String,
    hooks: Seq[Hook] = Nil,
    valueCol: String = "value") {

  /** One trigger firing at wall-clock `now`; returns the scanned window
    * as a local frame. */
  def evalOnce(now: Long): DataFrame = {
    val to = params.closedEdge(now)
    val from = to - alignCeil(params.interval)
    EvalStep.run(model, fetch(from - params.contextSec, to), valueCol, params,
      from, to, stateRoot, modelName, hooks)
  }

  private def alignCeil(d: Long): Long = {
    val r = Math.floorMod(d, params.bucketInterval)
    if (r == 0) d else d + params.bucketInterval - r
  }
}

/** The single-series eval step — the reference scores a window with the
  * same `predict` + `detect_anomalies` code on every path
  * (loudml/donut.py:1477-1578): `_eval`
  * ([[graft.api.Engine.evalModel]]) uses the stateless [[predict]] +
  * [[scan]]; `_start` ([[ScheduledEval]]) and the solo stream
  * ([[StreamingEval.start]], [[StreamingEval.tick]]) use the stateful
  * [[run]]. The fleet stream keeps its own distributed core: its run
  * state is a keyed parquet table ([[graft.ml.FleetScan]]). */
object EvalStep {

  /** Score `series` with the input feature `feature` and the params'
    * anomaly type; keep `[from, to[`. The series (O(buckets)) is
    * collected once, here: a model that scores by projections and
    * driver-side kernels then starts no further Spark job
    * ([[graft.ml.Local]]). */
  def predict(model: TrainedModel, series: DataFrame, feature: String,
      params: EvalParams, from: Long, to: Long): DataFrame =
    model.predict(Local.collect(series), feature, params.anomalyType)
      .filter(col("bucket") >= from && col("bucket") < to)

  /** Hysteresis scan of a predicted window resumed from `initial`; a
    * bucket without a score scans as 0. */
  def scan(predicted: DataFrame, params: EvalParams,
      initial: RunState = RunState.empty): DataFrame =
    AnomalyScan.scan(
      predicted.withColumn("score", coalesce(col("score"), lit(0.0))),
      maxThreshold = params.maxThreshold, minThreshold = params.minThreshold,
      gracePeriodSec = params.gracePeriodSec, initial = initial)

  /** The stateful step: predict and scan `[from, to[` from the persisted
    * [[RunState]], collect the window once (O(buckets) rows), fire hooks
    * from those rows in bucket order, persist the state folded over the
    * same rows, and return them as a local frame: the hooks and the
    * state start no Spark job, and nothing stays cached per trigger. */
  def run(model: TrainedModel, series: DataFrame, feature: String,
      params: EvalParams, from: Long, to: Long, stateRoot: String,
      modelName: String, hooks: Seq[Hook]): DataFrame = {
    val before = StateStore.load(stateRoot, modelName)
    val scanned = scan(predict(model, series, feature, params, from, to),
      params, before)
    // a single-series scan runs in bucket order, so the collected rows
    // are in bucket order
    val rows = scanned.collect()
    Hooks.fire(rows.iterator, hooks, feature)
    StateStore.save(stateRoot, modelName, RunState.fold(rows, before))
    Local.frame(scanned.sparkSession, rows.toSeq, scanned.schema)
  }
}

/** Per-model anomaly run-state persistence — the `save_state` analog
  * (loudml/worker.py:255-263 via loudml/filestorage.py). One tiny JSON
  * file per model under `<root>/<model>/run_state.json`, replaced
  * atomically ([[graft.io.Durable.write]]). */
object StateStore {
  import graft.io.{Durable, Json}

  private def path(root: String, model: String) =
    java.nio.file.Paths.get(root, model, "run_state.json")

  def save(root: String, model: String, st: RunState): Unit = {
    val lastEnd = st.lastEndTs.map(_.toString).getOrElse("null")
    Durable.write(path(root, model),
      s"""{"open":${st.open},"last_end_ts":$lastEnd,""" +
        s""""episode_max":${st.episodeMax}}""")
  }

  def load(root: String, model: String): RunState =
    Durable.read(path(root, model)).fold(RunState.empty) { text =>
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(text)
      RunState(
        open = (j \ "open") match { case JBool(b) => b; case _ => false },
        lastEndTs = Json.long(j \ "last_end_ts"),
        episodeMax = Json.num(j \ "episode_max").getOrElse(0.0))
    }

  def clear(root: String, model: String): Unit =
    java.nio.file.Files.deleteIfExists(path(root, model))
}
