package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{AnomalyScan, Hook, Hooks, RunState, TrainedModel}

/** Scheduled near-real-time evaluation — the reference's production mode
  * (`_start`, /root/reference/loudml/server.py:1559-1580): every
  * `interval` seconds, predict + detect over the window
  * `[now − offset − interval, now − offset[`, where `offset` is the
  * allowed data latency (the watermark analog) and `interval` the trigger
  * period. The anomaly run state persists between invocations
  * (/root/reference/loudml/worker.py:255-263 saves it after every run;
  * /root/reference/loudml/server.py:1821-1843 restores scheduled jobs at
  * boot), so an anomaly spanning two eval windows fires exactly one start
  * and one end.
  *
  * This is deliberately micro-batch (the reference is a scheduler POSTing
  * `_eval`, not a stream processor): [[evalOnce]] is one trigger firing,
  * and the caller's scheduler — cron, Airflow, a Structured Streaming
  * `foreachBatch` with `Trigger.ProcessingTime(interval)` — owns the
  * clock. Everything inside is plan-building plus O(window) collects
  * (event rows + the scanned window): no data-scale driver work.
  */
final case class EvalParams(
    interval: Long,               // trigger period, model.interval
    offset: Long,                 // data-latency allowance (watermark)
    bucketInterval: Long,
    maxThreshold: Double = 99.7,
    minThreshold: Double = 68.0,
    gracePeriodSec: Long = 0L,
    contextSec: Long = 2 * 86400L) // lag context fetched before the window

class ScheduledEval(
    model: TrainedModel,
    fetch: (Long, Long) => DataFrame, // [from,to[ → spine-complete series
    params: EvalParams,
    stateRoot: String,
    modelName: String,
    hooks: Seq[Hook] = Nil,
    valueCol: String = "value") {

  /** One trigger firing at wall-clock `now`: score the eval window,
    * resume the hysteresis scan from the persisted [[RunState]], fire
    * hooks for start/end events, persist the new state, return the
    * scanned window. */
  def evalOnce(now: Long): DataFrame = {
    val to = alignFloor(now - params.offset)
    val from = to - alignCeil(params.interval)
    val scored = model.predict(fetch(from - params.contextSec, to), valueCol)
      .filter(col("bucket") >= from && col("bucket") < to)
      .withColumn("score", coalesce(col("score"), lit(0.0)))
    val before = StateStore.load(stateRoot, modelName)
    val scanned = AnomalyScan.scan(scored,
      maxThreshold = params.maxThreshold, minThreshold = params.minThreshold,
      gracePeriodSec = params.gracePeriodSec, initial = before)
      .cache() // scanned feeds events + state + caller; tiny (one window)
    try {
      Hooks.dispatch(scanned, hooks, valueCol)
      // hand the caller a LOCAL copy (one eval window — O(buckets) rows)
      // and release the cached plan: a scheduled loop must not accumulate
      // one pinned storage-memory block per trigger forever; the new run
      // state folds over the same rows, no extra job
      val rows = scanned.collect()
      StateStore.save(stateRoot, modelName, RunState.fold(rows, before))
      scanned.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), scanned.schema)
    } finally scanned.unpersist()
  }

  private def alignFloor(ts: Long): Long =
    ts - Math.floorMod(ts, params.bucketInterval)
  private def alignCeil(d: Long): Long = {
    val r = Math.floorMod(d, params.bucketInterval)
    if (r == 0) d else d + params.bucketInterval - r
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
