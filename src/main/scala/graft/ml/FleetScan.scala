package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fleet-scale cross-run anomaly state — the keyed generalization of
  * [[graft.streaming.StateStore]]'s one-JSON-per-model run state
  * (/root/reference/loudml/worker.py:255-263): the reference monitors one
  * series per model, so its state is a scalar; a fleet monitoring
  * millions of series (one profile applied per host/device) needs the
  * SAME hysteresis guarantee — an anomaly spanning two eval windows fires
  * exactly one start per series — with state that stays DISTRIBUTED.
  *
  * Design: state is a keyed table (`seriesKeys ++ (open, last_end_ts,
  * episode_max)`, one row per series — O(#series), parquet-persisted),
  * joined onto the scored frame so each key's scan resumes from its
  * state row ([[AnomalyScan.scan]] `initFromCols`); the new state is
  * recovered per key with one aggregation over the scan output and
  * full-outer-merged with the previous table so silent series carry
  * their state (and their grace anchor) forward. Everything shuffles by
  * the series key — the same partitioning the scan itself needs — and
  * nothing is ever collected to the driver.
  *
  * Why not `flatMapGroupsWithState`: scoring is model-driven
  * (`TrainedModel.predict` is a DataFrame transform — the profile join +
  * window lags cannot run row-at-a-time inside a state function without
  * duplicating the model), and this shape works identically under batch
  * replay (ScheduledEval-style catch-up) and `foreachBatch` streaming,
  * with state inspectable as a plain table. The trade is managing
  * persistence ourselves — one parquet overwrite per trigger, atomic via
  * versioned subdirs like [[graft.io.ModelStore]].
  */
object FleetScan {

  /** Empty state table for `seriesKeys` of type string (the common case);
    * for other key types, derive from a scored frame's schema instead.
    * `hwm` is each series' newest scanned bucket — the per-key
    * high-water mark that [[spineComplete]] fills from. */
  def emptyState(spark: SparkSession, seriesKeys: Seq[String]): DataFrame = {
    val fields = seriesKeys.map(k =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.StringType)) ++ Seq(
      org.apache.spark.sql.types.StructField("open",
        org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("last_end_ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("episode_max",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hwm",
        org.apache.spark.sql.types.LongType))
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(fields))
  }

  /** Per-key gap materialization — the fleet analog of
    * [[graft.streaming.StreamingEval]]'s spine completion, fully
    * distributed: for each series, every bucket in
    * `[hwm + interval, max(observed bucket for the key, upperExtra)]`
    * is emitted, missing ones synthesized at `fill` — so a series that
    * goes silent mid-fleet still produces the count=0 buckets its model
    * needs to alarm on. `upperExtra` (wall-clock closed bucket) extends
    * the spine for keys with NO rows this trigger — the fleet tick; keys
    * with no prior hwm start at their first observed bucket (a series
    * never seen emits nothing from clock alone).
    *
    * Shapes: one groupBy over the observed batch (per-key bounds), a
    * join against the O(#series) state table, `sequence`+`explode` per
    * key (bounded by `maxGapBuckets` so one decommissioned host cannot
    * explode a year of fill rows into every trigger), and a left join of
    * the spine back to the observations — everything keyed by series. */
  def spineComplete(
      observed: DataFrame,
      state: DataFrame,
      seriesKeys: Seq[String],
      bucketInterval: Long,
      valueCol: String = "value",
      bucketCol: String = "bucket",
      fill: Double = 0.0,
      upperExtra: Option[Long] = None,
      maxGapBuckets: Int = 10000): DataFrame = {
    val bi = bucketInterval
    val bounds = observed.groupBy(seriesKeys.map(col): _*)
      .agg(min(col(bucketCol)).as("__omin"), max(col(bucketCol)).as("__omax"))
    val withState = state.select((seriesKeys.map(col) :+ col("hwm")): _*)
      .join(bounds, seriesKeys, "full_outer")
      .withColumn("__lo", coalesce(col("hwm") + bi, col("__omin")))
      .withColumn("__up", upperExtra
        .map(u => greatest(coalesce(col("__omax"), lit(Long.MinValue)), lit(u)))
        .getOrElse(col("__omax")))
      .filter(col("__lo").isNotNull && col("__up").isNotNull &&
        col("__lo") <= col("__up"))
      .withColumn("__up", least(col("__up"),
        col("__lo") + lit(maxGapBuckets.toLong * bi)))
    val spine = withState.select((seriesKeys.map(col) :+
      explode(sequence(col("__lo"), col("__up"), lit(bi))).as(bucketCol)): _*)
    spine.join(observed, seriesKeys :+ bucketCol, "left")
      .withColumn(valueCol, coalesce(col(valueCol), lit(fill)))
  }

  /** Keyed scan resuming each series from `state`; returns
    * `(scanned, newState)`. `scanned` carries the usual
    * [[AnomalyScan.scan]] markers; `newState` replaces `state` for the
    * next run (persist it with [[saveState]]). Neither is an action —
    * both are plans; `newState` must be materialized (saved) before
    * `state`'s backing store is overwritten. */
  def scanWithState(
      scored: DataFrame,
      state: DataFrame,
      seriesKeys: Seq[String],
      scoreCol: String = "score",
      bucketCol: String = "bucket",
      maxThreshold: Double = 99.7,
      minThreshold: Double = 68.0,
      gracePeriodSec: Long = 0L): (DataFrame, DataFrame) = {
    require(seriesKeys.nonEmpty, "fleet scan requires seriesKeys")
    // tolerate pre-hwm state tables (hwm joined the schema later)
    val stateFull =
      if (state.columns.contains("hwm")) state
      else state.withColumn("hwm", lit(null).cast("long"))
    val init = stateFull.select(
      (seriesKeys.map(col) :+ col("open").as("__init_open") :+
        col("last_end_ts").as("__init_last_end") :+
        col("episode_max").as("__init_episode_max")): _*)
    val joined = scored.join(init, seriesKeys, "left")
    val scanned = AnomalyScan.scan(joined, scoreCol, bucketCol,
      maxThreshold, minThreshold, gracePeriodSec,
      seriesKeys = seriesKeys, initFromCols = true)
      .drop("__init_open", "__init_last_end", "__init_episode_max")

    // per-key post-state, one aggregation: the latest MARKED row decides
    // open/episode_max (a null marker can only occur while closed, so the
    // latest marker is authoritative), the latest "end" bucket advances
    // the grace anchor
    val upd = scanned.groupBy(seriesKeys.map(col): _*).agg(
      count(lit(1)).as("__n"), // presence marker for the full-outer merge
      max(when(col("anomaly").isNotNull,
        struct(col(bucketCol).as("b"), col("anomaly").as("m"),
          col("episode_max").as("e")))).as("__last"),
      max(when(col("anomaly") === "end", col(bucketCol))).as("__end"),
      max(col(bucketCol)).as("__maxb"))
    // never null: false && null = false when __last is null
    val uOpen = col("u.__last").isNotNull &&
      (col("u.__last.m") === "start" || col("u.__last.m") === "ongoing")
    val present = col("u.__n").isNotNull
    val newState = stateFull.as("p")
      .join(upd.as("u"), seriesKeys, "full_outer")
      .select((seriesKeys.map(col) :+
        when(present, uOpen)
          .otherwise(coalesce(col("p.open"), lit(false))).as("open") :+
        coalesce(col("u.__end"), col("p.last_end_ts")).as("last_end_ts") :+
        when(present, when(uOpen, col("u.__last.e")).otherwise(lit(0.0)))
          .otherwise(coalesce(col("p.episode_max"), lit(0.0)))
          .as("episode_max") :+
        coalesce(col("u.__maxb"), col("p.hwm")).as("hwm")): _*)
    (scanned, newState)
  }

  /** Persist the state table as `<root>/<name>/vN` behind `ACTIVE`
    * ([[graft.io.Durable.Versioned]], the [[graft.io.ModelStore]]
    * protocol) — the previous version stays readable until the pointer
    * flips. Superseded versions are pruned AFTER the flip: the per-run
    * save must not accrete v1..vN forever under a long-lived root (the
    * resume gate re-saves on every run over one corpus dir). A reader
    * that loaded the OLD pointer just before the flip and is still
    * mid-read races the prune — single-writer-at-a-time per
    * (root, name) is the protocol contract; concurrent writers should
    * key the root by run. */
  def saveState(state: DataFrame, root: String, name: String): Int = {
    val store = versions(root, name)
    val v = store.commit(dir => state.write.mode("overwrite").parquet(dir.toString))
    store.pruneBelow(v)
    v
  }

  /** Load the ACTIVE state version, or an empty table if none saved.
    * The load is EAGER (localCheckpoint): [[saveState]] prunes
    * superseded version dirs after its flip, so a lazy plan over the
    * loaded files could lose its backing store to the NEXT save (a
    * cache-partition recompute would then FileNotFound on the pruned
    * dir). State tables are index-sized — a few columns per series
    * key — so pinning them is one tiny job per load. */
  def loadState(spark: SparkSession, root: String, name: String,
      seriesKeys: Seq[String]): DataFrame = {
    val store = versions(root, name)
    store.active match {
      case None => emptyState(spark, seriesKeys)
      case Some(v) =>
        spark.read.parquet(store.path(v).toString).localCheckpoint(true)
    }
  }

  private def versions(root: String, name: String) =
    new graft.io.Durable.Versioned(java.nio.file.Paths.get(root, name), "v")
}
