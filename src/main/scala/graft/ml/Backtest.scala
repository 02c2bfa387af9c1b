package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rolling-origin backtesting for the fleet forecaster — the evaluation
  * loop the reference leaves to the operator (train once, eyeball
  * `_forecast`): at each origin o the model trains on strictly-prior
  * data, forecasts the next `horizon`, and is scored against what
  * actually happened. This is the standard time-series cross-validation
  * scheme (forward chaining) — the only split that never leaks the
  * future into training.
  *
  * Scale shape: each origin's train is ONE distributed keyed job
  * ([[HoltWinters.train]] — per-key sequential fit inside
  * one keyed job) and its forecast a narrow projection; the origins loop on
  * the driver because backtests use a HANDFUL of origins by design
  * (3-10) — the per-origin frames union into one plan and the actuals
  * join + metric aggregation run as a single keyed job over all origins
  * at once.
  */
object Backtest {

  /** Per-(key, origin) forecast quality over `[origin, origin+horizon)`:
    * `n_buckets`, `mae`, `mape` (zero-actual buckets excluded), and
    * `coverage` (fraction of actuals inside the ±3σ band — calibration,
    * not just accuracy). Buckets with no actual observation are simply
    * absent from the join (scored on what happened, not on gaps). */
  def rollingOrigin(series: DataFrame, valueCol: String,
      keys: Seq[String], p: HoltWintersParams, origins: Seq[Long],
      horizon: Long): DataFrame = {
    require(origins.nonEmpty, "need at least one origin")
    require(horizon >= p.bucketInterval, "horizon must cover >= 1 bucket")
    val forecasts = origins.map { o =>
      val states = HoltWinters.train(
        series.filter(col("bucket") < o), valueCol, keys, p)
      HoltWinters.forecast(states, keys, o, o + horizon, p)
        .withColumn("origin", lit(o))
    }.reduce(_ unionByName _)
    val actuals = series.select(
      (keys.map(col) :+ col("bucket") :+
        col(valueCol).cast("double").as("__actual")): _*)
    val err = abs(col("__actual") - col("predicted"))
    forecasts.join(actuals, keys :+ "bucket")
      .groupBy((keys.map(col) :+ col("origin")): _*)
      .agg(
        count(lit(1)).as("n_buckets"),
        avg(err).as("mae"),
        avg(when(abs(col("__actual")) > 1e-12,
          err / abs(col("__actual")))).as("mape"),
        avg(when(col("__actual") >= col("lower") &&
          col("__actual") <= col("upper"), 1.0).otherwise(0.0))
          .as("coverage"))
  }
}
