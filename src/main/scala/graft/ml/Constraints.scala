package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forecast constraint test — `feature:low|high:threshold`
  * (/root/reference/loudml/misc.py:311-330 parses it;
  * /root/reference/loudml/worker.py:299-318 applies it to a forecast;
  * semantics per docs/reference/cli/forecast.asciidoc:34: the constraint
  * is met when the forecast metric exceeds (high) or falls below (low)
  * the threshold. `model.test_constraint` itself is absent from the OSS
  * reference — this implements the documented behavior.)
  */
object Constraints {

  final case class Constraint(feature: String, kind: String, threshold: Double)

  /** Parse `feature:low|high:threshold` with the reference's validation
    * errors (misc.py:311-330). */
  def parse(s: String): Constraint = s.split(":") match {
    case Array(feature, kind, threshold) =>
      if (kind != "low" && kind != "high")
        throw new IllegalArgumentException(
          "invalid threshold type for 'constraint' parameter")
      val t = try threshold.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          "invalid threshold for 'constraint' parameter")
      }
      Constraint(feature, kind, t)
    case _ =>
      throw new IllegalArgumentException(
        "invalid format for 'constraint' parameter")
  }

  /** First forecast bucket where the constraint is met, if any:
    * low → predicted < threshold, high → predicted > threshold.
    * The forecast frame is model-sized: its two columns are collected
    * and searched on the driver (no Spark job over a local forecast). */
  def firstViolation(
      forecast: DataFrame, c: Constraint,
      predictedCol: String = "predicted"): Option[(Long, Double)] = {
    val hit: Double => Boolean = c.kind match {
      case "low"  => _ < c.threshold
      case _      => _ > c.threshold
    }
    forecast.select(col("bucket"), col(predictedCol)).collect()
      .collect { case r if !r.isNullAt(1) && hit(r.getDouble(1)) =>
        (r.getLong(0), r.getDouble(1)) }
      .minByOption(_._1)
  }

  /** Top-N abnormal series keys from a keyed scan output — the
    * `get_top_abnormal_keys` endpoint that is `NotImplementedError` in
    * the OSS reference (/root/reference/loudml/bucket.py:279-286;
    * endpoint /root/reference/loudml/server.py:1605-1626). Ranks series
    * by max score then detection count; one groupBy over the scan
    * output (map-side partials), orderBy+limit — fine at any key
    * cardinality. */
  def topAbnormalKeys(scanned: DataFrame, seriesKeys: Seq[String],
      n: Int): DataFrame = {
    require(seriesKeys.nonEmpty, "topAbnormalKeys needs series keys")
    scanned.groupBy(seriesKeys.map(col): _*)
      .agg(
        max(col("score")).as("max_score"),
        sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy(col("max_score").desc, col("n_anomalies").desc)
      .limit(n)
  }
}
