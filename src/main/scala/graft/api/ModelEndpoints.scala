package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The model job endpoints `_train`, `_eval` and `_forecast`
  * (/root/reference/loudml/server.py:907-936, 1583-1602, 1677-1717),
  * each written once and returning the endpoint's JSON document.
  * [[HttpApi]] runs them as jobs and [[ScheduledJobs]] calls them on its
  * heartbeat — the reference's scheduler dispatches through its own HTTP
  * surface (server.py:156-176). All three accept POST only. */
object ModelEndpoints {
  /** Endpoint → the type its HTTP job record carries. */
  val jobTypes: Map[String, String] =
    Map("_train" -> "training", "_eval" -> "eval", "_forecast" -> "forecast")

  /** Run `endpoint` on `model`; `from` and `to` are required parameters. */
  def run(engine: Engine, model: String, endpoint: String,
      params: Map[String, String], nowEpoch: Long): String = {
    def param(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"invalid value for parameter '$k'"))
    endpoint match {
      case "_train" =>
        val n = engine.trainModel(model, param("from"), param("to"),
          nowEpoch = nowEpoch)
        JsonMethods.compact(JsonMethods.render(
          JObject("trained_buckets" -> JInt(n))))
      case "_eval" =>
        val scored = engine.evalModel(model, param("from"), param("to"),
          nowEpoch = nowEpoch)
        graft.io.Format.buckets(scored,
          Seq(engine.getModel(model).inputFeature.name))
      case "_forecast" =>
        val (fc, _) = engine.forecastModel(model, param("from"), param("to"),
          nowEpoch = nowEpoch)
        graft.io.Format.series(fc.withColumnRenamed("predicted", "value"),
          Seq("value"), predicted = false)
      case e => throw new IllegalArgumentException(
        s"no such model endpoint: $e")
    }
  }
}
