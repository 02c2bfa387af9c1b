package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ml.Constraints

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
      params: Map[String, String], nowEpoch: Long): String =
    prepare(engine, model, endpoint, params, nowEpoch)()

  /** Check what can be checked before any work starts — an unknown
    * endpoint, a malformed `_forecast` `constraint` — then return the
    * endpoint's body, which [[HttpApi]] runs as a job. */
  def prepare(engine: Engine, model: String, endpoint: String,
      params: Map[String, String], nowEpoch: Long): () => String = {
    def param(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"invalid value for parameter '$k'"))
    endpoint match {
      case "_train" => () => {
        val n = engine.trainModel(model, param("from"), param("to"),
          nowEpoch = nowEpoch)
        JsonMethods.compact(JsonMethods.render(
          JObject("trained_buckets" -> JInt(n))))
      }
      case "_eval" => () => {
        val scored = engine.evalModel(model, param("from"), param("to"),
          nowEpoch = nowEpoch)
        graft.io.Format.buckets(scored,
          Seq(engine.getModel(model).inputFeature.name))
      }
      case "_forecast" =>
        // `feature:low|high:threshold` (worker.py:299-318); the document
        // gains a "constraint" field only when the request has one
        val constraint = params.get("constraint").map(Constraints.parse)
        () => {
          val (fc, hit) = engine.forecastModel(model, param("from"),
            param("to"), params.get("constraint"), nowEpoch = nowEpoch)
          val doc = graft.io.Format.seriesDoc(
            fc.withColumnRenamed("predicted", "value"), Seq("value"))
          JsonMethods.compact(JsonMethods.render(constraint.fold(doc) { c =>
            JObject(doc.obj :+ ("constraint" -> hit.fold[JValue](JNull) {
              case (ts, v) => JObject("feature" -> JString(c.feature),
                "type" -> JString(c.kind), "threshold" -> JDouble(c.threshold),
                "timestamp" -> JLong(ts), "predicted" -> JDouble(v))
            }))
          }))
        }
      case e => throw new IllegalArgumentException(
        s"no such model endpoint: $e")
    }
  }
}
