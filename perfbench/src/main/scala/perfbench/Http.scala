package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Client-side view of one daemon job: POST until `done` (or another
  * terminal state) is first seen by a poll. Times in ms. */
final case class JobTiming(
    latencyMs: Double,  // POST sent → poll first sees a terminal state
    submitMs: Double,   // POST round trip (202 + job id)
    waitMs: Double,     // 202 → first poll that no longer sees `waiting`
    runMs: Double,      // that poll → terminal state seen
    polls: Int,
    state: String,
    result: JValue,
    error: String)

/** A blocking HTTP client for the daemon's job endpoints. */
final class Http(base: String, pollMs: Long = 5) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def send(method: String, path: String, body: String = ""): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** POST a job-shaped endpoint and poll it to a terminal state. */
  def job(path: String, timeoutMs: Long = 120000): JobTiming = {
    val t0 = Clock.nowMs()
    val (code, body) = send("POST", path)
    val t1 = Clock.nowMs()
    if (code != 202)
      return JobTiming(t1 - t0, t1 - t0, 0, 0, 0, s"http-$code", JNothing, body)
    val id = body.trim.stripPrefix("\"").stripSuffix("\"")
    var polls = 0
    var runningAt = -1.0
    while (true) {
      val (pc, pb) = send("GET", s"/jobs/$id")
      polls += 1
      val now = Clock.nowMs()
      if (pc != 200)
        return JobTiming(now - t0, t1 - t0, 0, 0, polls, s"http-$pc", JNothing, pb)
      val j = JsonMethods.parse(pb)
      val state = (j \ "state") match { case JString(s) => s; case _ => "?" }
      if (state != "waiting" && runningAt < 0) runningAt = now
      if (state != "waiting" && state != "running") {
        val err = (j \ "error") match { case JString(s) => s; case _ => "" }
        return JobTiming(now - t0, t1 - t0, runningAt - t1, now - runningAt,
          polls, state, j \ "result", err)
      }
      if (now - t0 > timeoutMs)
        return JobTiming(now - t0, t1 - t0, 0, 0, polls, "timeout", JNothing, "")
      Thread.sleep(pollMs)
    }
    throw new IllegalStateException("unreachable")
  }
}
