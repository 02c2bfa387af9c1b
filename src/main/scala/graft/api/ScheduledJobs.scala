package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The Scheduled Jobs API
  * (/root/reference/docs/reference/api/scheduled_jobs.asciidoc;
  * /root/reference/loudml/server.py:129-176, `get_schedule` /
  * `daemon_exec_scheduled_job`): named recurring API calls — "train every
  * day at 01:00", "forecast the next day every hour" — stored as
  * `{name, method, relative_url, params, every: {count, unit, at}}`.
  *
  * The reference's daemon maps `every` onto the Python `schedule` library
  * and fires HTTP requests at itself; here the library IS the server, so
  * [[runDue]] routes `method` + `relative_url` straight to the body the
  * HTTP endpoint runs ([[ModelEndpoints]]) and gets the same JSON
  * document back. The cadence semantics ([[nextRun]]) mirror `schedule`:
  *
  *  - interval units `second(s)/minute(s)/hour(s)/day(s)/week(s)`: next
  *    run = previous (or registration) + count·unit;
  *  - weekday names (`monday`…`sunday`): weekly on that day;
  *  - `at` pins the phase, with the same formats the reference documents
  *    (`HH:MM:SS` / `HH:MM` for days and weekdays, `MM:SS` / `:MM` for
  *    hours, `:SS` for minutes): next run = first matching wall time
  *    strictly after the anchor. Times are UTC (the engine's session
  *    timezone).
  *
  * Jobs persist as one JSON file each under
  * `<storageRoot>/scheduled_jobs/` and reload on construction — the
  * boot-restore behavior of the reference's config-declared jobs
  * (config.py:35-37, server.py restore path).
  *
  * The scheduler loop itself (a thread calling `runDue(now)` every
  * second) is left to the host — same contract as
  * [[graft.streaming.ScheduledEval]]: the caller owns the clock, which
  * keeps every cadence decision testable.
  */
final case class Every(count: Int, unit: String, at: Option[String])

final case class ScheduledJob(
    name: String,
    method: String,
    relativeUrl: String,
    params: Map[String, String],
    every: Every) {

  def toJson: String = {
    val p = params.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val at = every.at.map(a => s""","at":"$a"""").getOrElse("")
    s"""{"name":"$name","method":"$method","relative_url":"$relativeUrl",""" +
      s""""params":{$p},""" +
      s""""every":{"count":${every.count},"unit":"${every.unit}"$at}}"""
  }
}

object ScheduledJob {
  private val weekdays = Seq("monday", "tuesday", "wednesday", "thursday",
    "friday", "saturday", "sunday")
  private val intervalUnits = Map(
    "second" -> 1L, "seconds" -> 1L, "minute" -> 60L, "minutes" -> 60L,
    "hour" -> 3600L, "hours" -> 3600L, "day" -> 86400L, "days" -> 86400L,
    "week" -> 604800L, "weeks" -> 604800L)

  def parse(json: String): ScheduledJob = {
    val j = JsonMethods.parse(json)
    def s(v: JValue, what: String): String = v match {
      case JString(x) => x
      case _ => throw new IllegalArgumentException(s"scheduled job needs $what")
    }
    val unit = s(j \ "every" \ "unit", "every.unit").toLowerCase
    require(intervalUnits.contains(unit) || weekdays.contains(unit),
      s"unknown schedule unit: $unit")
    val count = graft.io.Json.long(j \ "every" \ "count").fold(1)(_.toInt)
    require(count >= 1, "every.count must be >= 1")
    ScheduledJob(
      name = s(j \ "name", "name"),
      method = s(j \ "method", "method").toLowerCase,
      relativeUrl = s(j \ "relative_url", "relative_url"),
      params = (j \ "params") match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v
          case (k, JInt(v)) => k -> v.toString
          case (k, JLong(v)) => k -> v.toString
          case (k, JDouble(v)) => k -> v.toString
          case (k, JBool(v)) => k -> v.toString
        }.toMap
        case _ => Map.empty
      },
      every = Every(count, unit,
        (j \ "every" \ "at") match { case JString(a) => Some(a); case _ => None }))
  }

  /** First fire time strictly after `anchor` (epoch seconds, UTC). */
  def nextRun(job: ScheduledJob, anchor: Long): Long = {
    val e = job.every
    val at = e.at
    if (weekdays.contains(e.unit)) {
      // weekly on that day; `at` defaults to the anchor's wall time
      val targetDow = weekdays.indexOf(e.unit) + 1 // ISO: monday=1
      val (hh, mm, ss) = at.map(parseAt(_, "day")).getOrElse(wallTime(anchor))
      var t = dayStart(anchor) + hh * 3600 + mm * 60 + ss
      while (isoDow(t) != targetDow || t <= anchor) t += 86400
      t
    } else at match {
      case None => anchor + e.count * ScheduledJob.intervalUnits(e.unit)
      case Some(a) =>
        val base = e.unit.stripSuffix("s")
        val (hh, mm, ss) = parseAt(a, base)
        base match {
          case "day" =>
            var t = dayStart(anchor) + hh * 3600 + mm * 60 + ss
            while (t <= anchor) t += e.count * 86400
            t
          case "hour" =>
            var t = anchor - Math.floorMod(anchor, 3600L) + mm * 60 + ss
            while (t <= anchor) t += e.count * 3600
            t
          case "minute" =>
            var t = anchor - Math.floorMod(anchor, 60L) + ss
            while (t <= anchor) t += e.count * 60
            t
          case u => throw new IllegalArgumentException(
            s"'at' makes no sense for unit $u (reference doc: format must " +
              "match the repeat unit)")
        }
    }
  }

  /** `HH:MM:SS` / `HH:MM` (day scale), `MM:SS` / `:MM` (hour scale),
    * `:SS` (minute scale) — the documented formats; the `:MM` vs `:SS`
    * ambiguity resolves by unit, as the reference doc specifies. */
  private def parseAt(a: String, baseUnit: String): (Int, Int, Int) = {
    val parts = a.split(":", -1)
    (baseUnit, parts.toSeq) match {
      case ("day", Seq(h, m)) => (h.toInt, m.toInt, 0)
      case ("day", Seq(h, m, s)) => (h.toInt, m.toInt, s.toInt)
      case ("hour", Seq("", m)) => (0, m.toInt, 0)
      case ("hour", Seq(m, s)) if m.nonEmpty => (0, m.toInt, s.toInt)
      case ("minute", Seq("", s)) => (0, 0, s.toInt)
      case _ => throw new IllegalArgumentException(
        s"bad 'at' time '$a' for unit $baseUnit")
    }
  }

  private def dayStart(t: Long): Long = t - Math.floorMod(t, 86400L)
  private def wallTime(t: Long): (Int, Int, Int) = {
    val s = Math.floorMod(t, 86400L)
    ((s / 3600).toInt, ((s % 3600) / 60).toInt, (s % 60).toInt)
  }
  /** ISO day-of-week (monday=1); epoch day 0 (1970-01-01) was a Thursday. */
  private def isoDow(t: Long): Int =
    (Math.floorDiv(t, 86400L) + 3).toInt % 7 + 1
}

class ScheduledJobs(engine: Engine, storageRoot: String) {

  private val dir = new graft.io.Durable.JsonDir(
    java.nio.file.Paths.get(storageRoot, "scheduled_jobs"))
  private val jobs =
    scala.collection.concurrent.TrieMap.empty[String, ScheduledJob]
  private val lastRun = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val registered = scala.collection.concurrent.TrieMap.empty[String, Long]

  // boot restore (config.py:35-37 analog)
  dir.readAll().map(ScheduledJob.parse).foreach(j => jobs.put(j.name, j))

  /** POST /scheduled_jobs. A model URL called with a method its endpoint
    * does not accept is rejected here, not at its first firing. */
  def create(json: String, nowEpoch: Long = System.currentTimeMillis / 1000)
      : ScheduledJob = {
    val job = ScheduledJob.parse(json)
    Schemas.requireKey(job.name, "scheduled job name")
    methodOf(job.relativeUrl).foreach(m => require(job.method == m,
      s"${job.relativeUrl} accepts ${m.toUpperCase} only, not " +
        job.method.toUpperCase))
    jobs.put(job.name, job)
    registered.put(job.name, nowEpoch)
    dir.put(job.name, job.toJson)
    job
  }

  /** GET /scheduled_jobs/<names> (semicolon-separated, as documented). */
  def get(names: String): Seq[ScheduledJob] =
    names.split(";").toSeq.flatMap(jobs.get)

  /** GET /scheduled_jobs */
  def list: Seq[ScheduledJob] = jobs.values.toSeq.sortBy(_.name)

  /** DELETE /scheduled_jobs/<names>; returns how many were removed. */
  def delete(names: String): Int =
    names.split(";").count { n =>
      val had = jobs.remove(n).isDefined
      dir.remove(n)
      lastRun.remove(n); registered.remove(n)
      had
    }

  /** Next fire time for `name` given its last run (or registration). */
  def nextRunOf(name: String, nowEpoch: Long): Option[Long] =
    jobs.get(name).map(j => ScheduledJob.nextRun(j,
      lastRun.getOrElse(name, registered.getOrElse(name, nowEpoch))))

  /** One scheduler heartbeat: fire every due job ([[route]]), record the
    * run, return (name, JSON document or failure) pairs. Failures are
    * caught per job and logged — a broken job cancels nothing else
    * (`catch_exceptions(cancel_on_failure=False)`, server.py:100-113). */
  def runDue(nowEpoch: Long): Seq[(String, Any)] =
    list.flatMap { j =>
      val due = nextRunOf(j.name, nowEpoch).exists(_ <= nowEpoch)
      if (!due) None
      else {
        lastRun.put(j.name, nowEpoch)
        try Some(j.name -> route(j, nowEpoch))
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"scheduled job '${j.name}' failed", e)
            Some(j.name -> e)
        }
      }
    }

  private val ModelUrl = "/models/([^/]+)(/(_[a-z]+))?".r

  /** The method a model URL accepts: GET for the model document, POST for
    * the job endpoints; None for a URL this dispatch does not know. */
  private def methodOf(url: String): Option[String] = url match {
    case ModelUrl(_, _, null) => Some("get")
    case ModelUrl(_, _, e) if ModelEndpoints.jobTypes.contains(e) => Some("post")
    case _ => None
  }

  /** The in-process analog of the reference's self-HTTP dispatch
    * (server.py:156-176): run the endpoint `method` + `relative_url`
    * names and return its JSON document. `from`/`to` default to the
    * last day (the next day for `_forecast`). */
  def route(j: ScheduledJob, nowEpoch: Long): String = {
    require(methodOf(j.relativeUrl).contains(j.method),
      s"scheduled job url not routable: ${j.method.toUpperCase} " +
        j.relativeUrl)
    j.relativeUrl match {
      case ModelUrl(name, _, null) => engine.getModel(name).canonicalJson
      case ModelUrl(name, _, endpoint) =>
        val window =
          if (endpoint == "_forecast") Map("from" -> "now", "to" -> "now+1d")
          else Map("from" -> "now-1d", "to" -> "now")
        ModelEndpoints.run(engine, name, endpoint, window ++ j.params,
          nowEpoch)
    }
  }
}
