package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP facade over [[Engine]] / [[ScheduledJobs]] — the reference's
  * REST surface (/root/reference/loudml/server.py:263-393, 885-1217,
  * 1296-1402, 1559-1717, 1728-1741) served by the JDK's built-in
  * `com.sun.net.httpserver` (no new dependencies). Endpoint shapes
  * follow the reference's Flask routes; tests mirror
  * tests/test_api.py:49-307 (home document, model CRUD + train/eval
  * round-trips through job ids, bucket CRUD + `_read`).
  *
  * Jobs: the reference runs work async in a pool and returns a job id
  * with HTTP 202; callers poll `/jobs/<id>` (`_wait_job`,
  * tests/test_api.py:141-152). Job-shaped endpoints here submit the
  * body to a BOUNDED executor (`jobWorkers` threads — the reference's
  * `server.workers` pool) and respond 202 immediately with the job in
  * state `waiting`; the record moves through `running` to
  * `done`/`failed` as the work proceeds, so a long `_train` never
  * blocks the HTTP exchange. A job still in `waiting` can be
  * `_cancel`ed; past that, cancel reports the current state like the
  * reference's already-terminal case.
  *
  * Scale note: the facade is a thin driver-side shim — every data path
  * is the same distributed plan the library call runs; nothing here
  * adds a collect beyond the formatted response the endpoint returns.
  */
class HttpApi(
    engine: Engine,
    scheduledJobs: ScheduledJobs,
    version: String = "0.1.0",
    jobWorkers: Int = 2,
    jobsMaxTtlMs: Long = 60000L,
    nowMs: () => Long = () => System.currentTimeMillis()) {

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  final case class JobRecord(id: String, tpe: String, state: String,
      result: Option[String], error: Option[String],
      endedAtMs: Option[Long] = None)

  private val jobs =
    scala.collection.concurrent.TrieMap.empty[String, JobRecord]
  private val jobFutures =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.Future[_]]
  private val jobSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Reap TERMINAL job records older than `jobsMaxTtlMs` — the
    * reference expires job records after `jobs_max_ttl` (default 60 s,
    * /root/reference/loudml/config.py:85-86); without it a long-lived
    * daemon's job map grows monotonically. In-flight records
    * (waiting/running) never expire. Swept on every job submit and
    * jobs-endpoint lookup; an expired id answers 404 like any unknown
    * job. */
  private def reapExpiredJobs(): Unit = {
    val cut = nowMs() - jobsMaxTtlMs
    jobs.foreach { case (id, r) =>
      if (r.endedAtMs.exists(_ < cut)) jobs.remove(id)
    }
  }
  private var server: HttpServer = _

  // the reference's worker pool (server.py:1846-1872, two
  // pebble.ProcessPools + queue polling): a bounded thread pool — the
  // heavy lifting inside each job is Spark's own distributed plan, so
  // threads here only gate how many driver-side jobs are in flight
  private val jobExec = java.util.concurrent.Executors.newFixedThreadPool(
    jobWorkers.max(1),
    (r: Runnable) => {
      val t = new Thread(r, "graft-job-worker")
      t.setDaemon(true)
      t
    })

  private val hostId =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "localhost" }

  /** Submit `body` as a reference-shaped ASYNC job: the 202 response
    * carries the id while the record is still `waiting`; callers poll
    * `/jobs/<id>` through `running` to `done`/`failed`. */
  private def runJob(tpe: String)(body: => Option[String]): JobRecord = {
    reapExpiredJobs()
    val id = s"job-${jobSeq.incrementAndGet()}"
    val waiting = JobRecord(id, tpe, "waiting", None, None)
    jobs.put(id, waiting)
    val fut = jobExec.submit(new Runnable {
      def run(): Unit = {
        // a canceled-while-waiting job must not flip back to running
        if (!jobs.get(id).exists(_.state == "canceled")) {
          jobs.put(id, JobRecord(id, tpe, "running", None, None))
          val rec =
            try JobRecord(id, tpe, "done", body, None, Some(nowMs()))
            catch {
              case scala.util.control.NonFatal(e) =>
                JobRecord(id, tpe, "failed", None, Some(e.getMessage),
                  Some(nowMs()))
            }
          jobs.put(id, rec)
        }
        jobFutures.remove(id)
      }
    })
    jobFutures.put(id, fut)
    waiting
  }

  /** Block until `id` reaches a terminal state (tests; bounded). */
  private[api] def awaitJob(id: String,
      timeoutMs: Long = 120000): JobRecord = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var rec = jobs.get(id)
    while (rec.exists(r => r.state == "waiting" || r.state == "running") &&
        System.nanoTime() < deadline) {
      Thread.sleep(10)
      rec = jobs.get(id)
    }
    rec.getOrElse(throw new NoSuchElementException(s"job not found: $id"))
  }

  private def jobJson(r: JobRecord): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "id" -> JString(r.id),
      "type" -> JString(r.tpe),
      "state" -> JString(r.state),
      "result" -> r.result.map(s =>
        try JsonMethods.parse(s): JValue
        catch { case _: Exception => JString(s) }).getOrElse(JNull),
      "error" -> r.error.map(JString(_): JValue).getOrElse(JNull))))

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    if (ex.getRequestMethod == "HEAD") ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) {
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def jsonStr(s: String): String =
    JsonMethods.compact(JsonMethods.render(JString(s)))

  private def require(params: Map[String, String], key: String): String =
    params.getOrElse(key, throw new IllegalArgumentException(
      s"invalid value for parameter '$key'"))

  /** Route one request. Separated from the handler for direct testing. */
  private[api] def route(method: String, path: String,
      params: Map[String, String], body: => String): (Int, String) = {
    val segs = path.stripPrefix("/").stripSuffix("/") match {
      case "" => Array.empty[String]
      case p  => p.split("/")
    }
    (method, segs.toList) match {
      // ── home (server.py:1728-1741)
      case ("GET" | "HEAD", Nil) =>
        (200, JsonMethods.compact(JsonMethods.render(JObject(
          "version" -> JString(version),
          "tagline" -> JString("The Disruptive Machine Learning API"),
          "host_id" -> JString(hostId)))))

      // ── buckets CRUD (server.py:1140-1141)
      case ("GET", "buckets" :: Nil) =>
        (200, JsonMethods.compact(JsonMethods.render(
          JArray(engine.listBuckets().map(JString(_): JValue).toList))))
      case ("POST", "buckets" :: Nil) =>
        val b = engine.createBucket(body); (201, jsonStr(b.name))
      case ("GET", "buckets" :: names :: Nil) =>
        val known = engine.listBuckets().toSet
        val found = names.split(";").filter(known)
        if (found.isEmpty) (404, jsonStr(s"bucket not found: $names"))
        else (200, JsonMethods.compact(JsonMethods.render(JArray(
          found.map(n => JObject("name" -> JString(n)): JValue).toList))))
      case ("DELETE", "buckets" :: names :: Nil) =>
        val n = engine.deleteBucket(names)
        if (n == 0) (404, jsonStr(s"bucket not found: $names"))
        else (200, jsonStr(names))

      // ── `_read` (server.py:1168-1217): 202 + job id; the result is
      //    the {timestamps, observed} series document
      case ("POST", "buckets" :: name :: "_read" :: Nil) =>
        val interval = DateMath.parseDelta(
          require(params, "bucket_interval")).toLong
        val rec = runJob("read") {
          Some(engine.readFromBucketJson(name,
            require(params, "from"), require(params, "to"),
            interval, require(params, "features")))
        }
        (202, jsonStr(rec.id))

      // ── jobs (server.py:1296-1297, 396-403)
      case ("GET", "jobs" :: id :: Nil) =>
        reapExpiredJobs()
        jobs.get(id).map(r => (200, jobJson(r)))
          .getOrElse((404, jsonStr(s"job not found: $id")))
      case ("POST", "jobs" :: id :: "_cancel" :: Nil) =>
        // a job still waiting in the pool queue is cancelable; one
        // already running/terminal reports its state, like a reference
        // job past cancellation
        jobs.get(id).map { r =>
          if (r.state == "waiting" &&
              jobFutures.get(id).exists(_.cancel(false))) {
            val c = JobRecord(id, r.tpe, "canceled", None, None,
              Some(nowMs()))
            jobs.put(id, c)
            (200, jsonStr("canceled"))
          } else (200, jsonStr(jobs.get(id).fold(r.state)(_.state)))
        }.getOrElse((404, jsonStr(s"job not found: $id")))

      // ── models CRUD (server.py:885-887)
      case ("GET", "models" :: Nil) =>
        (200, "[" + engine.listModels().map(_.canonicalJson)
          .mkString(", ") + "]")
      case ("POST", "models" :: Nil) =>
        val s = engine.createModel(body); (201, jsonStr(s.name))
      case ("GET", "models" :: names :: Nil)
          if !names.startsWith("_") =>
        val found = names.split(";").toSeq
          .flatMap(n => scala.util.Try(engine.getModel(n)).toOption)
        if (found.isEmpty) (404, jsonStr(s"model not found: $names"))
        else (200, "[" + found.map(_.canonicalJson).mkString(", ") + "]")
      case ("DELETE", "models" :: names :: Nil) =>
        val n = engine.deleteModel(names)
        if (n == 0) (404, jsonStr(s"model not found: $names"))
        else (200, jsonStr(names))

      // ── train / eval / forecast: job-shaped
      case ("POST", "models" :: name :: endpoint :: Nil)
          if ModelEndpoints.jobTypes.contains(endpoint) =>
        val body = ModelEndpoints.prepare(engine, name, endpoint, params,
          nowMs() / 1000)
        val rec = runJob(ModelEndpoints.jobTypes(endpoint))(Some(body()))
        (202, jsonStr(rec.id))

      // ── scheduled near-real-time loop (server.py:1629-1674)
      case ("POST", "models" :: name :: "_start" :: Nil) =>
        engine.startScheduled(name); (200, jsonStr(name))
      case ("POST", "models" :: name :: "_stop" :: Nil) =>
        if (engine.stopScheduled(name)) (200, jsonStr(name))
        else (404, jsonStr(s"model not started: $name"))

      // ── hooks (server.py:1012-1028)
      case ("GET", "models" :: name :: "hooks" :: Nil) =>
        (200, JsonMethods.compact(JsonMethods.render(JArray(
          engine.listHooks(name).map(JString(_): JValue).toList))))
      case ("DELETE", "models" :: name :: "hooks" :: hook :: Nil) =>
        if (engine.deleteHook(name, hook)) (200, jsonStr(hook))
        else (404, jsonStr(s"hook not found: $hook"))
      case ("POST", "models" :: name :: "hooks" :: hook :: "_test" :: Nil) =>
        engine.testHook(name, hook); (200, jsonStr(hook))

      // ── scheduled jobs CRUD (server.py:1401-1402)
      case ("GET", "scheduled_jobs" :: Nil) =>
        (200, "[" + scheduledJobs.list.map(_.toJson).mkString(", ") + "]")
      case ("POST", "scheduled_jobs" :: Nil) =>
        val j = scheduledJobs.create(body); (201, jsonStr(j.name))
      case ("GET", "scheduled_jobs" :: names :: Nil) =>
        val found = scheduledJobs.get(names)
        if (found.isEmpty) (404, jsonStr(s"scheduled job not found: $names"))
        else (200, "[" + found.map(_.toJson).mkString(", ") + "]")
      case ("DELETE", "scheduled_jobs" :: names :: Nil) =>
        if (scheduledJobs.delete(names) == 0)
          (404, jsonStr(s"scheduled job not found: $names"))
        else (200, jsonStr(names))

      case _ => (404, jsonStr(s"no such endpoint: $method $path"))
    }
  }

  /** Bind and serve. `port = 0` picks an ephemeral port (tests). */
  def start(port: Int = 8077): InetSocketAddress = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val (code, bodyOut) =
        try route(ex.getRequestMethod, ex.getRequestURI.getPath,
          queryParams(ex), readBody(ex))
        catch {
          // invalid input → 400 with the message, like the reference's
          // errors.Invalid handler (server.py:215-227)
          case e: IllegalArgumentException =>
            (400, jsonStr(Option(e.getMessage).getOrElse("invalid")))
          case scala.util.control.NonFatal(e) =>
            (500, jsonStr(Option(e.getMessage).getOrElse("error")))
        }
      respond(ex, code, bodyOut)
    })
    server.setExecutor(null) // serve on the dispatch thread; Spark jobs
                             // inside handlers do their own parallelism
    server.start()
    server.getAddress
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    jobExec.shutdownNow()
  }
}
