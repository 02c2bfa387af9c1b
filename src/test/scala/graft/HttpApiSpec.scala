package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.api.{Engine, HttpApi, ScheduledJobs}
import graft.sources.BucketRegistry

/** End-to-end round-trips through the real HTTP facade (a bound JDK
  * HttpServer on an ephemeral port) — shaped like the reference's API
  * tests (tests/test_api.py:49-307): home document, bucket CRUD, the
  * 202-job `_read` flow, model create/train/eval through job ids, and
  * the error statuses. */
class HttpApiSpec extends SparkSpec {

  import spark.implicits._

  private val HOUR = 3600L
  private val client = HttpClient.newHttpClient()

  private def withServer(test: (String, Engine) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("httpapi").toString
    val engine = new Engine(spark, new BucketRegistry, root)
    val api = new HttpApi(engine, new ScheduledJobs(engine, root))
    val addr = api.start(0)
    try test(s"http://127.0.0.1:${addr.getPort}", engine)
    finally api.stop()
  }

  private def send(method: String, url: String, body: String = "")
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    client.send(req, HttpResponse.BodyHandlers.ofString())
  }

  private def json(s: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(s)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** `_wait_job` analog (tests/test_api.py:141-152): jobs run async on
    * the bounded pool, so poll `/jobs/<id>` until a terminal state. */
  private def awaitJob(base: String, id: String): org.json4s.JValue = {
    val deadline = System.nanoTime() + 120e9.toLong
    var j = json(send("GET", s"$base/jobs/$id").body())
    while (((j \ "state") == org.json4s.JString("waiting") ||
        (j \ "state") == org.json4s.JString("running")) &&
        System.nanoTime() < deadline) {
      Thread.sleep(20)
      j = json(send("GET", s"$base/jobs/$id").body())
    }
    j
  }

  private def jobResult(base: String, idResponse: HttpResponse[String])
      : org.json4s.JValue = {
    assert(idResponse.statusCode() == 202, idResponse.body())
    val id = idResponse.body().replace("\"", "").trim
    val j = awaitJob(base, id)
    assert((j \ "state") == org.json4s.JString("done"),
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(j)))
    j \ "result"
  }

  test("home document (test_api.py:301-306) + HEAD") {
    withServer { (base, _) =>
      val res = send("GET", s"$base/")
      assert(res.statusCode() == 200)
      val home = json(res.body())
      assert((home \ "version") != org.json4s.JNothing)
      assert((home \ "host_id") != org.json4s.JNothing)
      assert((home \ "tagline") ==
        org.json4s.JString("The Disruptive Machine Learning API"))
      assert(send("HEAD", s"$base/").statusCode() == 200)
    }
  }

  test("bucket CRUD + the 202-job _read flow (server.py:1140-1217)") {
    withServer { (base, _) =>
      // create
      val create = send("POST", s"$base/buckets",
        """{"name": "events", "type": "testdata",
          |"dir": "/root/testdata/sf0.001", "table": "events"}""".stripMargin)
      assert(create.statusCode() == 201 && create.body().contains("events"))
      // list + get + missing
      assert(send("GET", s"$base/buckets").body().contains("events"))
      assert(send("GET", s"$base/buckets/events").statusCode() == 200)
      assert(send("GET", s"$base/buckets/nope").statusCode() == 404)

      // _read: 202 + job id; result is the {timestamps, observed} doc
      val read = send("POST", s"$base/buckets/events/_read" +
        s"?from=${enc("2024-01-01T00:00:00.000Z")}" +
        s"&to=${enc("2024-01-02T00:00:00.000Z")}" +
        s"&bucket_interval=1h&features=${enc("avg(value);count(value)")}")
      val result = jobResult(base, read)
      val ts = (result \ "timestamps").asInstanceOf[org.json4s.JArray]
      assert(ts.arr.length == 24)
      assert((result \ "observed" \ "avg_value")
        .isInstanceOf[org.json4s.JArray])

      // missing mandatory param → 400 (errors.Invalid analog)
      assert(send("POST", s"$base/buckets/events/_read?from=0&to=1")
        .statusCode() == 400)

      // delete
      assert(send("DELETE", s"$base/buckets/events").statusCode() == 200)
      assert(send("GET", s"$base/buckets").body() == "[]")
    }
  }

  test("model lifecycle over HTTP: create → _train → _eval → delete (test_api.py:297-299)") {
    withServer { (base, engine) =>
      // flat-10 hourly series with an anomaly at hours 730/731
      val dir = java.nio.file.Files.createTempDirectory("httppts")
        .toString + "/pts"
      (0 until 744).map { t =>
        (t * HOUR, if (t == 730 || t == 731) 100.0 else 10.0)
      }.toDF("epoch", "value")
        .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
        .write.parquet(dir)
      assert(send("POST", s"$base/buckets",
        s"""{"name": "pts", "type": "parquet", "path": "$dir"}""")
        .statusCode() == 201)

      val created = send("POST", s"$base/models",
        """{"name": "m1", "type": "seasonal",
          |  "features": [{"name": "avg_v", "metric": "avg",
          |                "field": "value", "default": 0}],
          |  "bucket_interval": "1h", "interval": "6h", "offset": "0s",
          |  "max_threshold": 99.7, "min_threshold": 68.0,
          |  "default_bucket": "pts"}""".stripMargin)
      assert(created.statusCode() == 201, created.body())
      assert(send("GET", s"$base/models").body().contains("\"m1\""))
      assert(send("GET", s"$base/models/m1").statusCode() == 200)

      // train through the job contract
      val train = send("POST",
        s"$base/models/m1/_train?from=0&to=${720L * HOUR}")
      assert((jobResult(base, train) \ "trained_buckets")
        != org.json4s.JNothing)

      // eval: the result is format_buckets rows; the two injected
      // anomaly buckets are flagged
      val eval = send("POST",
        s"$base/models/m1/_eval?from=${720L * HOUR}&to=${744L * HOUR}")
      val buckets = jobResult(base, eval).asInstanceOf[org.json4s.JArray]
      assert(buckets.arr.length == 24)
      val flagged = buckets.arr.filter(b =>
        (b \ "stats" \ "anomaly") == org.json4s.JBool(true))
        .map(b => (b \ "timestamp").asInstanceOf[org.json4s.JInt].num.toLong)
      assert(flagged.toSet == Set(730L * HOUR, 731L * HOUR))

      // forecast
      val fc = send("POST",
        s"$base/models/m1/_forecast?from=${744L * HOUR}&to=${768L * HOUR}")
      val series = jobResult(base, fc)
      assert((series \ "timestamps").asInstanceOf[org.json4s.JArray]
        .arr.length == 24)

      // failed-job contract: eval of an unknown model still yields a
      // job id whose record reports the failure
      val bad = send("POST", s"$base/models/ghost/_eval?from=0&to=1")
      assert(bad.statusCode() == 202)
      val badId = bad.body().replace("\"", "").trim
      val badJob = awaitJob(base, badId)
      assert((badJob \ "state") == org.json4s.JString("failed"))

      // delete + 404 afterwards
      assert(send("DELETE", s"$base/models/m1").statusCode() == 200)
      assert(send("GET", s"$base/models/m1").statusCode() == 404)
      assert(send("GET", s"$base/jobs/job-unknown").statusCode() == 404)
      assert(engine.listModels().isEmpty)
    }
  }

  /** A server with a seasonal model `mc` trained on a flat-10 series. */
  private def withTrainedModel(test: String => Unit): Unit =
    withServer { (base, _) =>
      val dir = java.nio.file.Files.createTempDirectory("httpfc")
        .toString + "/pts"
      (0 until 744).map(t => (t * HOUR, 10.0)).toDF("epoch", "value")
        .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
        .write.parquet(dir)
      assert(send("POST", s"$base/buckets",
        s"""{"name": "pts", "type": "parquet", "path": "$dir"}""")
        .statusCode() == 201)
      assert(send("POST", s"$base/models",
        """{"name": "mc", "type": "seasonal",
          |  "features": [{"name": "avg_v", "metric": "avg", "field": "value"}],
          |  "bucket_interval": "1h", "default_bucket": "pts"}""".stripMargin)
        .statusCode() == 201)
      jobResult(base, send("POST", s"$base/models/mc/_train?from=0&to=${720L * HOUR}"))
      test(base)
    }

  private def forecastWith(base: String, constraint: String) =
    send("POST", s"$base/models/mc/_forecast?from=${744L * HOUR}" +
      s"&to=${768L * HOUR}&constraint=${enc(constraint)}")

  test("_forecast constraint met: the document reports the first " +
      "violating bucket (worker.py:299-318)") {
    withTrainedModel { base =>
      val doc = jobResult(base, forecastWith(base, "avg_v:low:50"))
      assert((doc \ "timestamps").children.length == 24)
      val c = doc \ "constraint"
      assert((c \ "timestamp") == org.json4s.JInt(744L * HOUR), c)
      assert((c \ "type") == org.json4s.JString("low"))
      assert((c \ "threshold") == org.json4s.JDouble(50.0))
      assert(math.abs((c \ "predicted").asInstanceOf[org.json4s.JDouble].num - 10.0) < 1e-6)
    }
  }

  test("_forecast constraint not met: the document's constraint is null; " +
      "without the parameter the document has no constraint field") {
    withTrainedModel { base =>
      val doc = jobResult(base, forecastWith(base, "avg_v:high:50"))
      assert((doc \ "constraint") == org.json4s.JNull)
      val plain = jobResult(base, send("POST",
        s"$base/models/mc/_forecast?from=${744L * HOUR}&to=${768L * HOUR}"))
      assert((plain \ "constraint") == org.json4s.JNothing)
      assert((plain \ "timestamps") == (doc \ "timestamps"))
    }
  }

  test("_forecast with a malformed constraint answers 400 before a job is " +
      "submitted") {
    withTrainedModel { base =>
      Seq("avg_v:sideways:50", "avg_v:low:high", "avg_v:low").foreach { c =>
        val res = forecastWith(base, c)
        assert(res.statusCode() == 400, s"$c: ${res.body()}")
        assert(res.body().contains("constraint"), res.body())
      }
    }
  }

  test("async job contract: _train returns 202 while the job is " +
      "genuinely in flight, then polls through to done " +
      "(server.py:1846-1872 pool semantics)") {
    withServer { (base, _) =>
      val dir = java.nio.file.Files.createTempDirectory("httpasync")
        .toString + "/pts"
      (0 until 744).map(t => (t * HOUR, 10.0)).toDF("epoch", "value")
        .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
        .write.parquet(dir)
      assert(send("POST", s"$base/buckets",
        s"""{"name": "pts", "type": "parquet", "path": "$dir"}""")
        .statusCode() == 201)
      assert(send("POST", s"$base/models",
        """{"name": "ma", "type": "seasonal",
          |  "features": [{"name": "avg_v", "metric": "avg",
          |                "field": "value", "default": 0}],
          |  "bucket_interval": "1h", "interval": "6h", "offset": "0s",
          |  "max_threshold": 99.7, "min_threshold": 68.0,
          |  "default_bucket": "pts"}""".stripMargin).statusCode() == 201)

      val train = send("POST",
        s"$base/models/ma/_train?from=0&to=${720L * HOUR}")
      assert(train.statusCode() == 202, train.body())
      val id = train.body().replace("\"", "").trim
      // the POST came back BEFORE the work finished: the immediate poll
      // sees a non-terminal state (a Spark train is orders of magnitude
      // slower than the local HTTP round trip)
      val first = json(send("GET", s"$base/jobs/$id").body())
      assert((first \ "state") == org.json4s.JString("waiting") ||
        (first \ "state") == org.json4s.JString("running"),
        send("GET", s"$base/jobs/$id").body())
      // ... and polling reaches done with the result payload
      val j = awaitJob(base, id)
      assert((j \ "state") == org.json4s.JString("done"))
      assert((j \ "result" \ "trained_buckets") != org.json4s.JNothing)
      // cancel past the terminal state reports the state, like the
      // reference's already-finished case
      assert(send("POST", s"$base/jobs/$id/_cancel").body()
        .contains("done"))
    }
  }

  test("job records expire after jobs_max_ttl once terminal; in-flight " +
      "jobs survive the sweep (config.py:85-86 reaper semantics)") {
    val root = java.nio.file.Files.createTempDirectory("httpttl").toString
    val engine = new Engine(spark, new BucketRegistry, root)
    @volatile var now = 1000000000L // injected clock, ms
    val api = new HttpApi(engine, new ScheduledJobs(engine, root), jobWorkers = 1,
      jobsMaxTtlMs = 60000L, nowMs = () => now)
    val addr = api.start(0)
    val base = s"http://127.0.0.1:${addr.getPort}"
    try {
      assert(send("POST", s"$base/buckets",
        """{"name": "events", "type": "testdata",
          |"dir": "/root/testdata/sf0.001", "table": "events"}"""
          .stripMargin).statusCode() == 201)
      val read = send("POST", s"$base/buckets/events/_read" +
        s"?from=${enc("2024-01-01T00:00:00.000Z")}" +
        s"&to=${enc("2024-01-02T00:00:00.000Z")}" +
        s"&bucket_interval=1h&features=${enc("avg(value)")}")
      assert(read.statusCode() == 202)
      val id = read.body().replace("\"", "").trim
      assert((awaitJob(base, id) \ "state") == org.json4s.JString("done"))
      // still inside the TTL: the terminal record answers
      now += 59000L
      assert(send("GET", s"$base/jobs/$id").statusCode() == 200)
      // past the TTL: reaped — an expired id is an unknown id
      now += 2000L
      assert(send("GET", s"$base/jobs/$id").statusCode() == 404)
      // an in-flight job has no endedAt and survives any sweep: the
      // immediate poll (which itself runs the reaper) still finds it
      val read2 = send("POST", s"$base/buckets/events/_read" +
        s"?from=${enc("2024-01-01T00:00:00.000Z")}" +
        s"&to=${enc("2024-01-02T00:00:00.000Z")}" +
        s"&bucket_interval=1h&features=${enc("avg(value)")}")
      val id2 = read2.body().replace("\"", "").trim
      assert(send("GET", s"$base/jobs/$id2").statusCode() == 200)
      assert((awaitJob(base, id2) \ "state") == org.json4s.JString("done"))
    } finally api.stop()
  }

  test("config document boots the whole service: registry hydrated, " +
      "engine storage pathed, HTTP bound (the loudmld -c analog)") {
    import spark.implicits._
    val dataDir = java.nio.file.Files
      .createTempDirectory("graft_cfg_data").toString
    Seq((1L, 2.0)).toDF("ts", "value").write.mode("overwrite")
      .parquet(dataDir)
    val storage = java.nio.file.Files
      .createTempDirectory("graft_cfg_store").toString
    val cfg = graft.api.GraftConfig.fromJson(s"""{
      "storage": {"path": "$storage"},
      "buckets": [{"name": "events_pq", "type": "parquet",
                   "path": "$dataDir"}]
    }""")
    val (engine, api, addr) = graft.api.GraftConfig.serve(
      spark, cfg, portOverride = Some(0))
    try {
      assert(engine.buckets.names === Seq("events_pq"))
      val r = send("GET", s"http://127.0.0.1:${addr.getPort}/buckets")
      assert(r.statusCode() == 200 && r.body().contains("events_pq"))
    } finally api.stop()
  }

  test("GraftServer.startFromFile: the daemon boot path reads the " +
      "document from disk and serves") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv")
    val cfgPath = dir.resolve("config.json")
    java.nio.file.Files.writeString(cfgPath,
      s"""{"storage": {"path": "${dir.resolve("store")}"}}""")
    val (_, api, addr) = graft.GraftServer.startFromFile(
      spark, cfgPath.toString, portOverride = Some(0))
    try assert(send("GET",
      s"http://127.0.0.1:${addr.getPort}/buckets").statusCode() == 200)
    finally api.stop()
  }

  test("scheduled-jobs CRUD endpoints (server.py:1401-1402)") {
    withServer { (base, _) =>
      assert(send("GET", s"$base/scheduled_jobs").body() == "[]")
      val created = send("POST", s"$base/scheduled_jobs",
        """{"name": "nightly", "method": "post",
          |"relative_url": "/models/m1/_train",
          |"every": {"count": 1, "unit": "days", "at": "03:00"},
          |"params": {"from": "now-30d", "to": "now"}}""".stripMargin)
      assert(created.statusCode() == 201, created.body())
      assert(send("GET", s"$base/scheduled_jobs/nightly").statusCode() == 200)
      assert(send("DELETE", s"$base/scheduled_jobs/nightly")
        .statusCode() == 200)
      assert(send("GET", s"$base/scheduled_jobs/nightly").statusCode() == 404)
    }
  }

  test("HTTP _eval on a model whose first feature is output-only formats " +
      "the input feature the engine scores") {
    withServer { (base, _) =>
      val dir = java.nio.file.Files.createTempDirectory("httpio")
        .toString + "/pts"
      (0 until 96).map(t => (t * HOUR, 10.0 + t % 3)).toDF("epoch", "value")
        .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
        .write.parquet(dir)
      assert(send("POST", s"$base/buckets",
        s"""{"name": "pts", "type": "parquet", "path": "$dir"}""")
        .statusCode() == 201)
      assert(send("POST", s"$base/models",
        """{"name": "mio", "type": "seasonal", "bucket_interval": "1h",
          |  "default_bucket": "pts", "features": [
          |  {"name": "out_f", "metric": "max", "field": "value", "io": "o"},
          |  {"name": "in_f", "metric": "avg", "field": "value", "io": "i",
          |   "default": 0}]}""".stripMargin).statusCode() == 201)
      jobResult(base, send("POST",
        s"$base/models/mio/_train?from=0&to=${72L * HOUR}"))
      val buckets = jobResult(base, send("POST",
        s"$base/models/mio/_eval?from=${72L * HOUR}&to=${96L * HOUR}"))
        .asInstanceOf[org.json4s.JArray].arr
      assert(buckets.length == 24)
      assert(buckets.forall(b =>
        (b \ "values" \ "in_f") != org.json4s.JNothing &&
          (b \ "values" \ "out_f") == org.json4s.JNothing))
    }
  }

  test("GraftConfig.serve boots with scheduled jobs: the config's entries " +
      "are registered and /scheduled_jobs answers") {
    val store = java.nio.file.Files.createTempDirectory("graft_sched")
    val cfg = graft.api.GraftConfig.fromJson(s"""{
      "storage": {"path": "$store"},
      "scheduled_jobs": [{"name": "from_config", "method": "post",
        "relative_url": "/models/m1/_train",
        "every": {"count": 1, "unit": "days", "at": "01:00"}}]
    }""")
    val (_, api, addr) = graft.api.GraftConfig.serve(
      spark, cfg, portOverride = Some(0))
    val base = s"http://127.0.0.1:${addr.getPort}"
    try {
      val listed = send("GET", s"$base/scheduled_jobs")
      assert(listed.statusCode() == 200 &&
        listed.body().contains("\"from_config\""), listed.body())
      val created = send("POST", s"$base/scheduled_jobs",
        """{"name": "hourly_eval", "method": "post",
          |"relative_url": "/models/m1/_eval",
          |"every": {"count": 1, "unit": "hours"}}""".stripMargin)
      assert(created.statusCode() == 201, created.body())
      assert(send("GET", s"$base/scheduled_jobs/hourly_eval")
        .statusCode() == 200)
      // a GET on a POST-only model endpoint is refused at creation
      val wrong = send("POST", s"$base/scheduled_jobs",
        """{"name": "get_train", "method": "get",
          |"relative_url": "/models/m1/_train",
          |"every": {"count": 1, "unit": "hours"}}""".stripMargin)
      assert(wrong.statusCode() == 400, wrong.body())
      assert(send("GET", s"$base/scheduled_jobs/get_train")
        .statusCode() == 404)
    } finally api.stop()
  }
}
