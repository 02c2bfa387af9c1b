package graft

import org.apache.spark.sql.functions._

import graft.api.{Engine, ScheduledJob, ScheduledJobs}
import graft.sources.{BucketRegistry, ParquetBucket}

/** Scheduled Jobs API (docs/reference/api/scheduled_jobs.asciidoc,
  * server.py get_schedule / daemon_exec_scheduled_job): named recurring
  * engine calls with schedule-library cadence semantics. */
class ScheduledJobsSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L
  private val DAY = 86400L

  private def job(every: String): ScheduledJob =
    ScheduledJob.parse(
      s"""{"name":"j","method":"post","relative_url":"/models/m/_train",
         |"params":{"from":"now-1d","to":"now"},"every":$every}""".stripMargin)

  test("nextRun mirrors the schedule library's cadence rules") {
    val t0 = 1700000000L // arbitrary anchor: 2023-11-14 22:13:20 UTC (Tue)
    // plain intervals: anchor + count*unit
    assert(ScheduledJob.nextRun(job("""{"count":30,"unit":"seconds"}"""), t0)
      == t0 + 30)
    assert(ScheduledJob.nextRun(job("""{"count":2,"unit":"hours"}"""), t0)
      == t0 + 2 * HOUR)
    assert(ScheduledJob.nextRun(job("""{"count":1,"unit":"week"}"""), t0)
      == t0 + 7 * DAY)
    // day at HH:MM — the doc's headline example ("every day at 01:00"):
    // 22:13 anchor → tomorrow 01:00
    val n1 = ScheduledJob.nextRun(
      job("""{"count":1,"unit":"day","at":"01:00"}"""), t0)
    assert(n1 > t0 && Math.floorMod(n1, DAY) == 1 * HOUR)
    assert(n1 - t0 < DAY + 1)
    // hour at :15 → next quarter-past
    val n2 = ScheduledJob.nextRun(
      job("""{"count":1,"unit":"hour","at":":15"}"""), t0)
    assert(n2 > t0 && Math.floorMod(n2, HOUR) == 15 * 60 && n2 - t0 <= HOUR)
    // minute at :30 → next half-minute
    val n3 = ScheduledJob.nextRun(
      job("""{"count":1,"unit":"minute","at":":30"}"""), t0)
    assert(n3 > t0 && Math.floorMod(n3, 60) == 30 && n3 - t0 <= 60)
    // weekly on a weekday (epoch day 0 = Thursday; anchor is a Tuesday →
    // next Thursday at the anchor's wall time is in 2 days)
    val n4 = ScheduledJob.nextRun(
      job("""{"count":1,"unit":"thursday","at":"09:00"}"""), t0)
    assert(Math.floorDiv(n4, DAY) % 7 == 0) // Thursday ⇒ epoch-day ≡ 0 (mod 7)
    assert(Math.floorMod(n4, DAY) == 9 * HOUR && n4 > t0 && n4 - t0 <= 7 * DAY)
    // at-format must match the unit (doc: "must make sense")
    assertThrows[IllegalArgumentException](ScheduledJob.nextRun(
      job("""{"count":1,"unit":"minute","at":"01:02:03"}"""), t0))
    assertThrows[IllegalArgumentException](
      job("""{"count":1,"unit":"fortnight"}"""))
  }

  test("CRUD + boot restore + scheduler heartbeat routing to the engine") {
    val root = java.nio.file.Files.createTempDirectory("sched").toString
    val reg = new BucketRegistry
    // flat-10 hourly series to train on
    val dir = java.nio.file.Files.createTempDirectory("pts").toString + "/p"
    (0 until 744).map(t => (t * HOUR, 10.0)).toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    reg.register(new ParquetBucket("b1", dir))
    val engine = new Engine(spark, reg, root)
    engine.createModel(
      """{"name":"m1","type":"seasonal","features":[
        |{"name":"avg_value","metric":"avg","field":"value"}],
        |"bucket_interval":"1h","default_bucket":"b1"}""".stripMargin)

    // a first training so the forecast job has a model to load (in the
    // reference, an unforecastable model just makes that HTTP call fail
    // and the scheduler logs it; here we want both jobs green)
    engine.trainModel("m1", "now-30d", "now", nowEpoch = 744 * HOUR)

    val sj = new ScheduledJobs(engine, root)
    val created = sj.create(
      """{"name":"nightly_train","method":"post",
        |"relative_url":"/models/m1/_train",
        |"params":{"from":"now-30d","to":"now"},
        |"every":{"count":1,"unit":"day","at":"01:00"}}""".stripMargin,
      nowEpoch = 0L)
    assert(created.every.at.contains("01:00"))
    sj.create(
      """{"name":"hourly_forecast","method":"post",
        |"relative_url":"/models/m1/_forecast",
        |"params":{"from":"now","to":"now+6h"},
        |"every":{"count":1,"unit":"hours"}}""".stripMargin, nowEpoch = 0L)
    assert(sj.list.map(_.name) == Seq("hourly_forecast", "nightly_train"))
    assert(sj.get("nightly_train;hourly_forecast").size == 2)

    // heartbeat before anything is due → no fires
    assert(sj.runDue(30 * 60L).isEmpty)

    // 01:00 passes → the train job fires, routed to engine.trainModel;
    // now = 744h so the training window covers the data
    val fired = sj.runDue(744 * HOUR)
    assert(fired.map(_._1).toSet == Set("nightly_train", "hourly_forecast"))
    assert(!fired.exists(_._2.isInstanceOf[Throwable]))
    assert(engine.loadTrained("m1").modelType == "seasonal")
    // forecast result is the endpoint's series document
    val fc = org.json4s.jackson.JsonMethods.parse(
      fired.toMap.apply("hourly_forecast").asInstanceOf[String])
    assert((fc \ "timestamps").asInstanceOf[org.json4s.JArray].arr.length == 6)

    // immediately after, nothing is due (next fire computed off lastRun)
    assert(sj.runDue(744 * HOUR + 1).isEmpty)

    // boot restore: a fresh instance on the same root sees both jobs
    val rebooted = new ScheduledJobs(engine, root)
    assert(rebooted.list.map(_.name) == Seq("hourly_forecast", "nightly_train"))
    // delete removes the job and its file
    assert(sj.delete("nightly_train;nope") == 1)
    assert(new ScheduledJobs(engine, root).list.map(_.name) ==
      Seq("hourly_forecast"))

    // a failing job is caught and reported, not thrown (server.py:100-113)
    sj.create(
      """{"name":"broken","method":"post","relative_url":"/nope",
        |"every":{"count":1,"unit":"seconds"}}""".stripMargin, nowEpoch = 0L)
    val r = sj.runDue(745 * HOUR)
    assert(r.toMap.apply("broken").isInstanceOf[IllegalArgumentException])
  }

  test("a scheduled _eval runs the eval endpoint: one entry per bucket") {
    val root = java.nio.file.Files.createTempDirectory("schedeval").toString
    val reg = new BucketRegistry
    val dir = java.nio.file.Files.createTempDirectory("pts").toString + "/p"
    (0 until 744).map(t => (t * HOUR, if (t == 740) 100.0 else 10.0))
      .toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    reg.register(new ParquetBucket("b1", dir))
    val engine = new Engine(spark, reg, root)
    engine.createModel(
      """{"name":"m1","type":"seasonal","features":[
        |{"name":"avg_value","metric":"avg","field":"value"}],
        |"bucket_interval":"1h","default_bucket":"b1"}""".stripMargin)
    engine.trainModel("m1", "now-30d", "now-1d", nowEpoch = 744 * HOUR)

    val sj = new ScheduledJobs(engine, root)
    sj.create(
      """{"name":"hourly_eval","method":"post",
        |"relative_url":"/models/m1/_eval",
        |"params":{"from":"now-1d","to":"now"},
        |"every":{"count":1,"unit":"hours"}}""".stripMargin, nowEpoch = 0L)
    val fired = sj.runDue(744 * HOUR).toMap
    val buckets = org.json4s.jackson.JsonMethods.parse(
      fired("hourly_eval").asInstanceOf[String])
      .asInstanceOf[org.json4s.JArray].arr
    assert(buckets.length == 24)
    assert(buckets.map(b => (b \ "timestamp").asInstanceOf[org.json4s.JInt]
      .num.toLong) == (720L until 744L).map(_ * HOUR))
    assert(buckets.exists(b =>
      (b \ "stats" \ "anomaly") == org.json4s.JBool(true)))
  }

  test("a job whose method its model endpoint does not accept is " +
      "rejected at create") {
    val root = java.nio.file.Files.createTempDirectory("schedget").toString
    val sj = new ScheduledJobs(new Engine(spark, new BucketRegistry, root),
      root)
    val e = intercept[IllegalArgumentException](sj.create(
      """{"name":"get_train","method":"get",
        |"relative_url":"/models/m1/_train",
        |"every":{"count":1,"unit":"hours"}}""".stripMargin))
    assert(e.getMessage.contains("POST"))
    assertThrows[IllegalArgumentException](sj.create(
      """{"name":"post_model","method":"post","relative_url":"/models/m1",
        |"every":{"count":1,"unit":"hours"}}""".stripMargin))
    assert(sj.list.isEmpty)
    assert(new ScheduledJobs(new Engine(spark, new BucketRegistry, root),
      root).list.isEmpty)
  }
}
