package graft

import org.apache.spark.sql.functions._

import graft.api.{Engine, ModelSettings}
import graft.ml.{Hook, UnsupportedModel}
import graft.sources.{BucketRegistry, ParquetBucket, TestdataBucket, UnsupportedBucket}

/** The engine facade: the reference's REST surface as a library —
  * _read (server.py:1168-1217), model CRUD + _train (907-936), _eval
  * (1583-1602), _forecast + constraint (worker.py:299-318), _start
  * (1559-1580). A loudml user's switch-over path. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  private def newEngine(): (Engine, String) = {
    val root = java.nio.file.Files.createTempDirectory("engine").toString
    val reg = new BucketRegistry
    (new Engine(spark, reg, root), root)
  }

  test("timedelta-string period survives canonicalJson into parseParams") {
    // a "period": "2h" is valid at the settings surface; the model types
    // parse durations numerically, so canonicalJson must merge the parsed
    // seconds back in — otherwise the model trains on the default period
    // while the engine evals with the parsed one
    val s = ModelSettings.parse(
      """{"name":"m","type":"seasonal","bucket_interval":"1h","period":"2h",
        |"features":[{"name":"f","metric":"avg","field":"v"}]}""".stripMargin)
    assert(s.period == 7200L && s.bucketInterval == 3600L)
    val p = graft.ml.SeasonalModelType.parseParams(s.canonicalJson)
    assert(p.period == 7200L && p.bucketInterval == 3600L)
    val w = graft.ml.WindowReconstructor.parseParams(s.canonicalJson)
    assert(w.period == 7200L && w.bucketInterval == 3600L)
  }

  test("_read: feature DSL + date math over a registered bucket") {
    val (engine, _) = newEngine()
    engine.buckets.register(
      new TestdataBucket("events", "/root/testdata/sf0.001", "events"))
    val out = engine.readFromBucket("events",
      "2024-01-01T00:00:00.000Z", "2024-01-02T00:00:00.000Z",
      HOUR, "avg(value);count(value)")
    assert(out.count() == 24)
    assert(out.columns.toSeq == Seq("bucket", "avg_value", "count_value"))
    assertThrows[UnsupportedBucket](
      engine.readFromBucket("nope", "0", "1", HOUR, "avg(v)"))
  }

  test("model lifecycle: create → train → eval → forecast → scheduled " +
      "(settings JSON round-trip)") {
    val (engine, _) = newEngine()
    // parquet bucket: flat-10 hourly series, anomaly at hours 730/731
    val dir = java.nio.file.Files.createTempDirectory("pts").toString + "/pts"
    (0 until 744).map { t =>
      (t * HOUR, if (t == 730 || t == 731) 100.0 else 10.0)
    }.toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    engine.buckets.register(new ParquetBucket("pts", dir))

    val s = engine.createModel(
      s"""{"name": "m1", "type": "seasonal",
         |  "features": [{"name": "avg_v", "metric": "avg", "field": "value",
         |                "default": 0}],
         |  "bucket_interval": "1h", "interval": "6h", "offset": "0s",
         |  "max_threshold": 99.7, "min_threshold": 68.0,
         |  "default_bucket": "pts"}""".stripMargin)
    assert(s.bucketInterval == HOUR && s.interval == 6 * HOUR)
    assertThrows[UnsupportedModel](engine.createModel(
      """{"name":"x","type":"donut9000","bucket_interval":60,
        |"features":[{"name":"a","metric":"avg","field":"v"}]}""".stripMargin))

    // train on hours [0, 720)
    val v = engine.trainModel("m1", "0", (720L * HOUR).toString)
    assert(v == 1)

    // eval [720h, 744h): detection flags exactly the two anomaly buckets
    val scanned = engine.evalModel("m1", (720L * HOUR).toString,
      (744L * HOUR).toString)
    assert(scanned.count() == 24)
    val flagged = scanned.filter(col("is_anomaly"))
      .select("bucket").as[Long].collect().toSet
    assert(flagged == Set(730L * HOUR, 731L * HOUR))

    // forecast 24h ahead with a constraint that must not trip, then one
    // that must (flat profile ≈ 10)
    val (fc, none) = engine.forecastModel("m1", (744L * HOUR).toString,
      (768L * HOUR).toString, constraint = Some("avg_v:high:50"))
    assert(fc.count() == 24 && none.isEmpty)
    val (_, hit) = engine.forecastModel("m1", (744L * HOUR).toString,
      (768L * HOUR).toString, constraint = Some("avg_v:low:50"))
    assert(hit.isDefined)

    // scheduled loop from the same settings fires the hook on the spike
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val hook = new Hook {
      val name = "rec"
      override def onAnomalyStart(ts: Long, score: Double, p: Option[Double],
          o: Option[Double], a: Map[String, (String, Double)]): Unit = seen += ts
    }
    val sched = engine.startScheduled("m1", hooks = Seq(hook))
    sched.evalOnce(732L * HOUR) // window [726h, 732h)
    assert(seen.toSeq == Seq(730L * HOUR))
  }

  test("anomaly_type low: _eval and the scheduled loop score the same " +
      "direction, so an upward spike alerts on neither") {
    val (engine, _) = newEngine()
    // the lifecycle test's data: flat-10 hourly, spike to 100 at 730/731
    val dir = java.nio.file.Files.createTempDirectory("low").toString + "/pts"
    (0 until 744).map { t =>
      (t * HOUR, if (t == 730 || t == 731) 100.0 else 10.0)
    }.toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    engine.buckets.register(new ParquetBucket("pts", dir))
    engine.createModel(
      s"""{"name": "lo", "type": "seasonal",
         |  "features": [{"name": "avg_v", "metric": "avg", "field": "value",
         |                "default": 0, "anomaly_type": "low"}],
         |  "bucket_interval": "1h", "interval": "6h", "offset": "0s",
         |  "default_bucket": "pts"}""".stripMargin)
    engine.trainModel("lo", "0", (720L * HOUR).toString)

    val scanned = engine.evalModel("lo", (720L * HOUR).toString,
      (744L * HOUR).toString)
    assert(scanned.filter(col("is_anomaly")).count() == 0)

    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val hook = new Hook {
      val name = "rec"
      override def onAnomalyStart(ts: Long, score: Double, p: Option[Double],
          o: Option[Double], a: Map[String, (String, Double)]): Unit = seen += ts
    }
    engine.startScheduled("lo", hooks = Seq(hook))
      .evalOnce(732L * HOUR) // window [726h, 732h) holds the spike
    assert(seen.isEmpty)
  }

  test("training masks labeled anomaly windows: contaminated segment " +
      "scores higher after exclusion (test_donut.py:296-340 analog)") {
    // flat-10 series with a 2-day plateau at 100 (hours 240..288) — the
    // labeled outage. Trained WITH the annotation, the profile must not
    // absorb the plateau, so eval scores it as anomalous; trained WITHOUT,
    // the plateau leaks into the per-slot means and scores drop.
    val (engine, _) = newEngine()
    val dir = java.nio.file.Files.createTempDirectory("ann").toString + "/pts"
    (0 until 720).map { t =>
      (t * HOUR, if (t >= 240 && t < 288) 100.0 else 10.0)
    }.toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    engine.buckets.register(new ParquetBucket("pts", dir))
    engine.createModel(
      s"""{"name": "ma", "type": "seasonal",
         |  "features": [{"name": "avg_v", "metric": "avg", "field": "value",
         |                "default": 0}],
         |  "bucket_interval": "1h", "default_bucket": "pts"}""".stripMargin)

    def meanScoreOverPlateau(): Double = {
      val scored = engine.evalModel("ma", (240L * HOUR).toString,
        (288L * HOUR).toString, detectAnomalies = false)
      scored.agg(avg(col("score"))).collect()(0).getDouble(0)
    }
    engine.trainModel("ma", "0", (720L * HOUR).toString)
    val contaminated = meanScoreOverPlateau()

    engine.annotations.insert("out-1", 240L * HOUR, "labeled outage", "anomaly")
    engine.annotations.close("out-1", 288L * HOUR)
    engine.trainModel("ma", "0", (720L * HOUR).toString)
    val excluded = meanScoreOverPlateau()

    assert(excluded > contaminated,
      s"excluded=$excluded contaminated=$contaminated")
    assert(excluded > 99.0) // clean profile: the plateau is flagrant
  }

  test("model I/O assembly consumes io direction: output-only feature " +
      "never feeds the model (donut.py:547-551)") {
    val (engine, _) = newEngine()
    val dir = java.nio.file.Files.createTempDirectory("iod").toString + "/pts"
    (0 until 48).map(t => (t * HOUR, 10.0)).toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    engine.buckets.register(new ParquetBucket("pts", dir))
    engine.createModel(
      s"""{"name": "mio", "type": "seasonal", "bucket_interval": "1h",
         |  "default_bucket": "pts", "features": [
         |  {"name": "out_f", "metric": "max", "field": "value", "io": "o"},
         |  {"name": "in_f", "metric": "avg", "field": "value", "io": "i",
         |   "default": 0}]}""".stripMargin)
    engine.trainModel("mio", "0", (48L * HOUR).toString)
    val scored = engine.evalModel("mio", "0", (48L * HOUR).toString,
      detectAnomalies = false)
    // the model's series is the first INPUT feature, not the first feature
    assert(scored.columns.contains("in_f") && !scored.columns.contains("out_f"))

    engine.createModel(
      s"""{"name": "mbad", "type": "seasonal", "bucket_interval": "1h",
         |  "default_bucket": "pts", "features": [
         |  {"name": "only_out", "metric": "avg", "field": "value",
         |   "io": "o"}]}""".stripMargin)
    assertThrows[IllegalArgumentException](
      engine.trainModel("mbad", "0", (48L * HOUR).toString))
  }

  test("_read JSON shape + idempotent _start/_stop") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val (engine, _) = newEngine()
    engine.buckets.register(
      new TestdataBucket("events", "/root/testdata/sf0.001", "events"))
    val j = JsonMethods.parse(engine.readFromBucketJson("events",
      "1704067200", "1704074400", HOUR, "avg(value)"))
    assert((j \ "timestamps") match {
      case JArray(ts) => ts.length == 2; case _ => false
    })
    assert((j \ "observed" \ "avg_value") match {
      case JArray(vs) => vs.length == 2; case _ => false
    })

    // idempotent _start: same loop instance; _stop deregisters
    engine.createModel(
      s"""{"name": "m2", "type": "seasonal", "bucket_interval": "1h",
         |  "features": [{"name": "avg_v", "metric": "avg", "field": "value"}],
         |  "default_bucket": "events"}""".stripMargin)
    engine.trainModel("m2", "1704067200", "1704672000")
    val loop1 = engine.startScheduled("m2")
    assert(engine.startScheduled("m2") eq loop1)
    assert(engine.stopScheduled("m2"))
    assert(!engine.stopScheduled("m2"))
    assert(engine.startScheduled("m2") ne loop1)
  }

  test("model list/delete + per-model hooks CRUD and _hook_test " +
      "(models.asciidoc:44-64, hooks.asciidoc)") {
    val (engine, root) = newEngine()
    def mk(n: String) = engine.createModel(
      s"""{"name":"$n","type":"seasonal","features":[
         |{"name":"avg_v","metric":"avg","field":"v"}],
         |"bucket_interval":"1h"}""".stripMargin)
    mk("mb"); mk("ma"); mk("mc")
    assert(engine.listModels().map(_.name) == Seq("ma", "mb", "mc"))

    // hooks: attach, list, test, delete
    val store = new graft.ml.AnnotationStore
    engine.putHook("ma", new graft.ml.AnnotationHook(store))
    assert(engine.listHooks("ma") == Seq("annotations"))
    assert(engine.testHook("ma", "annotations", nowEpoch = 1000L))
    assert(store.size == 1) // synthetic start+end reached the hook
    assert(!engine.testHook("ma", "nope"))
    assertThrows[IllegalArgumentException](
      engine.putHook("zz", new graft.ml.AnnotationHook(store)))

    // delete: semicolon-separated, storage cleaned, hooks detached
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "ma", "v1"))
    assert(engine.deleteModel("ma;mc;nope") == 2)
    assert(engine.listModels().map(_.name) == Seq("mb"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "ma")))
    assert(engine.listHooks("ma").isEmpty)
    assertThrows[IllegalArgumentException](engine.getModel("ma"))
  }

  test("runtime bucket CRUD: settings-JSON create, list, delete, boot " +
      "restore (buckets.asciidoc)") {
    val (engine, root) = newEngine()
    engine.createBucket(
      """{"name":"ev","type":"testdata","dir":"/root/testdata/sf0.001",
        |"table":"events"}""".stripMargin)
    assert(engine.listBuckets().contains("ev"))
    // usable immediately through _read
    assert(engine.readFromBucket("ev", "2024-01-01T00:00:00.000Z",
      "2024-01-01T06:00:00.000Z", HOUR, "count(value)").count() == 6)
    assertThrows[IllegalArgumentException](engine.createBucket(
      """{"name":"x","type":"influxdb","addr":"localhost"}"""))
    // boot restore: a new engine over the same root sees the bucket
    val e2 = new Engine(spark, new BucketRegistry, root)
    assert(e2.listBuckets() == Seq("ev"))
    assert(e2.deleteBucket("ev;nope") == 1)
    assert(e2.listBuckets().isEmpty)
    assert(new Engine(spark, new BucketRegistry, root).listBuckets().isEmpty)
  }

  test("json and orc buckets: write, settings-create, _read end to end") {
    val (engine, _) = newEngine()
    val base = java.nio.file.Files.createTempDirectory("srcs").toString
    val pts = (0 until 48).map(t => (t * HOUR, (t % 24).toDouble))
      .toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
    pts.write.json(s"$base/j")
    pts.write.orc(s"$base/o")
    engine.createBucket(
      s"""{"name":"bj","type":"json","path":"$base/j","timestamp_field":"ts"}""")
    engine.createBucket(s"""{"name":"bo","type":"orc","path":"$base/o"}""")
    for (b <- Seq("bj", "bo")) {
      val out = engine.readFromBucket(b, "1970-01-01T00:00:00.000Z",
        "1970-01-02T00:00:00.000Z", HOUR, "avg(value)")
      assert(out.count() == 24, b)
      assert(out.agg(max(col("avg_value"))).collect()(0).getDouble(0) == 23.0, b)
    }
  }

  test("boot sweeps crash leftovers: staging dirs and temp files go, " +
      "checkpoints, ACTIVE, run state, bucket and scheduled-job JSON stay") {
    import java.nio.file.{Files, Paths}
    val (engine, root) = newEngine()
    val dir = Files.createTempDirectory("sweep").toString + "/pts"
    (0 until 48).map(t => (t * HOUR, 10.0)).toDF("epoch", "value")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("value"))
      .write.parquet(dir)
    engine.createBucket(s"""{"name": "pts", "type": "parquet", "path": "$dir"}""")
    engine.createModel(
      """{"name": "m", "type": "seasonal", "default_bucket": "pts",
        |  "features": [{"name": "avg_v", "metric": "avg", "field": "value"}],
        |  "bucket_interval": "1h"}""".stripMargin)
    assert(engine.trainModel("m", "0", (48L * HOUR).toString) == 1)
    val state = graft.ml.RunState(open = true, lastEndTs = Some(7L), episodeMax = 99.0)
    graft.streaming.StateStore.save(root, "m", state)
    new graft.api.ScheduledJobs(engine, root).create(
      """{"name": "nightly", "method": "post", "relative_url": "/models/m/_train",
        |"params": {"from": "now-2d", "to": "now"},
        |"every": {"count": 1, "unit": "day"}}""".stripMargin, nowEpoch = 0L)

    // what a crash mid-commit and mid-write leaves behind
    val stage = Paths.get(root, "m", ".stage-0b1c")
    Files.createDirectories(stage.resolve("profile.parquet"))
    Files.writeString(stage.resolve("settings.json"), "{}")
    val tmps = Seq(Paths.get(root, "m", ".ACTIVE.0b1c.tmp"),
      Paths.get(root, "m", ".run_state.json.0b1c.tmp"),
      Paths.get(root, "buckets", ".pts.json.0b1c.tmp"),
      Paths.get(root, "scheduled_jobs", ".nightly.json.0b1c.tmp"))
    tmps.foreach(Files.writeString(_, "partial"))

    val rebooted = new Engine(spark, new BucketRegistry, root)
    assert(!Files.exists(stage))
    tmps.foreach(t => assert(!Files.exists(t), t))
    assert(Files.isDirectory(Paths.get(root, "m", "ckpt-1")))
    assert(graft.io.ModelStore.activeVersion(root, "m").contains(1))
    assert(graft.streaming.StateStore.load(root, "m") == state)
    assert(rebooted.listBuckets() == Seq("pts"))
    assert(new graft.api.ScheduledJobs(rebooted, root).list.map(_.name) == Seq("nightly"))
    rebooted.createModel(engine.getModel("m").raw)
    assert(rebooted.evalModel("m", "0", (24L * HOUR).toString).count() == 24)
  }

  test("key schema validation mirrors tests/test_schemas.py:test_key") {
    import graft.api.Schemas
    Seq("foo", "foo_bar", "Foo-Bar", "00_foo_00_bar_001", "_foo")
      .foreach(k => assert(Schemas.isKey(k), k))
    Seq("", "foo/bar", ".foo", "a b", "a.b").foreach(k =>
      assert(!Schemas.isKey(k), k))
    val (engine, _) = newEngine()
    assertThrows[IllegalArgumentException](engine.createModel(
      """{"name":"bad/name","type":"seasonal","bucket_interval":60,
        |"features":[{"name":"f","metric":"avg","field":"v"}]}""".stripMargin))
    assertThrows[IllegalArgumentException](engine.createBucket(
      """{"name":"../escape","type":"parquet","path":"/tmp/x"}"""))
  }

  test("settings parse: timedelta strings, match_all, previous fill") {
    val s = ModelSettings.parse(
      """{"name": "m", "type": "seasonal", "bucket_interval": 60,
        |  "grace_period": "140m",
        |  "features": [{"name": "f", "metric": "count", "field": "v",
        |    "match_all": [{"tag": "host", "value": "web-1"}],
        |    "default": "previous", "anomaly_type": "high"}]}""".stripMargin)
    assert(s.gracePeriod == 140 * 60)
    val f = s.features.head
    assert(f.matchAll == Seq("host" -> "web-1"))
    assert(f.fill == graft.operators.PreviousFill)
    assert(f.anomalyType == "high")
    assertThrows[IllegalArgumentException](
      ModelSettings.parse("""{"name":"m","bucket_interval":60,"features":[]}"""))
  }
}
