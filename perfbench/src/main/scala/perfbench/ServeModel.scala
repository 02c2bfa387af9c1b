package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.json4s._

import graft.api.ModelSettings
import graft.io.{Format, ModelStore}
import graft.ml.{AnomalyScan, ModelRegistry}
import graft.operators.TimesQuery

/** A model the `serve_model` clients use: one type, feature-filtered to
  * one host, owned by one client (a model's requests never overlap). */
final case class ModelDef(name: String, tpe: String, host: Int, client: Int,
    extra: String = "", interval: String = "1h", bucket: String = "metrics") {
  def settings: String =
    s"""{"name": "$name", "type": "$tpe",
       | "features": [{"name": "avg_cpu", "metric": "avg", "field": "cpu",
       |               "match_all": [{"tag": "host", "value": "h$host"}]}],
       | "bucket_interval": "$interval", "interval": "$interval", "offset": "0s",
       | "period": 86400, "max_threshold": 99.7, "min_threshold": 68.0,
       | "default_bucket": "$bucket"$extra}""".stripMargin
}

/** One model job: `kind` is eval, forecast or train, over `[from, to[`. */
final case class ModelReq(kind: String, model: ModelDef, from: Long, to: Long) {
  def path: String = s"/models/${model.name}/_$kind?from=$from&to=$to"
}

object ModelGen {
  import PointsGen.Day

  val Models = Seq(
    ModelDef("seasonal_h0", "seasonal", 0, 0),
    // patience = epochs: every _train runs all 10 epochs, so its cost does
    // not depend on where early stopping happens to land
    ModelDef("donut_h2", "donut_vae", 2, 0, extra = """, "epochs": 10, "patience": 10"""),
    ModelDef("hw_h1", "holtwinters", 1, 1))
  val Clients = 2

  /** Training ranges lie before the anomaly days, eval ranges in them. */
  def train(m: ModelDef, d: ServeData, day: Int): ModelReq =
    ModelReq("train", m, d.start + day * Day, d.start + (day + 14) * Day)
  def eval(m: ModelDef, d: ServeData, day: Int): ModelReq =
    ModelReq("eval", m, d.start + day * Day, d.start + (day + 1) * Day)
  def forecast(m: ModelDef, d: ServeData, hour: Int, hours: Int): ModelReq =
    ModelReq("forecast", m, d.end + hour * 3600L, d.end + (hour + hours) * 3600L)

  /** 12 eval, 5 forecast and 3 train in every 20 requests, spread out. */
  private val Pattern = "EFETEFEEFETEEFEETEFE"

  /** Client `c`'s sequence: `Pattern` repeated, each kind cycling over the
    * models the client owns. Every request of a kind covers the same span
    * (eval 1 day, forecast 24 hours, train 14 days); the seed draws where. */
  def requests(seed: Long, d: ServeData, c: Int, n: Int): IndexedSeq[ModelReq] = {
    val rnd = new java.util.Random(seed * 104729 + c)
    val mine = Models.filter(_.client == c)
    val used = scala.collection.mutable.Map.empty[Char, Int].withDefaultValue(0)
    (0 until n).map { i =>
      val kind = Pattern(i % Pattern.length)
      val m = mine(used(kind) % mine.size)
      used(kind) += 1
      kind match {
        case 'E' => eval(m, d, d.evalFirstDay + rnd.nextInt(90 - d.evalFirstDay))
        case 'F' => forecast(m, d, rnd.nextInt(24), 24)
        case _ => train(m, d, 30 + rnd.nextInt(33))
      }
    }
  }

  /** eval: 24 hourly buckets and every planted anomaly of the model's host
    * in range flagged; forecast: the requested number of buckets; train:
    * a checkpoint version. */
  def valid(d: ServeData, r: ModelReq, result: JValue): Boolean = r.kind match {
    case "eval" =>
      val rows = J.arr(result)
      val flagged = rows.filter(b => (b \ "stats" \ "anomaly") == JBool(true))
        .map(b => J.long(b \ "timestamp")).toSet
      rows.length == ((r.to - r.from) / 3600).toInt &&
        d.planted.filter(p => p.host == r.model.host && p.from >= r.from && p.from < r.to)
          .forall(p => flagged(p.from))
    case "forecast" =>
      J.arr(result \ "timestamps").length == ((r.to - r.from) / 3600).toInt
    case "train" =>
      J.optDouble(result \ "trained_buckets").isDefined
  }
}

/** `serve_model`: closed loop, 2 HTTP clients, model jobs on 3 models. */
object ServeModel {
  def run(a: Args): String = {
    val work = WorkDir.fresh("serve_model")
    val data = new ServeData(a.seed)
    val bucketDir = work.resolve("metrics")
    val seqs = (0 until ModelGen.Clients).map(c => ModelGen.requests(a.seed, data, c, 5000))
    val first = ModelGen.Models.head
    val warmups = Seq(ModelGen.eval(first, data, data.evalFirstDay),
      ModelGen.forecast(first, data, 0, 24), ModelGen.train(first, data, 46))
    val tally = new Tally

    def checkJob(r: ModelReq, t: JobTiming): Unit =
      if (t.state != "done") tally.fail(s"${r.kind} ${r.model.name}: ${t.state} ${t.error}")
      else tally.check(s"${r.kind} ${r.model.name} [${r.from}, ${r.to}[")(ModelGen.valid(data, r, t.result))

    val clock = new SetupClock
    val spark = Session.start(work)
    clock.exclude("generate") { PointsGen.writeParquet(spark, data.spec, bucketDir, data.files) }
    val daemon = new Daemon(spark, work, bucketDir)
    ModelGen.Models.foreach { m =>
      val (code, body) = daemon.http.send("POST", "/models", m.settings)
      tally.check(s"create ${m.name}: $body")(code == 201)
    }
    clock.exclude("pretrain") {
      // each client trains its own models
      Loop.each(ModelGen.Clients) { c =>
        ModelGen.Models.filter(_.client == c).foreach { m =>
          val r = ModelGen.train(m, data, 46)
          checkJob(r, daemon.http.job(r.path))
        }
      }
    }
    warmups.foreach(r => checkJob(r, daemon.http.job(r.path)))
    val setupS = clock.setupSeconds
    Report.detail("setup", Seq("setup_s" -> setupS) ++
      clock.excluded.toSeq.map { case (k, v) => s"excluded_${k}_ms" -> v })
    val http = daemon.http

    val out =
      if (!a.trace) {
        val recs = new Records[(ModelReq, JobTiming)]
        val next = Array.fill(ModelGen.Clients)(0)
        def client(c: Int): (ModelReq, JobTiming) = {
          val r = seqs(c)(next(c)); next(c) += 1
          val t = http.job(r.path)
          tally.attempt()
          checkJob(r, t)
          r -> t.copy(result = JNothing)
        }
        Loop.closed(ModelGen.Clients, Clock.SettleSeconds)(client)
        val elapsed = Loop.closed(ModelGen.Clients, a.seconds)(c => recs.add(client(c)))
        val all = recs.all
        def lat(kind: String) = all.filter(_._1.kind == kind).map(_._2.latencyMs)
        val evalLat = lat("eval")
        val rps = all.size / (elapsed / 1000)
        Report.detail("serve_model", Seq("requests" -> all.size, "clients" -> ModelGen.Clients,
          "eval_n" -> evalLat.size, "forecast_n" -> lat("forecast").size, "train_n" -> lat("train").size,
          "eval_p50_ms" -> Pct.median(evalLat), "eval_p90_ms" -> Pct.q(evalLat, 0.9),
          "forecast_p50_ms" -> Pct.median(lat("forecast")),
          "train_p50_ms" -> Pct.median(lat("train")), "model_rps" -> rps,
          "all_p50_ms" -> Pct.median(all.map(_._2.latencyMs))))
        recs.clear()
        val heap = Jvm.liveHeapMb()
        Seq(("p50_ms", Pct.median(evalLat), "ms"), ("ops_per_s", rps, "1/s"), ("setup_s", setupS, "s"),
          ("live_heap_mb", heap, "MB"))
      } else {
        // one client, alternating the two clients' sequences
        val order = Iterator.from(0).map(k => seqs(k % 2)(k / 2))
        val untraced = mutable.ArrayBuffer.empty[(ModelReq, JobTiming)]
        val tS = Clock.nowMs()
        while (Clock.nowMs() - tS < Clock.SettleSeconds * 1000) {
          val r = order.next()
          val t = http.job(r.path)
          tally.attempt(); checkJob(r, t)
        }
        val tU = Clock.nowMs()
        while (Clock.nowMs() - tU < a.seconds * 350) {
          val r = order.next()
          val t = http.job(r.path)
          tally.attempt(); checkJob(r, t)
          untraced += r -> t.copy(result = JNothing)
        }
        val tracer = new Tracer(spark)
        val bucket = daemon.engine.buckets("metrics")
        val root = daemon.storeRoot
        val (bytes, files) = WorkDir.sizeBytes(bucketDir, ".parquet")
        val gc0 = Jvm.gcMs()
        val tT = Clock.nowMs()
        var n = 0
        while (n < untraced.size && Clock.nowMs() - tT < a.seconds * 650) {
          val r = untraced(n)._1
          val s = ModelSettings.parse(r.model.settings)
          val feat = s.features.head
          def load() = tracer.span("io.model_load") {
            val (profile, json) = ModelStore.load(spark, root, r.model.name)
            ModelRegistry(s.tpe).load(spark, profile.localCheckpoint(true), json)
          }
          def fetch(f: Long, t: Long) = {
            tracer.note("sources.files", files)
            tracer.note("sources.bytes_per_point", bytes.toDouble / data.spec.size)
            val pts = tracer.span("sources.read_points") {
              val (af, at) = TimesQuery.alignRange(f, t, s.bucketInterval)
              TimesQuery.rangeFilter(bucket.readPoints(spark), bucket.timestampField, af, at)
                .localCheckpoint(true)
            }
            // outside the sources span: counting re-reads the checkpoint
            tracer.span("trace.count") { tracer.note("sources.rows_in_range", pts.count().toDouble) }
            val df = tracer.span("times.build") {
              TimesQuery.run(spark, pts, bucket.timestampField, s.bucketInterval, f, t, Seq(feat))
            }
            tracer.span("times.plan") { df.queryExecution.executedPlan }
            val rows = tracer.span("times.exec") { df.collect() }
            tracer.note("times.buckets", rows.length.toDouble)
            Traced.local(spark, rows, df)
          }
          tally.attempt()
          val result: String = tracer.request(n) {
            r.kind match {
              case "eval" =>
                val model = load()
                val series = fetch(r.from - 2 * s.period, r.to)
                val scored = tracer.span("ml.predict") {
                  model.predict(series, feat.name, feat.anomalyType)
                    .filter(col("bucket") >= r.from && col("bucket") < r.to)
                    .withColumn("score", coalesce(col("score"), lit(0.0)))
                    .localCheckpoint(true)
                }
                val scanned = tracer.span("ml.scan") {
                  val df = AnomalyScan.scan(scored, maxThreshold = s.maxThreshold,
                    minThreshold = s.minThreshold, gracePeriodSec = s.gracePeriod)
                  Traced.local(spark, df.collect(), df)
                }
                tracer.span("api.format") { Format.buckets(scanned, Seq(feat.name)) }
              case "forecast" =>
                val model = load()
                val fc = tracer.span("ml.forecast") {
                  val df = model.forecastCI(spark, r.from, r.to, 0.68, 0.0)
                  Traced.local(spark, df.collect(), df)
                }
                tracer.span("api.format") {
                  Format.series(fc.withColumnRenamed("predicted", "value"), Seq("value"))
                }
              case "train" =>
                val series = fetch(r.from, r.to)
                val trained = tracer.span("ml.train") {
                  val m = ModelRegistry(s.tpe).train(series, feat.name, s.canonicalJson)
                  m.profile.count()
                  m
                }
                val v = tracer.span("io.model_save") { trained.save(root, r.model.name) }
                s"""{"trained_buckets": $v}"""
            }
          }
          tally.check(s"traced ${r.kind} ${r.model.name}")(
            ModelGen.valid(data, r, org.json4s.jackson.JsonMethods.parse(result)))
          n += 1
        }
        val gcPerReq = (Jvm.gcMs() - gc0) / n.max(1)
        tracer.finish()
        tracer.write(work.resolve("spans.jsonl"))
        val extra = Traced.apiMetrics(untraced.map(_._2).toSeq) ++
          Traced.overhead(tracer.requestMs().map(_._2), untraced.take(n).map(_._2.latencyMs).toSeq) +
          ("spark.gc_ms" -> gcPerReq)
        Report.detail("trace", Seq("untraced_requests" -> untraced.size, "traced_requests" -> n,
          "spans" -> work.resolve("spans.jsonl").toString))
        val (metrics, all) = Tracer.report(tracer.perRequest().values, extra)
        Report.detail("layers", all)
        metrics
      }
    daemon.stop()
    Session.stop(spark)
    Report.result(tally.failed == 0, tally, out)
  }
}
