package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.api.{Engine, ModelSettings}
import graft.io.ModelStore
import graft.ml.{AnomalyScan, Hook, Hooks, ModelRegistry, RunState}
import graft.operators.TimesQuery
import graft.sources.{BucketRegistry, BucketSettings}
import graft.streaming.StateStore

/** Records every anomaly start a model's hook receives. */
final class AlertLog {
  val starts = mutable.ArrayBuffer.empty[(String, Long)]
  def hook(model: String): Hook = new Hook {
    val name = "perfbench-alerts"
    def onAnomalyStart(ts: Long, score: Double, predicted: Option[Double],
        observed: Option[Double], anomalies: Map[String, (String, Double)]): Unit =
      starts.synchronized { starts += model -> ts }
  }
  def take(): Set[(String, Long)] = starts.synchronized {
    val s = starts.toSet; starts.clear(); s
  }
}

/** The simulated feed: 3 hosts, one point per host per minute, 5-minute
  * buckets. History: 8 days before `t0` (noise ±2). Tick k appends
  * `[t0 + 300k, t0 + 300(k+1)[` (noise ±0.2); some ticks carry a +40
  * anomaly on one host, never on the same host two ticks running. */
final class Feed(seed: Long) {
  import PointsGen.Day
  val hosts = 3
  val t0: Long = 1711929600L // 2024-04-01T00:00:00Z
  val tick = 300L
  val step = 60L
  val historyDays = 8
  val history: PointsSpec =
    PointsSpec(seed, hosts, t0 - historyDays * Day, t0, step, 2.0, Nil, 0.0)
  val models = Seq(
    ModelDef("seasonal_h0", "seasonal", 0, 0, interval = "5m", bucket = "live"),
    ModelDef("seasonal_h1", "seasonal", 1, 0, interval = "5m", bucket = "live"),
    ModelDef("hw_h2", "holtwinters", 2, 0, interval = "5m", bucket = "live"))
  /** Tick 0 is the warm-up tick and carries no anomaly. */
  val firstPlanted = 1

  val planted: IndexedSeq[Option[Int]] = {
    val rnd = new java.util.Random(seed * 65537 + 11)
    var prev: Option[Int] = None
    (0 until 5000).map { k =>
      val h = rnd.nextInt(hosts)
      val p = if (k >= firstPlanted && rnd.nextDouble() < 0.3 && !prev.contains(h)) Some(h) else None
      prev = p; p
    }
  }

  def start(k: Int): Long = t0 + k * tick
  /** Tick `k`'s points as one batch, so each append adds one file. */
  def batch(spark: SparkSession, k: Int): DataFrame = points(k).localFrame(spark).coalesce(1)
  def points(k: Int): PointsSpec =
    PointsSpec(seed + 7919L * (k + 1), hosts, start(k), start(k) + tick, step, 0.2,
      planted(k).map(h => Planted(h, start(k), start(k) + tick)).toSeq, 40.0)
  /** The starts tick `k` must fire: (model, bucket). */
  def expected(k: Int): Set[(String, Long)] =
    planted(k).toSeq.flatMap(h => models.filter(_.host == h).map(_.name -> start(k))).toSet

  def write(spark: SparkSession, dir: Path): Unit =
    PointsGen.writeParquet(spark, history, dir, 4)
}

/** `ingest_alert`: one thread, a simulated clock, no timers. Each tick
  * appends one bucket interval with `writePoints` and runs
  * `Engine.startScheduled(m).evalOnce(now)` for every model. */
object IngestAlert {
  /** Untimed seconds of ticks before the timed window. Tick times fall
    * by about a quarter over the first 40 s after the cold tick while the
    * JIT compiles the Spark read and eval paths; this skips the steepest
    * part of that fall. */
  val SettleSeconds = 10.0

  def engine(spark: SparkSession, work: Path, buckets: Seq[(String, Path)]): Engine = {
    val reg = new BucketRegistry
    buckets.foreach { case (name, dir) =>
      reg.register(BucketSettings.fromJson(
        s"""{"name": "$name", "type": "parquet", "path": "$dir", "timestamp_field": "ts"}"""))
    }
    new Engine(spark, reg, work.resolve("store").toString)
  }

  def run(a: Args): String = {
    val work = WorkDir.fresh("ingest_alert")
    val feed = new Feed(a.seed)
    val liveDir = work.resolve("live")
    val tracedDir = work.resolve("live_traced")
    val tally = new Tally
    val log = new AlertLog
    var spark: SparkSession = null
    var eng: Engine = null
    var k = 0

    /** One tick on the live bucket: append, then every model's evalOnce.
      * Returns (append ms, alert ms per model, tick ms). */
    def tickOnce(): (Double, Seq[Double], Double) = {
      val df = feed.batch(spark, k)
      val t0 = Clock.nowMs()
      eng.buckets("live").writePoints(df)
      val appended = Clock.nowMs()
      val alerts = feed.models.map { m =>
        eng.startScheduled(m.name).evalOnce(feed.start(k) + feed.tick)
        Clock.nowMs() - t0
      }
      val end = Clock.nowMs()
      tally.attempt(feed.models.size)
      val got = log.take()
      val want = feed.expected(k)
      tally.check(s"tick $k alerts ${got.mkString(",")} == ${want.mkString(",")}")(got == want)
      k += 1
      (appended - t0, alerts, end - t0)
    }

    val clock = new SetupClock
    spark = Session.start(work)
    clock.exclude("generate") {
      feed.write(spark, liveDir)
      if (a.trace) feed.write(spark, tracedDir)
    }
    eng = engine(spark, work, Seq("live" -> liveDir, "live_traced" -> tracedDir))
    feed.models.foreach(m => eng.createModel(m.settings))
    clock.exclude("pretrain") {
      Loop.each(feed.models.size) { i =>
        eng.trainModel(feed.models(i).name,
          (feed.t0 - feed.historyDays * PointsGen.Day).toString, feed.t0.toString)
      }
    }
    feed.models.foreach(m => eng.startScheduled(m.name, hooks = Seq(log.hook(m.name))))
    tickOnce() // warm-up: the first cold tick
    val setupS = clock.setupSeconds
    Report.detail("setup", Seq("setup_s" -> setupS) ++
      clock.excluded.toSeq.map { case (key, v) => s"excluded_${key}_ms" -> v })

    val out =
      if (!a.trace) {
        val appends = mutable.ArrayBuffer.empty[Double]
        val alerts = mutable.ArrayBuffer.empty[Double]
        val tickMs = mutable.ArrayBuffer.empty[Double]
        val tSettle = Clock.nowMs()
        while (Clock.nowMs() - tSettle < SettleSeconds * 1000) tickOnce()
        val firstTimed = k
        val tStart = Clock.nowMs()
        while (Clock.nowMs() - tStart < a.seconds * 1000) {
          val (ap, al, tm) = tickOnce()
          appends += ap; alerts ++= al; tickMs += tm
        }
        val elapsed = Clock.nowMs() - tStart
        val ticks = k - firstTimed
        val (_, files) = WorkDir.sizeBytes(liveDir, ".parquet")
        Report.detail("ingest_alert", Seq("ticks" -> ticks, "alert_samples" -> alerts.size,
          "alert_p50_ms" -> Pct.median(alerts), "alert_p90_ms" -> Pct.q(alerts, 0.9),
          "append_p50_ms" -> Pct.median(appends), "ticks_per_s" -> ticks / (elapsed / 1000),
          "planted" -> (firstTimed until k).count(feed.planted(_).isDefined),
          "bucket_files" -> files, "models" -> feed.models.size,
          "tick_ms" -> tickMs.map(x => f"$x%.0f").mkString(" ")))
        val heap = Jvm.liveHeapMb()
        Seq(("p50_ms", Pct.median(alerts), "ms"), ("ops_per_s", ticks / (elapsed / 1000), "1/s"),
          ("setup_s", setupS, "s"), ("live_heap_mb", heap, "MB"))
      } else traced(a, spark, eng, feed, tally, log, tracedDir, work, () => tickOnce(), () => k)
    Session.stop(spark)
    Report.result(tally.failed == 0, tally, out)
  }

  /** Untraced ticks on the live bucket, then the same ticks on a copy of
    * the history, through the layers' functions with tracing on: the
    * evalOnce steps (load → fetch → predict → scan → hooks, run state
    * around the scan) called one by one, state kept under its own root. */
  private def traced(a: Args, spark: SparkSession, eng: Engine, feed: Feed, tally: Tally,
      log: AlertLog, tracedDir: Path, work: Path, tickOnce: () => (Double, Seq[Double], Double),
      curTick: () => Int): Seq[(String, Double, String)] = {
    val tSettle = Clock.nowMs()
    while (Clock.nowMs() - tSettle < SettleSeconds * 1000) tickOnce()
    val firstTick = curTick()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tU = Clock.nowMs()
    while (Clock.nowMs() - tU < a.seconds * 350) untraced += tickOnce()._3
    val lastTick = curTick()
    val bucket = eng.buckets("live_traced")
    val stateRoot = work.resolve("traced-state").toString
    val settings = feed.models.map(m => ModelSettings.parse(m.settings))
    val storeRoot = work.resolve("store").toString
    val tracer = new Tracer(spark)
    val gc0 = Jvm.gcMs()
    val tT = Clock.nowMs()
    // the traced copy starts where the live bucket started: replay the
    // warm-up and settle ticks untraced, then trace the ticks the untraced
    // pass ran
    for (j <- 0 until firstTick) bucket.writePoints(feed.batch(spark, j))
    var j = firstTick
    while (j < lastTick && Clock.nowMs() - tT < a.seconds * 650) {
      val df = feed.batch(spark, j)
      val tickStart = feed.start(j)
      feed.models.indices.foreach { mi =>
        val s = settings(mi)
        val feat = s.features.head
        val name = feed.models(mi).name
        tally.attempt()
        tracer.request(j * 10 + mi) {
          if (mi == 0) {
            tracer.span("sources.append") { bucket.writePoints(df) }
            val (bytes, files) = WorkDir.sizeBytes(tracedDir, ".parquet")
            tracer.note("sources.files", files)
            tracer.note("sources.bytes_per_point", bytes.toDouble /
              (feed.history.size + (j + 1) * feed.hosts * (feed.tick / feed.step)))
          }
          tracer.span("streaming.eval_once") {
            val model = tracer.span("io.model_load") {
              val (profile, json) = ModelStore.load(spark, storeRoot, name)
              ModelRegistry(s.tpe).load(spark, profile.localCheckpoint(true), json)
            }
            val from = tickStart
            val to = tickStart + feed.tick
            val pts = tracer.span("sources.read_points") {
              val (af, at) = TimesQuery.alignRange(from - 2 * s.period, to, s.bucketInterval)
              TimesQuery.rangeFilter(bucket.readPoints(spark), bucket.timestampField, af, at)
                .localCheckpoint(true)
            }
            // outside the sources span: counting re-reads the checkpoint
            tracer.span("trace.count") { tracer.note("sources.rows_in_range", pts.count().toDouble) }
            val series = tracer.span("times.build") {
              TimesQuery.run(spark, pts, bucket.timestampField, s.bucketInterval,
                from - 2 * s.period, to, Seq(feat))
            }
            tracer.span("times.plan") { series.queryExecution.executedPlan }
            val rows = tracer.span("times.exec") { series.collect() }
            tracer.note("times.buckets", rows.length.toDouble)
            val scored = tracer.span("ml.predict") {
              model.predict(Traced.local(spark, rows, series), feat.name)
                .filter(col("bucket") >= from && col("bucket") < to)
                .withColumn("score", coalesce(col("score"), lit(0.0)))
                .localCheckpoint(true)
            }
            val before = tracer.span("streaming.state") { StateStore.load(stateRoot, name) }
            val scanned = tracer.span("ml.scan") {
              val sc = AnomalyScan.scan(scored, maxThreshold = s.maxThreshold,
                minThreshold = s.minThreshold, gracePeriodSec = s.gracePeriod, initial = before)
              Traced.local(spark, sc.collect(), sc)
            }
            tracer.span("ml.hooks") { Hooks.dispatch(scanned, Seq(log.hook(name)), feat.name) }
            tracer.span("streaming.state") {
              StateStore.save(stateRoot, name, RunState.fromScan(scanned, before))
            }
          }
        }
      }
      val got = log.take()
      tally.check(s"traced tick $j alerts ${got.mkString(",")}")(got == feed.expected(j))
      j += 1
    }
    val tracedTicks = j - firstTick
    val gcPerReq = (Jvm.gcMs() - gc0) / (tracedTicks * feed.models.size).max(1)
    tracer.finish()
    tracer.write(work.resolve("spans.jsonl"))
    val tickMs = tracer.requestMs().groupBy(_._1 / 10).toSeq.sortBy(_._1).map(_._2.map(_._2).sum)
    val extra = Traced.overhead(tickMs, untraced.take(tracedTicks).toSeq) +
      ("spark.gc_ms" -> gcPerReq)
    Report.detail("trace", Seq("untraced_ticks" -> untraced.size, "traced_ticks" -> tracedTicks,
      "spans" -> work.resolve("spans.jsonl").toString))
    val (metrics, all) = Tracer.report(tracer.perRequest().values, extra)
    Report.detail("layers", all)
    metrics
  }
}
