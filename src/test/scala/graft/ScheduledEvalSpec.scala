package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml._
import graft.streaming.{EvalParams, ScheduledEval, StateStore}

/** Scheduled near-real-time eval (server.py:1559-1580) with persisted run
  * state (worker.py:255-263) and hooks (api.py:110-139,
  * annotations.py:15-69). The headline guarantee: an anomaly spanning two
  * eval invocations fires exactly one start and one end. */
class ScheduledEvalSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  private class RecordingHook extends Hook {
    val name = "recording"
    val starts = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val ends = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    override def onAnomalyStart(ts: Long, score: Double, predicted: Option[Double],
        observed: Option[Double], anomalies: Map[String, (String, Double)]): Unit = {
      starts += ((ts, score))
      labels ++= anomalies.keys
    }
    override def onAnomalyEnd(ts: Long, score: Double): Unit = ends += ((ts, score))
  }

  // flat-10 world with injected 100-valued anomaly buckets; training-era
  // noise comes from ONE seeded stream (per-bucket re-seeded Randoms have
  // a biased first draw, which shifts the training mean)
  private val anomalyHours = Set(724L, 725L, 726L, 727L, 733L, 737L)
  private val trainNoise: Array[Double] = {
    val rnd = new scala.util.Random(11)
    Array.fill(720)(rnd.nextGaussian() * 0.3)
  }
  private def valueAt(hour: Long): Double =
    if (anomalyHours(hour)) 100.0
    else if (hour < 720) 10.0 + trainNoise(hour.toInt)
    else 10.0
  private def fetch(from: Long, to: Long): DataFrame =
    (from until to by HOUR).map(ts => (ts, valueAt(ts / HOUR))).toDF("bucket", "value")

  private def trainedModel(): TrainedModel =
    WindowReconstructor.train(fetch(0L, 720L * HOUR), "value",
      WindowReconstructor.Params(bucketInterval = HOUR))

  test("anomaly spanning two evals fires exactly one start and one end; " +
      "grace persists across runs (server.py:1559-1580, worker.py:255-263)") {
    val stateRoot = java.nio.file.Files.createTempDirectory("runstate").toString
    val hook = new RecordingHook
    val store = new AnnotationStore
    val ann = new AnnotationHook(store)
    val eval = new ScheduledEval(
      trainedModel(), fetch,
      EvalParams(interval = 6 * HOUR, offset = 0L, bucketInterval = HOUR,
        gracePeriodSec = 6 * HOUR),
      stateRoot, "m1", hooks = Seq(hook, ann))

    // eval 1: window [720h,726h): anomaly opens at 724h
    val w1 = eval.evalOnce(726L * HOUR)
    assert(w1.filter(col("anomaly") === "start").count() == 1)
    assert(StateStore.load(stateRoot, "m1").open)

    // eval 2: window [726h,732h): 726/727 still anomalous → NO second
    // start (state resumed), closes at 728h
    val w2 = eval.evalOnce(732L * HOUR)
    assert(w2.filter(col("anomaly") === "start").count() == 0)
    val ongoing = w2.filter(col("anomaly") === "ongoing")
      .select("bucket").as[Long].collect().toSet
    assert(ongoing == Set(726L * HOUR, 727L * HOUR))
    assert(w2.filter(col("anomaly") === "end")
      .select("bucket").as[Long].collect().toSeq == Seq(728L * HOUR))
    val st2 = StateStore.load(stateRoot, "m1")
    assert(!st2.open && st2.lastEndTs.contains(728L * HOUR))

    // eval 3: window [732h,738h): spike at 733h is 5h after the END →
    // suppressed by grace (closed, no event); spike at 737h is 9h after →
    // fresh start
    val w3 = eval.evalOnce(738L * HOUR)
    assert(w3.filter(col("bucket") === 733L * HOUR)
      .select("anomaly").collect()(0).isNullAt(0))
    assert(w3.filter(col("anomaly") === "start")
      .select("bucket").as[Long].collect().toSeq == Seq(737L * HOUR))

    // eval 4: window [738h,744h): quiet → episode ends at 738h
    eval.evalOnce(744L * HOUR)

    assert(hook.starts.map(_._1).toSeq == Seq(724L * HOUR, 737L * HOUR))
    assert(hook.ends.map(_._1).toSeq == Seq(728L * HOUR, 738L * HOUR))
    // end reports the CLOSING bucket's (recovered) score, per the
    // reference's close branch — the episode max rides in `episode_max`
    assert(hook.ends.forall(_._2 < 68.0))

    // annotation hook: two annotations, both closed, matching the episodes
    val anns = store.toDF(spark).orderBy("start_ts").collect()
    assert(anns.length == 2)
    assert(anns(0).getLong(anns(0).fieldIndex("start_ts")) == 724L * HOUR)
    assert(anns(0).getLong(anns(0).fieldIndex("end_ts")) == 728L * HOUR)
    assert(anns(1).getLong(anns(1).fieldIndex("start_ts")) == 737L * HOUR)
    assert(anns(1).getLong(anns(1).fieldIndex("end_ts")) == 738L * HOUR)
    assert(anns(0).getString(anns(0).fieldIndex("text")).contains("too high"))
  }

  test("evalOnce fires hooks from the collected window: a hook starts " +
      "no Spark job of its own") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val model = trainedModel()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    def inGroup(group: String)(body: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    def evalOnce(group: String, hooks: Seq[Hook]): Unit = {
      val eval = new ScheduledEval(model, fetch,
        EvalParams(interval = 6 * HOUR, offset = 0L, bucketInterval = HOUR),
        java.nio.file.Files.createTempDirectory("jobs").toString, "m", hooks)
      inGroup(group)(eval.evalOnce(726L * HOUR))
    }
    sc.addSparkListener(listener)
    try {
      val hook = new RecordingHook
      evalOnce("evalOnce-no-hook", Nil)
      evalOnce("evalOnce-hook", Seq(hook))
      // the listener bus delivers events in order: once a later job's
      // start is seen, every earlier job start has been counted
      inGroup("evalOnce-sentinel")(sc.parallelize(Seq(1)).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("evalOnce-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      def jobs(group: String) = groups.asScala.count(_ == group)
      assert(hook.starts.map(_._1).toSeq == Seq(724L * HOUR))
      assert(jobs("evalOnce-no-hook") > 0)
      assert(jobs("evalOnce-hook") <= jobs("evalOnce-no-hook"),
        s"with a hook ${jobs("evalOnce-hook")} jobs, " +
          s"without ${jobs("evalOnce-no-hook")}")
    } finally sc.removeSparkListener(listener)
  }

  test("run state round-trips through the store") {
    val root = java.nio.file.Files.createTempDirectory("runstate").toString
    assert(StateStore.load(root, "x") == RunState.empty)
    val st = RunState(open = true, lastEndTs = Some(123L), episodeMax = 87.5)
    StateStore.save(root, "x", st)
    assert(StateStore.load(root, "x") == st)
    StateStore.clear(root, "x")
    assert(StateStore.load(root, "x") == RunState.empty)
  }

  test("run state from a scanned window: an empty window keeps the " +
      "state before it; a trailing end advances lastEndTs and closes") {
    val before = RunState(open = true, lastEndTs = Some(5L), episodeMax = 99.8)
    def window(rows: Seq[(Long, String, java.lang.Double)]): DataFrame =
      rows.toDF("bucket", "anomaly", "episode_max")
    val empty = window(Nil)
    assert(RunState.fromScan(empty, before) == before)
    assert(RunState.fold(empty.collect(), before) == before)
    // the episode ends mid-window; the rows after it carry no marker
    val ended = window(Seq((30L, null, null), (10L, "ongoing", 99.9),
      (20L, "end", 99.9)))
    val want = RunState(open = false, lastEndTs = Some(20L), episodeMax = 0.0)
    assert(RunState.fromScan(ended, before) == want)
    assert(RunState.fold(ended.collect(), before) == want)
  }

  test("streaming eval: watermarked windows, anomaly spanning two " +
      "micro-batches fires one start + one end (SURVEY §2.9)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // model: seasonal on a flat-10 series (sigma=0 → 1 guard → clean bands)
    val train = (0 until 240).map(t => (t * 10L, 10.0)).toDF("bucket", "value")
    val model = ModelRegistry("seasonal")
      .train(train, "value", """{"bucket_interval":10,"period":86400}""")

    val ms = MemoryStream[(Long, Double)]
    val points = ms.toDF()
      .select(timestamp_seconds(col("_1")).as("ts"), col("_2").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Nil, interval = 10L, offsetSec = 0L)

    val stateRoot = java.nio.file.Files.createTempDirectory("srs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val hook = new RecordingHook
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = StreamingEval.start(bucketed, model,
      graft.streaming.EvalParams(interval = 10L, offset = 0L,
        bucketInterval = 10L, maxThreshold = 99.7, minThreshold = 68.0),
      stateRoot, "sm1", hooks = Seq(hook), checkpointDir = ckpt,
      onBatch = b => got ++= b.orderBy("bucket").collect().map(r =>
        (r.getLong(r.fieldIndex("bucket")),
          Option(r.getString(r.fieldIndex("anomaly"))).orNull)))
    try {
      // batch 1: watermark advances to 35 → buckets 0,10,20 close;
      // bucket 20 (value 100) opens the anomaly
      ms.addData((5L, 10.0), (15L, 10.0), (25L, 100.0), (35L, 100.0))
      q.processAllAvailable()
      // batch 2: watermark 55 → buckets 30 (still 100 → ongoing, NO new
      // start) and 40 (back to 10 → end) close
      ms.addData((45L, 10.0), (55L, 10.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(got.toSeq == Seq(
      (0L, null), (10L, null), (20L, "start"), (30L, "ongoing"), (40L, "end")))
    assert(hook.starts.map(_._1).toSeq == Seq(20L))
    assert(hook.ends.map(_._1).toSeq == Seq(40L))
  }

  test("streaming gap materialization: silent buckets spine-fill when data " +
      "resumes, and tick() closes total silence (elastic.py:488-500)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{BucketHistory, StreamingEval}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // count-like world: flat 10 when healthy; a silent source means the
    // metric should read `fill`=0, which the flat-10 model flags
    val train = (0 until 240).map(t => (t * 10L, 10.0)).toDF("bucket", "value")
    val model = ModelRegistry("seasonal")
      .train(train, "value", """{"bucket_interval":10,"period":86400}""")

    val ms = MemoryStream[(Long, Double)]
    val points = ms.toDF()
      .select(timestamp_seconds(col("_1")).as("ts"), col("_2").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Nil, interval = 10L, offsetSec = 0L)

    val stateRoot = java.nio.file.Files.createTempDirectory("srs2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt2").toString
    val params = graft.streaming.EvalParams(interval = 10L, offset = 0L,
      bucketInterval = 10L, maxThreshold = 99.7, minThreshold = 68.0)
    val hook = new RecordingHook
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    val record: DataFrame => Unit =
      b => got ++= b.orderBy("bucket").collect().map(r =>
        (r.getLong(r.fieldIndex("bucket")),
          r.getDouble(r.fieldIndex("value")),
          Option(r.getString(r.fieldIndex("anomaly"))).orNull))
    val q = StreamingEval.start(bucketed, model, params,
      stateRoot, "sm2", hooks = Seq(hook), checkpointDir = ckpt,
      fill = 0.0, onBatch = record)
    try {
      // healthy traffic: buckets 0,10,20 close at value 10
      ms.addData((5L, 10.0), (15L, 10.0), (25L, 10.0), (35L, 10.0))
      q.processAllAvailable()
      assert(got.toSeq == Seq((0L, 10.0, null), (10L, 10.0, null), (20L, 10.0, null)))

      // source goes SILENT for buckets 40,50, then resumes: the watermark
      // jump closes buckets 30 (observed) and 60 (observed); 40,50 are
      // synthesized at fill=0 → the outage raises start/ongoing, recovery
      // at 60 closes it
      ms.addData((65L, 10.0), (75L, 10.0))
      q.processAllAvailable()
      assert(got.drop(3).toSeq == Seq((30L, 10.0, null),
        (40L, 0.0, "start"), (50L, 0.0, "ongoing"), (60L, 10.0, "end")))
    } finally q.stop()

    // TOTAL silence: no event ⇒ no micro-batch ⇒ the caller's scheduler
    // ticks with the wall clock; buckets 70,80 (closed by now=95) fill at
    // 0 and open a fresh episode
    StreamingEval.tick(spark, model, params, stateRoot, "sm2",
      hooks = Seq(hook), fill = 0.0, now = 95L, onBatch = record)
    assert(got.drop(7).toSeq == Seq((70L, 0.0, "start"), (80L, 0.0, "ongoing")))
    // a second tick at the same clock is a no-op (idempotent)
    val n = got.size
    StreamingEval.tick(spark, model, params, stateRoot, "sm2",
      hooks = Seq(hook), fill = 0.0, now = 95L, onBatch = record)
    assert(got.size == n)

    assert(hook.starts.map(_._1).toSeq == Seq(40L, 70L))
    assert(hook.ends.map(_._1).toSeq == Seq(60L))
    // the persisted history carries hwm + trailing context for lag models
    val (hwm, hist) = BucketHistory.load(stateRoot, "sm2")
    assert(hwm.contains(80L))
    assert(hist.nonEmpty && hist.forall(_._1 <= 80L))
  }

  test("streaming lag context: scores match the batch path for a window " +
      "model (no batch/stream drift)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // window reconstructor NEEDS lags: without history context, every lag
    // imputes to slot means and streaming scores drift from batch scores
    val HOUR = 3600L
    val rnd = new scala.util.Random(7)
    val trainVals = Array.fill(720)(10.0 + rnd.nextGaussian() * 0.3)
    def valAt(h: Long): Double = if (h < 720) trainVals(h.toInt) else 10.0 + 0.1 * (h % 5)
    val train = (0L until 720L).map(h => (h * HOUR, valAt(h))).toDF("bucket", "value")
    val model = WindowReconstructor.train(train, "value",
      WindowReconstructor.Params(bucketInterval = HOUR))

    val params = graft.streaming.EvalParams(interval = 6 * HOUR, offset = 0L,
      bucketInterval = HOUR, contextSec = 48 * HOUR)

    // batch path: one predict over [720h, 744h) with full context
    val batchSeries = (672L until 744L).map(h => (h * HOUR, valAt(h))).toDF("bucket", "value")
    val batchScores = model.predict(batchSeries, "value")
      .filter(col("bucket") >= 720L * HOUR)
      .select("bucket", "score").as[(Long, Double)].collect().toMap

    // streaming path: same span in four 6h micro-batches
    val ms = MemoryStream[(Long, Double)]
    val points = ms.toDF()
      .select(timestamp_seconds(col("_1")).as("ts"), col("_2").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Nil, interval = HOUR, offsetSec = 0L)
    val stateRoot = java.nio.file.Files.createTempDirectory("srs3").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt3").toString
    // seed the persisted context exactly as a restarted deployment would
    graft.streaming.BucketHistory.save(stateRoot, "sm3", 719L * HOUR,
      (672L until 720L).map(h => (h * HOUR, valAt(h))))
    val streamScores = scala.collection.mutable.Map.empty[Long, Double]
    val q = StreamingEval.start(bucketed, model, params,
      stateRoot, "sm3", checkpointDir = ckpt,
      onBatch = b => streamScores ++= b.select("bucket", "score")
        .as[(Long, Double)].collect())
    try {
      (720L to 768L by 6).foreach { h0 =>
        ms.addData((h0 until (h0 + 6)).map(h => (h * HOUR, valAt(h))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    assert(batchScores.keySet.subsetOf(streamScores.keySet))
    batchScores.foreach { case (b, s) =>
      assert(math.abs(streamScores(b) - s) < 1e-9,
        s"bucket $b: stream=${streamScores(b)} batch=$s")
    }
  }

  test("streaming autoencoder: scores match the batch path (no " +
      "batch/stream drift for the strongest window model)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // same shape as the reconstructor parity test: the AE's span-window
    // needs span-1 lag buckets of context; contextSec = 48h > span·bi
    val HOUR = 3600L
    val rnd = new scala.util.Random(13)
    def valAt(h: Long): Double =
      8.0 + 3.0 * math.sin(2 * math.Pi * (h % 24) / 24.0) +
        (if (h < 720) rnd.nextGaussian() * 0.2 else 0.1 * (h % 3))
    val trainVals = (0L until 720L).map(valAt) // fix the seeded draws
    def at(h: Long): Double = if (h < 720) trainVals(h.toInt) else valAt(h)
    val train = (0L until 720L).map(h => (h * HOUR, at(h)))
      .toDF("bucket", "value")
    val model = graft.ml.AutoencoderReconstructor.train(train, "value",
      graft.ml.AutoencoderReconstructor.Params(
        bucketInterval = HOUR, hidden = 4, epochs = 30))

    val params = graft.streaming.EvalParams(interval = 6 * HOUR,
      offset = 0L, bucketInterval = HOUR, contextSec = 48 * HOUR)

    val batchSeries = (672L until 744L).map(h => (h * HOUR, at(h)))
      .toDF("bucket", "value")
    val batchScores = model.predict(batchSeries, "value")
      .filter(col("bucket") >= 720L * HOUR)
      .select("bucket", "score").as[(Long, Double)].collect().toMap

    val ms = MemoryStream[(Long, Double)]
    val points = ms.toDF()
      .select(timestamp_seconds(col("_1")).as("ts"), col("_2").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Nil, interval = HOUR, offsetSec = 0L)
    val stateRoot = java.nio.file.Files.createTempDirectory("srs4").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt4").toString
    graft.streaming.BucketHistory.save(stateRoot, "ae_s", 719L * HOUR,
      (672L until 720L).map(h => (h * HOUR, at(h))))
    val streamScores = scala.collection.mutable.Map.empty[Long, Double]
    val q = StreamingEval.start(bucketed, model, params,
      stateRoot, "ae_s", checkpointDir = ckpt,
      onBatch = b => streamScores ++= b.select("bucket", "score")
        .as[(Long, Double)].collect())
    try {
      (720L to 744L by 6).foreach { h0 =>
        ms.addData((h0 until (h0 + 6)).map(h => (h * HOUR, at(h))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    assert(batchScores.keySet.subsetOf(streamScores.keySet))
    batchScores.foreach { case (b, s) =>
      assert(math.abs(streamScores(b) - s) < 1e-9,
        s"bucket $b: stream=${streamScores(b)} batch=$s")
    }
  }

  test("hook test fires a synthetic start+end (donut.py:1316-1331)") {
    val hook = new RecordingHook
    val store = new AnnotationStore
    HookTest.fire(Seq(hook, new AnnotationHook(store)), "cpu",
      nowEpoch = 1000L, bucketInterval = 60L)
    assert(hook.starts.toSeq == Seq((940L, 100.0)))
    assert(hook.ends.toSeq == Seq((1000L, 100.0)))
    val ann = store.toDF(spark).collect()(0)
    assert(ann.getString(ann.fieldIndex("text")).contains("too high"))
    assert(ann.getLong(ann.fieldIndex("end_ts")) == 1000L)
  }

  test("sequential train/validation split (donut.py:989-997)") {
    import graft.operators.TimesQuery
    val series = (0 until 100).map(t => (t * 3600L, t.toDouble))
      .toDF("bucket", "value")
    val (train, valid) = TimesQuery.sequentialSplit(series, 0.67)
    assert(train.count() == 67 && valid.count() == 33)
    // ordered: every train bucket precedes every validation bucket
    val maxTrain = train.agg(max("bucket")).collect()(0).getLong(0)
    val minValid = valid.agg(min("bucket")).collect()(0).getLong(0)
    assert(maxTrain < minValid)
  }

  test("hook exceptions don't break dispatch (donut.py:1545-1548)") {
    val bad = new Hook {
      val name = "bad"
      override def onAnomalyStart(ts: Long, score: Double, p: Option[Double],
          o: Option[Double], a: Map[String, (String, Double)]): Unit =
        sys.error("boom")
    }
    val good = new RecordingHook
    val scanned = AnomalyScan.scan(
      Seq((0L, 10.0), (1L, 99.9), (2L, 10.0)).toDF("bucket", "score"),
      maxThreshold = 99.7, minThreshold = 68.0)
    Hooks.dispatch(scanned, Seq(bad, good))
    assert(good.starts.nonEmpty) // bad hook swallowed, good hook still fired
  }

  test("fleet dispatch streams alerts in (key, bucket) order without one driver array") {
    // 200 series, one episode each: the dispatch path must hold at most
    // one range partition of marker rows on the driver (toLocalIterator
    // over the orderBy's range partitioning — the r8 audit found a
    // single collect() here) while still delivering the global order.
    val rows = (0 until 200).flatMap { k =>
      Seq((f"s$k%03d", 0L, 10.0), (f"s$k%03d", 1L, 99.9),
        (f"s$k%03d", 2L, 10.0))
    }
    val scanned = AnomalyScan.scan(
      rows.toDF("series", "bucket", "score"),
      maxThreshold = 99.7, minThreshold = 68.0,
      seriesKeys = Seq("series"))
    // (no partition-count assertion: AQE legitimately coalesces this
    // tiny sorted frame to one partition — the bounded-driver property
    // is structural: toLocalIterator fetches one partition at a time
    // whatever the count)
    val hook = new RecordingHook
    Hooks.dispatch(scanned, Seq(hook), feature = "cpu",
      keyCols = Seq("series"))
    assert(hook.starts.size == 200 && hook.ends.size == 200)
    // labels identify the series, and arrive in series order
    val labels = hook.labels.toSeq
    assert(labels.head == "cpu[series=s000]" &&
      labels.last == "cpu[series=s199]")
    assert(labels == labels.sorted)
  }
}
