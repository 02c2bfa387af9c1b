package graft

import org.apache.spark.sql.functions._

import graft.ml.FleetScan

/** Fleet-scale keyed anomaly state: the single-model run-state guarantee
  * (one start + one end per episode across eval windows,
  * worker.py:255-263) held PER SERIES with distributed state. */
class FleetScanSpec extends SparkSpec {
  import spark.implicits._

  private def scores(rows: (String, Long, Double)*) =
    rows.toDF("host", "bucket", "score")

  test("per-key episodes span batches: one start, one end, per series; " +
      "silent series carry state (and grace anchor) forward") {
    val keys = Seq("host")
    val s0 = FleetScan.emptyState(spark, keys)

    // batch 1: host a spikes (still open at window end); host b quiet
    val (scan1, st1) = FleetScan.scanWithState(
      scores(("a", 0L, 0.0), ("a", 60L, 99.9), ("a", 120L, 99.9),
        ("b", 0L, 0.0), ("b", 60L, 0.0), ("b", 120L, 0.0)),
      s0, keys, gracePeriodSec = 120L)
    assert(scan1.filter(col("anomaly") === "start").count() == 1)
    val st1c = st1.collect().map(r =>
      r.getString(0) -> (r.getBoolean(1), r.isNullAt(2), r.getDouble(2 + 1))).toMap
    assert(st1c("a") == ((true, true, 99.9)))
    assert(st1c("b") == ((false, true, 0.0)))

    // batch 2: host a still anomalous then recovers → NO second start,
    // one end; host b absent entirely → state row survives
    val (scan2, st2) = FleetScan.scanWithState(
      scores(("a", 180L, 99.9), ("a", 240L, 0.0)),
      st1, keys, gracePeriodSec = 120L)
    assert(scan2.filter(col("anomaly") === "start").count() == 0)
    assert(scan2.filter(col("anomaly") === "ongoing")
      .select("bucket").as[Long].collect().toSeq == Seq(180L))
    assert(scan2.filter(col("anomaly") === "end")
      .select("bucket").as[Long].collect().toSeq == Seq(240L))
    val st2c = st2.collect().map(r =>
      r.getString(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(st2c("a") == ((false, 240L))) // closed, grace anchored at 240
    assert(st2c.contains("b") && st2c("b") == ((false, -1L))) // carried

    // batch 3: host a re-spikes at 300 — 60s after its end, inside its
    // 120s grace → suppressed; host b spikes at 300 — fresh key history,
    // no grace → starts. Grace is PER KEY.
    val (scan3, st3) = FleetScan.scanWithState(
      scores(("a", 300L, 99.9), ("b", 300L, 99.9)),
      st2, keys, gracePeriodSec = 120L)
    val events = scan3.filter(col("anomaly") === "start")
      .select("host").as[String].collect().toSeq
    assert(events == Seq("b"))
    assert(scan3.filter(col("host") === "a" && col("anomaly").isNotNull)
      .count() == 0)
    val st3c = st3.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(st3c == Map("a" -> false, "b" -> true))
  }

  test("streaming fleet eval: per-series episodes span micro-batches, " +
      "events labeled by key, state persisted across triggers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ml.{Hook, ModelRegistry}
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val train = (0 until 240).map(t => (t * 10L, 10.0)).toDF("bucket", "value")
    val model = ModelRegistry("seasonal")
      .train(train, "value", """{"bucket_interval":10,"period":86400}""")

    val ms = MemoryStream[(String, Long, Double)]
    val points = ms.toDF().select(col("_1").as("host"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Seq("host"), interval = 10L, offsetSec = 0L)

    val stateRoot = java.nio.file.Files.createTempDirectory("fleet-s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fleet-c").toString
    val startLabels = scala.collection.mutable.ArrayBuffer.empty[String]
    val hook = new Hook {
      val name = "rec"
      override def onAnomalyStart(ts: Long, score: Double, p: Option[Double],
          o: Option[Double], a: Map[String, (String, Double)]): Unit =
        startLabels ++= a.keys
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val q = StreamingEval.startFleet(bucketed, model,
      graft.streaming.EvalParams(interval = 10L, offset = 0L,
        bucketInterval = 10L, maxThreshold = 99.7, minThreshold = 68.0),
      stateRoot, "fm1", Seq("host"), hooks = Seq(hook), checkpointDir = ckpt,
      onBatch = b => got ++= b.orderBy("host", "bucket").collect().map(r =>
        (r.getString(r.fieldIndex("host")), r.getLong(r.fieldIndex("bucket")),
          Option(r.getString(r.fieldIndex("anomaly"))).orNull)))
    try {
      // batch 1: host a spikes at bucket 20 (open at batch end), b healthy
      ms.addData(("a", 5L, 10.0), ("b", 5L, 10.0),
        ("a", 15L, 10.0), ("b", 15L, 10.0),
        ("a", 25L, 100.0), ("b", 25L, 10.0),
        ("a", 35L, 100.0), ("b", 35L, 10.0))
      q.processAllAvailable()
      // batch 2: host a still anomalous at 30 then recovers at 40 —
      // exactly ONE start for host a across the two micro-batches
      ms.addData(("a", 45L, 10.0), ("b", 45L, 10.0),
        ("a", 55L, 10.0), ("b", 55L, 10.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(got.count(_._3 == "start") == 1)
    assert(got.filter(_._1 == "a").map(e => (e._2, e._3)).toSeq ==
      Seq((0L, null), (10L, null), (20L, "start"), (30L, "ongoing"), (40L, "end")))
    assert(got.filter(_._1 == "b").forall(_._3 == null))
    assert(startLabels.toSeq == Seq("value[host=a]"))
    // persisted fleet state: both hosts closed, host a grace-anchored at 40
    val st = graft.ml.FleetScan.loadState(spark, stateRoot, "fm1", Seq("host"))
      .orderBy("host").collect()
    assert(st.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(!st(0).getBoolean(1) && st(0).getLong(2) == 40L)
  }

  test("fleet gap fill: a series silent mid-fleet alarms via per-key " +
      "spine completion; fleetTick closes total silence for ALL series") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ml.ModelRegistry
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val train = (0 until 240).map(t => (t * 10L, 10.0)).toDF("bucket", "value")
    val model = ModelRegistry("seasonal")
      .train(train, "value", """{"bucket_interval":10,"period":86400}""")
    val params = graft.streaming.EvalParams(interval = 10L, offset = 0L,
      bucketInterval = 10L, maxThreshold = 99.7, minThreshold = 68.0)

    val ms = MemoryStream[(String, Long, Double)]
    val points = ms.toDF().select(col("_1").as("host"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Seq("host"), interval = 10L, offsetSec = 0L)

    val stateRoot = java.nio.file.Files.createTempDirectory("fleet-g").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fleet-gc").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, String)]
    val record: org.apache.spark.sql.DataFrame => Unit =
      b => got ++= b.orderBy("host", "bucket").collect().map(r =>
        (r.getString(r.fieldIndex("host")), r.getLong(r.fieldIndex("bucket")),
          r.getDouble(r.fieldIndex("value")),
          Option(r.getString(r.fieldIndex("anomaly"))).orNull))
    val q = StreamingEval.startFleet(bucketed, model, params,
      stateRoot, "fm2", Seq("host"), checkpointDir = ckpt,
      fill = Some(0.0), onBatch = record)
    try {
      // batch 1: both hosts healthy through bucket 20
      ms.addData(("a", 5L, 10.0), ("b", 5L, 10.0),
        ("a", 15L, 10.0), ("b", 15L, 10.0),
        ("a", 25L, 10.0), ("b", 25L, 10.0),
        ("a", 35L, 10.0), ("b", 35L, 10.0))
      q.processAllAvailable()
      // host b goes SILENT; host a keeps reporting. The batch closes
      // buckets 30 (both hosts' last events) and 40 (a only) — the
      // fleet-wide event-time bound (40) extends b's spine, so b's
      // missing bucket 40 synthesizes at 0 and b alarms while a is clean
      ms.addData(("a", 45L, 10.0), ("a", 55L, 10.0))
      q.processAllAvailable()
    } finally q.stop()

    assert(got.filter(_._1 == "a").forall(_._4 == null))
    val bTail = got.filter(e => e._1 == "b" && e._2 >= 30L)
      .map(e => (e._2, e._3, e._4))
    assert(bTail == Seq((30L, 10.0, null), (40L, 0.0, "start")))

    // BOTH hosts now silent: no micro-batch fires, so the scheduler
    // ticks; buckets 50,60 fill at 0 for both by wall clock — a starts
    // its own episode, b stays ongoing (no second start)
    StreamingEval.fleetTick(spark, model, params, stateRoot, "fm2",
      Seq("host"), fill = 0.0, now = 75L, onBatch = record)
    val tick = got.drop(got.size - 4).toSeq
    assert(tick.map(e => (e._1, e._2, e._4)) == Seq(
      ("a", 50L, "start"), ("a", 60L, "ongoing"),
      ("b", 50L, "ongoing"), ("b", 60L, "ongoing")))
    assert(got.count(e => e._1 == "b" && e._4 == "start") == 1)
  }

  test("FleetSeasonal: one-pass keyed profiles ≡ per-key SeasonalModel; " +
      "each host scored against its OWN baseline in streaming fleet eval") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ml.{SeasonalModel, SeasonalModelParams}
    import graft.streaming.StreamingEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val p = SeasonalModelParams(bucketInterval = 10L, period = 40L)
    // host a lives at 10, host b at 50, with per-slot structure
    def level(h: String, slot: Long): Double =
      (if (h == "a") 10.0 else 50.0) + slot
    val train = (for (h <- Seq("a", "b"); t <- 0 until 240)
      yield (h, t * 10L, level(h, (t % 4).toLong))).toDF("host", "bucket", "value")

    val fleetProfile = SeasonalModel.train(train, "value", Seq("host"), p)
    // equivalence: the one-pass keyed profile equals training each key alone
    for (h <- Seq("a", "b")) {
      val solo = SeasonalModel.train(
        train.filter(col("host") === h), "value", Nil, p)
        .orderBy("slot").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val keyed = fleetProfile.filter(col("host") === h)
        .select("slot", "mu", "sigma").orderBy("slot").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(solo.toSeq == keyed.toSeq, h)
    }

    // streaming fleet: value 10 at slot 0 is NORMAL for a, a collapse
    // for b — only b alarms
    val ms = MemoryStream[(String, Long, Double)]
    val points = ms.toDF().select(col("_1").as("host"),
      timestamp_seconds(col("_2")).as("ts"), col("_3").as("value"))
    val bucketed = StreamingEval.bucketizeKeyed(points, "ts", "value",
      Seq("host"), interval = 10L, offsetSec = 0L)
    val stateRoot = java.nio.file.Files.createTempDirectory("fseas").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fseas-c").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val q = StreamingEval.startFleet(bucketed,
      model = null, // scorer injected below; model unused
      graft.streaming.EvalParams(interval = 10L, offset = 0L,
        bucketInterval = 10L, maxThreshold = 99.7, minThreshold = 68.0),
      stateRoot, "fs1", Seq("host"), checkpointDir = ckpt,
      score = Some(df => SeasonalModel.predict(df, fleetProfile, "value",
        Seq("host"), p)),
      onBatch = b => got ++= b.orderBy("host", "bucket").collect().map(r =>
        (r.getString(r.fieldIndex("host")), r.getLong(r.fieldIndex("bucket")),
          Option(r.getString(r.fieldIndex("anomaly"))).orNull)))
    try {
      // slot 0 buckets: a→10 (its own normal), b→10 (collapsed from 50)
      ms.addData(("a", 2405L, 10.0), ("b", 2405L, 10.0),
        ("a", 2415L, 11.0), ("b", 2415L, 51.0))
      q.processAllAvailable()
    } finally q.stop()
    val byHost = got.groupBy(_._1)
    assert(byHost("a").forall(_._3 == null), s"a alarmed: ${byHost("a")}")
    assert(byHost("b").map(e => (e._2, e._3)).toSeq == Seq((2400L, "start")),
      s"b: ${byHost("b")}")
  }

  test("state table round-trips through versioned persistence") {
    val root = java.nio.file.Files.createTempDirectory("fleet").toString
    val keys = Seq("host")
    assert(FleetScan.loadState(spark, root, "f1", keys).count() == 0)
    val st = Seq(("a", true, Some(10L), 99.9), ("b", false, None, 0.0))
      .map { case (h, o, e, m) =>
        (h, o, e.map(Long.box).orNull.asInstanceOf[java.lang.Long], m, 10L) }
      .toDF("host", "open", "last_end_ts", "episode_max", "hwm")
    assert(FleetScan.saveState(st, root, "f1") == 1)
    val back = FleetScan.loadState(spark, root, "f1", keys)
      .orderBy("host").collect()
    assert(back.length == 2 && back(0).getBoolean(1) && back(0).getLong(2) == 10L)
    // next save bumps the version; ACTIVE flips
    assert(FleetScan.saveState(st.filter(col("host") === "a"), root, "f1") == 2)
    assert(FleetScan.loadState(spark, root, "f1", keys).count() == 1)
    // superseded versions prune after the flip (the ledger must not
    // accrete one dir per run), no temp pointer litter survives, and
    // the versioning stays monotone from the survivor
    def entries = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "f1"))
      try l.toArray.map(_.toString.split('/').last).toSet finally l.close()
    }
    assert(entries === Set("v2", "ACTIVE"), entries.toString)
    assert(FleetScan.saveState(st, root, "f1") == 3)
    assert(FleetScan.loadState(spark, root, "f1", keys).count() == 2)
    // no staging directory or temp pointer outlives a save
    assert(entries === Set("v3", "ACTIVE"), entries.toString)
    assert(!entries.exists(_.startsWith(".")), entries.toString)
  }
}
