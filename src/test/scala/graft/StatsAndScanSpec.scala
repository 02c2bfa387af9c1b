package graft

import org.apache.spark.sql.functions._

import graft.functions.{Metrics, Stats}
import graft.ml.AnomalyScan

class StatsAndScanSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c.as("v")).collect()(0).getDouble(0)

  test("erf matches known values to 1.5e-7 (A&S 7.1.26 bound)") {
    assert(math.abs(eval1(Stats.erf(lit(1.0))) - 0.8427007929) < 1.5e-7)
    assert(math.abs(eval1(Stats.erf(lit(-1.0))) + 0.8427007929) < 1.5e-7)
    assert(math.abs(eval1(Stats.erf(lit(0.0)))) < 1.5e-7) // A&S bound, not exact at 0
  }

  test("normCdf: Φ(0)=0.5, Φ(3)≈0.99865") {
    assert(math.abs(eval1(Stats.normCdf(lit(0.0))) - 0.5) < 1e-9)
    assert(math.abs(eval1(Stats.normCdf(lit(3.0))) - 0.99865) < 1e-4)
  }

  test("rocAuc: perfect ranking = 1, inverted = 0, random-tie = 0.5, " +
      "hand case with ties, degenerate single-class = null") {
    import graft.functions.Stats
    def auc(rows: Seq[(Double, Boolean)]): Option[Double] = {
      val r = Stats.rocAuc(rows.toDF("s", "y"), "s", "y").head()
      if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    // all positives score above all negatives
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
      === Some(1.0))
    assert(auc(Seq((0.1, true), (0.2, false))) === Some(0.0))
    // every row the same score: pure tie → 0.5
    assert(auc(Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false)))
      === Some(0.5))
    // hand-computed with one tie: scores pos {0.3, 0.5}, neg {0.3, 0.1}
    // pairs: (0.3 vs 0.1)=1, (0.3 vs 0.3)=0.5, (0.5 vs 0.1)=1,
    // (0.5 vs 0.3)=1 → U=3.5, AUC=3.5/4
    assert(auc(Seq((0.3, true), (0.5, true), (0.3, false), (0.1, false)))
      === Some(0.875))
    // single-class inputs are undefined, not a crash
    assert(auc(Seq((0.3, true), (0.5, true))) === None)
    // counts surface
    val r = Stats.rocAuc(
      Seq((0.9, true), (0.1, false), (0.2, false)).toDF("s", "y"), "s", "y")
      .head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    // grouped: each key scored independently; degenerate key -> null
    val g = Stats.rocAucBy(
      Seq(("a", 0.9, true), ("a", 0.1, false),   // perfect within a
        ("b", 0.1, true), ("b", 0.9, false),     // inverted within b
        ("c", 0.5, true)).toDF("k", "s", "y"),   // single-class
      Seq("k"), "s", "y")
      .orderBy("k").collect()
      .map(r2 => (r2.getString(0),
        if (r2.isNullAt(3)) None else Some(r2.getDouble(3))))
    assert(g.toSeq === Seq(("a", Some(1.0)), ("b", Some(0.0)), ("c", None)))
  }

  test("calibrationBins: bin edges clamp, counts/rates exact, " +
      "mean from quantized longs, empty bins absent") {
    import graft.functions.Stats
    val rows = Seq(
      (0.05, false), (0.05, false),      // bin 0: 0/2
      (0.55, true), (0.58, false),       // bin 5: 1/2
      (1.0, true))                       // score 1.0 clamps to bin 9
      .toDF("s", "y")
    val got = Stats.calibrationBins(rows, "s", "y", 10)
      .orderBy("bin")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        math.round(r.getDouble(4) * 1e6) / 1e6))
    assert(got.toSeq === Seq(
      (0, 2L, 0L, 0.0, 0.05),
      (5, 2L, 1L, 0.5, 0.565),
      (9, 1L, 1L, 1.0, 1.0)))
  }

  test("calibrationBins: out-of-range scores clamp to the edge bins — " +
      "no phantom bin -1 or `bins`") {
    import graft.functions.Stats
    val rows = Seq((-1e-9, false), (-0.5, true), (1.3, true), (0.5, false))
      .toDF("s", "y")
    val bins = Stats.calibrationBins(rows, "s", "y", 10)
      .orderBy("bin").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(bins.toSeq === Seq((0, 2L), (5, 1L), (9, 1L)))
  }

  test("anomaly score: 3σ deviation ≈ 99.7, at-prediction = 0") {
    // predicted 10, upper 13 → σ̂=1; observed 13 = 3σ high
    val hi = eval1(Stats.anomalyScore(lit(13.0), lit(10.0), lit(13.0)))
    assert(math.abs(hi - 99.73) < 0.01)
    // approx-erf leaves ~1e-7 residue at z=0, well under scoring resolution
    assert(eval1(Stats.anomalyScore(lit(10.0), lit(10.0), lit(13.0))) < 1e-5)
  }

  test("anomaly_type low/high clip directionality (test_donut.py:773-1018)") {
    val lowOnHigh = eval1(Stats.anomalyScore(lit(13.0), lit(10.0), lit(13.0), "low"))
    val highOnHigh = eval1(Stats.anomalyScore(lit(13.0), lit(10.0), lit(13.0), "high"))
    val lowOnLow = eval1(Stats.anomalyScore(lit(7.0), lit(10.0), lit(13.0), "low"))
    assert(lowOnHigh == 0.0 && highOnHigh > 99.0 && lowOnLow > 99.0)
  }

  test("metric aliases canonicalize (loudml/influx.py:39-59)") {
    assert(Metrics.canonical("mean") == "avg")
    assert(Metrics.canonical("std_deviation") == "stddev")
    assert(Metrics.canonical("med") == "median")
    assert(Metrics.validate("90percentile") == "90percentile")
  }

  test("hysteresis scan: start at ≥max, hold ≥min, end <min (donut.py:1477-1578)") {
    val scores = Seq(
      (0L, 10.0), (3L, 99.9), (6L, 80.0), (9L, 50.0),
      (12L, 99.8), (15L, 99.9), (18L, 10.0))
      .toDF("bucket", "score")
    val out = AnomalyScan.scan(scores, maxThreshold = 99.7, minThreshold = 68.0)
      .orderBy("bucket").collect()
    val markers = out.map(r => Option(r.getString(r.fieldIndex("anomaly"))).orNull)
    assert(markers.toSeq == Seq(null, "start", "ongoing", "end",
      "start", "ongoing", "end"))
    // is_anomaly is the per-bucket DETECTION flag (donut.py:1507-1515):
    // the 80.0 hysteresis-hold bucket is open but not detected
    val flags = out.map(_.getBoolean(out(0).fieldIndex("is_anomaly")))
    assert(flags.toSeq == Seq(false, true, false, false, true, true, false))
    // episode max: tracked over detected buckets, reported on the end row
    val epi = out.map(r => Option(r.get(r.fieldIndex("episode_max"))).orNull)
    assert(epi(3) == 99.9) // first episode's end row carries its max
    assert(epi(6) == 99.9)
    assert(epi(0) == null) // no episode → null
  }

  test("hysteresis scan ≡ sequential reference replay over random score " +
      "series (differential property test)") {
    import graft.ml.{AnomalyScan, RunState}
    // independent sequential re-implementation of donut.py:1477-1578
    def replay(scores: Seq[Double], maxT: Double, minT: Double,
        grace: Long): Seq[(String, Boolean)] = {
      var open = false; var lastEnd = Long.MinValue
      scores.zipWithIndex.map { case (s, i) =>
        val ts = i * 60L
        val inGrace = lastEnd != Long.MinValue && ts - lastEnd < grace
        val det = !inGrace && s >= maxT
        val marker: String =
          if (!open) { if (det) { open = true; "start" } else null }
          else if (det) "ongoing"
          else if (s < minT) { open = false; lastEnd = ts; "end" }
          else "ongoing"
        (marker, det)
      }
    }
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 20) {
      // scores clustered near the thresholds to exercise every branch
      val scores = Seq.fill(120)(rnd.nextInt(4) match {
        case 0 => 99.7 + rnd.nextDouble() * 0.3  // detection
        case 1 => 68.0 + rnd.nextDouble() * 31.0 // hysteresis hold
        case 2 => rnd.nextDouble() * 68.0        // quiet
        case _ => 99.69                          // just under max
      })
      val grace = Seq(0L, 120L, 300L)(trial % 3)
      val got = AnomalyScan.scan(
        scores.zipWithIndex.map { case (s, i) => (i * 60L, s) }
          .toDF("bucket", "score"),
        maxThreshold = 99.7, minThreshold = 68.0, gracePeriodSec = grace,
        initial = RunState.empty)
        .orderBy("bucket")
        .select("anomaly", "is_anomaly").collect()
        .map(r => (r.getString(0), r.getBoolean(1))).toSeq
      assert(got == replay(scores, 99.7, 68.0, grace), s"trial $trial")
    }
  }

  test("grace suppresses re-alert, state stays closed (donut.py:1488-1490)") {
    val scores = Seq(
      (0L, 99.9), (3L, 10.0), (6L, 99.9), (100L, 99.9))
      .toDF("bucket", "score")
    val out = AnomalyScan.scan(scores, maxThreshold = 99.7, minThreshold = 68.0,
      gracePeriodSec = 50L).orderBy("bucket").collect()
    val markers = out.map(r => Option(r.getString(r.fieldIndex("anomaly"))).orNull)
    // t=6 within grace of END t=3 → detection suppressed, machine stays
    // CLOSED (no marker at all — the reference fires nothing and leaves
    // _state['anomaly'] None); t=100 outside grace → fresh start
    assert(markers.toSeq == Seq("start", "end", null, "start"))
    val flags = out.map(_.getBoolean(out(0).fieldIndex("is_anomaly")))
    assert(flags.toSeq == Seq(true, false, false, true))
  }

  test("grace anchors to episode END, not start (donut.py:1570)") {
    // episode: start t=0 .. end t=30; grace 50 counts from t=30
    val scores = Seq(
      (0L, 99.9), (10L, 80.0), (20L, 80.0), (30L, 10.0),
      (60L, 99.9),  // 60-30=30 < 50 → suppressed (start-anchored would fire: 60-0 ≥ 50)
      (85L, 99.9))  // 85-30=55 ≥ 50 → fresh start
      .toDF("bucket", "score")
    val out = AnomalyScan.scan(scores, maxThreshold = 99.7, minThreshold = 68.0,
      gracePeriodSec = 50L).orderBy("bucket").collect()
    val markers = out.map(r => Option(r.getString(r.fieldIndex("anomaly"))).orNull)
    assert(markers.toSeq == Seq("start", "ongoing", "ongoing", "end", null, "start"))
  }

  test("scan resets state across series keys") {
    val scores = Seq(
      ("a", 0L, 99.9), ("a", 3L, 80.0), ("b", 0L, 10.0), ("b", 3L, 99.9))
      .toDF("host", "bucket", "score")
    val out = AnomalyScan.scan(scores, maxThreshold = 99.7, minThreshold = 68.0,
      seriesKeys = Seq("host"))
    val m = out.collect().map(r => (r.getString(0), r.getLong(1),
      Option(r.getString(r.fieldIndex("anomaly"))).orNull)).toSet
    assert(m == Set(("a", 0L, "start"), ("a", 3L, "ongoing"),
      ("b", 0L, null), ("b", 3L, "start")))
  }

  test("TopKAgg: bounded-heap topk_N/bottomk_N match full-sort truth " +
      "across partitions; nulls and NaN skipped; short groups shrink") {
    import org.apache.spark.sql.functions._
    import graft.functions.{Metrics, TopKExprs}
    val rnd = new scala.util.Random(7)
    val vals = Seq.tabulate(1000)(i => (i % 7, rnd.nextDouble() * 100))
    val df = spark.createDataFrame(
        vals ++ Seq((0, Double.NaN), (1, Double.NaN)))
      .toDF("g", "v")
      // nulls interleaved: every 50th value nulled
      .withColumn("v", when(monotonically_increasing_id() % 50 === 0,
        lit(null)).otherwise(col("v")))
      .repartition(8) // merge path exercised: partials combine across 8 tasks
    val got = df.groupBy("g")
      .agg(TopKExprs.topK(col("v"), 5).as("t"),
        TopKExprs.bottomK(col("v"), 5).as("b"))
      .collect()
      .map(r => r.getInt(0) -> (r.getSeq[Double](1), r.getSeq[Double](2)))
      .toMap
    val truth = df.select("g", "v").collect()
      .filter(r => !r.isNullAt(1) && !r.getDouble(1).isNaN)
      .map(r => (r.getInt(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    truth.foreach { case (g, xs) =>
      assert(got(g)._1 == xs.sorted.reverse.take(5), s"topk group $g")
      assert(got(g)._2 == xs.sorted.take(5), s"bottomk group $g")
    }
    // group smaller than k: all values, ordered
    val small = spark.createDataFrame(Seq((1, 3.0), (1, 1.0), (1, 2.0)))
      .toDF("g", "v")
      .groupBy("g").agg(Metrics.agg("topk_5", col("v")).as("t"),
        Metrics.agg("bottomk_2", col("v")).as("b"))
      .collect()(0)
    assert(small.getSeq[Double](1) == Seq(3.0, 2.0, 1.0))
    assert(small.getSeq[Double](2) == Seq(1.0, 2.0))
    // bare names stay the reference's k=1 scalars
    assert(Metrics.validate("topk_3") == "topk_3")
    intercept[graft.functions.Metrics.UnsupportedMetric] {
      Metrics.validate("topk_0")
    }
  }

  test("heavyHitters: exact under capacity; guaranteed containment and error bounds over capacity") {
    import graft.functions.FreqSketch
    // distinct <= capacity -> exact counts, zero error
    val small = Seq("a","a","a","b","b","c").toDF("t")
    val ex = small.agg(FreqSketch.heavyHitters(col("t"), 3, 8).as("hh"))
      .selectExpr("inline(hh)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ex.toSeq === Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))
    // skewed stream over many distinct values, tight capacity: every true
    // heavy hitter (freq > n/capacity) must be present, counts within err
    val n = 4000
    val rnd = new scala.util.Random(11)
    val vals = (1 to n).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 30) "hot1" else if (r < 50) "hot2" else if (r < 60) "hot3"
      else s"tail${rnd.nextInt(500)}"
    }
    val truth = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = vals.toDF("t").repartition(8)
      .agg(FreqSketch.heavyHitters(col("t"), 5, 64).as("hh"))
      .selectExpr("inline(hh)").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val byItem = got.map(g => g._1 -> g).toMap
    for (hot <- Seq("hot1", "hot2", "hot3")) {
      assert(byItem.contains(hot), s"$hot (freq ${truth(hot)} > n/cap ${n / 64}) must be kept")
      val (_, c, e) = byItem(hot)
      assert(c >= truth(hot) && c - e <= truth(hot),
        s"$hot true=${truth(hot)} not in [${c - e}, $c]")
    }
    assert(got.size <= 5)
    assert(got.map(_._2).sliding(2).forall { case Seq(x, y) => x >= y; case _ => true })
  }

  test("winsorize: clips to per-group percentile band, interior values untouched, nulls preserved") {
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      Seq(("b", 0.0), ("b", 1000.0), ("b", 500.0))).toDF("g", "v")
    val w = Stats.winsorize(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // group a: p05/p95 of 1..100 (linear interp) = 5.95 / 95.05
    val a = w.filter(_._1 == "a")
    assert(a.forall { case (_, _, c) => c >= 5.95 - 1e-9 && c <= 95.05 + 1e-9 })
    assert(a.count { case (_, v, c) => v == c } == 90) // 6..95 interior
    assert(math.abs(a.find(_._2 == 1.0).get._3 - 5.95) < 1e-9)
    assert(math.abs(a.find(_._2 == 100.0).get._3 - 95.05) < 1e-9)
    // degenerate 3-row group still brackets correctly
    val b = w.filter(_._1 == "b")
    assert(b.forall { case (_, _, c) => c >= 50.0 - 1e-9 && c <= 950.0 + 1e-9 })
    // global (no keys) variant and empty-input safety
    assert(Stats.winsorize(df, Nil, "v").columns.contains("v_w"))
    assert(Stats.winsorize(df.limit(0), Seq("g"), "v").count() == 0L)
  }

  test("SQL surface: graft_topk / graft_bottomk / graft_heavy_hitters resolve through the extension") {
    Seq(("g", 1.0), ("g", 5.0), ("g", 3.0), ("g", 5.0)).toDF("k", "v")
      .createOrReplaceTempView("sql_agg_t")
    val r = spark.sql(
      """SELECT graft_topk(v, 2) AS t, graft_bottomk(v, 2) AS b,
        |       graft_heavy_hitters(CAST(v AS STRING), 2, 8) AS h
        |FROM sql_agg_t GROUP BY k""".stripMargin).head()
    assert(r.getSeq[Double](0) === Seq(5.0, 5.0))
    assert(r.getSeq[Double](1) === Seq(1.0, 3.0))
    val hh = r.getSeq[org.apache.spark.sql.Row](2)
    assert(hh.head.getString(0) == "5.0" && hh.head.getLong(1) == 2L)
  }
}
