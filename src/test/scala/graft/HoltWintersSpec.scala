package graft

import org.apache.spark.sql.functions._

import graft.ml.{Backtest, HoltWinters, HoltWintersParams, HoltWintersType, ModelRegistry}

class HoltWintersSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L

  /** level 100, +0.5/bucket trend, daily sine season, deterministic. */
  private def synth(nDays: Int, noise: Double = 0.0): Seq[(Long, Double)] = {
    val rnd = new scala.util.Random(42)
    (0 until nDays * 24).map { i =>
      val season = 10.0 * math.sin(2 * math.Pi * (i % 24) / 24.0)
      (i * H, 100.0 + 0.5 * i + season + noise * rnd.nextGaussian())
    }
  }

  test("exact on a noiseless linear series (alpha=beta=1, no season)") {
    val series = (0 until 48).map(i => (i * H, Some(3.0 + 2.0 * i)))
    val p = HoltWintersParams(bucketInterval = H, period = H, // m = 1
      alpha = 1.0, beta = 1.0, gamma = 0.0)
    val st = HoltWinters.fit(series, p)
    // state at t=47: level = y_47, trend = 2 per bucket
    assert(math.abs(st.level - (3.0 + 2.0 * 47)) < 1e-9)
    assert(math.abs(st.trend - 2.0) < 1e-9)
  }

  test("tracks trend + season: one-step RMS far below series stddev") {
    val series = synth(10, noise = 1.0).map { case (b, v) => (b, Some(v)) }
    val p = HoltWintersParams(bucketInterval = H, period = 86400L)
    val st = HoltWinters.fit(series, p)
    val values = series.map(_._2.get)
    val mean = values.sum / values.size
    val sd = math.sqrt(values.map(v => (v - mean) * (v - mean)).sum / values.size)
    // series stddev is dominated by trend+season (~35); a fitted model's
    // innovation scale should be near the noise floor
    assert(st.sigma < sd / 5, s"sigma=${st.sigma} vs sd=$sd")
    assert(st.sigma < 3.0, s"sigma=${st.sigma} should approach noise=1")
  }

  test("forecast continues trend and season within tolerance") {
    val nDays = 20
    val series = synth(nDays).map { case (b, v) => (b, Some(v)) }
    val p = HoltWintersParams(bucketInterval = H, period = 86400L,
      alpha = 0.3, beta = 0.01, gamma = 0.5)
    val st = HoltWinters.fit(series, p)
    val df = HoltWinters.profileFrame(spark, st)
    val model = HoltWintersType.load(spark, df,
      s"""{"type":"holtwinters","bucket_interval":$H,"period":86400,
         |"alpha":0.3,"beta":0.01,"gamma":0.5,"level":${st.level},
         |"trend":${st.trend},"sigma":${st.sigma},
         |"last_bucket":${st.lastBucket}}""".stripMargin)
    val from = nDays * 24 * H
    val fc = model.forecast(spark, from, from + 24 * H)
      .select("bucket", "predicted").as[(Long, Double)].collect().toMap
    (0 until 24).foreach { i =>
      val b = from + i * H
      val truth = 100.0 + 0.5 * (nDays * 24 + i) +
        10.0 * math.sin(2 * math.Pi * (i % 24) / 24.0)
      assert(math.abs(fc(b) - truth) < 2.5,
        s"h=$i: forecast ${fc(b)} vs truth $truth")
    }
  }

  test("registry train → predict contract; save/load roundtrip") {
    val series = synth(6, noise = 0.5)
    val bucketed = series.toDF("bucket", "v")
    val settings = s"""{"type":"holtwinters","bucket_interval":$H,
      |"period":86400,"alpha":0.3,"beta":0.01,"gamma":0.4}""".stripMargin
    val model = ModelRegistry("holtwinters").train(bucketed, "v", settings)
    val scored = model.predict(bucketed.limit(48), "v")
    assert(scored.columns.toSet.intersect(
      Set("predicted", "lower", "upper", "score")).size == 4)
    assert(scored.count() == 48)
    // scores are in [0, 100]
    val mm = scored.agg(min("score"), max("score")).as[(Double, Double)].head()
    assert(mm._1 >= 0.0 && mm._2 <= 100.0)

    val root = java.nio.file.Files.createTempDirectory("hw").toString
    model.save(root, "hw1")
    val loaded = ModelRegistry.load(spark, root, "hw1")
    val a = model.forecast(spark, 1000 * H, 1010 * H)
      .select("predicted").as[Double].collect().toSeq
    val b = loaded.forecast(spark, 1000 * H, 1010 * H)
      .select("predicted").as[Double].collect().toSeq
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
  }

  test("grid fitBest beats a bad fixed configuration in-sample") {
    val series = synth(8, noise = 1.0).map { case (b, v) => (b, Some(v)) }
    val base = HoltWintersParams(bucketInterval = H, period = 86400L)
    val bad = HoltWinters.fit(series, base.copy(
      alpha = 0.8, beta = 0.1, gamma = 0.1)) // a measured "rippler"
    val (bestP, best) = HoltWinters.fitBest(series, base)
    assert(best.sigma <= bad.sigma)
    assert(Seq(0.1, 0.3, 0.5, 0.8).contains(bestP.alpha))
    assert(Seq(0.01, 0.05).contains(bestP.beta))
    assert(Seq(0.1, 0.3, 0.6).contains(bestP.gamma))
  }

  test("searchBest (annealed, max_evals-budgeted) beats the grid at " +
      "equal budget when the optimum is off-grid, and recovers the " +
      "true period from candidates") {
    val series = synth(10, noise = 1.0).map { case (b, v) => (b, Some(v)) }
    val base = HoltWintersParams(bucketInterval = H, period = 86400L)
    val gridBudget = 4 * 2 * 3 // fitBest's fixed grid size
    val (_, gridBest) = HoltWinters.fitBest(series, base)
    val (searchP, searchBest) =
      HoltWinters.searchBest(series, base, maxEvals = gridBudget)
    // continuous draws + annealing reach between the grid's points
    assert(searchBest.sigma <= gridBest.sigma,
      s"search σ=${searchBest.sigma} vs grid σ=${gridBest.sigma}")
    assert(searchP.alpha > 0 && searchP.alpha < 1)
    // period candidates: the true daily period wins over wrong ones
    val (perP, _) = HoltWinters.searchBest(series, base, maxEvals = 30,
      periods = Seq(6 * H, 86400L, 36 * H))
    assert(perP.period == 86400L, s"picked period ${perP.period}")
    // determinism: same seed, same budget → identical result
    val (p2, st2) = HoltWinters.searchBest(series, base, maxEvals = gridBudget)
    assert(p2 == searchP && st2.sigma == searchBest.sigma)
  }

  test("max_evals in settings JSON routes training through searchBest") {
    val series = synth(8, noise = 1.0)
    val df = series.toSeq.toDF("bucket", "v")
    val m = HoltWintersType.train(df, "v",
      """{"type":"holtwinters","bucket_interval":3600,"period":86400,"max_evals":15}""")
    // trained JSON carries the chosen (off-grid) constants
    val j = org.json4s.jackson.JsonMethods.parse(m.settingsJson)
    val alpha = (j \ "alpha").values.toString.toDouble
    assert(alpha > 0 && alpha < 1)
    assert(!Seq(0.1, 0.3, 0.5, 0.8).contains(alpha),
      s"alpha=$alpha looks like a grid point, not a continuous draw")
  }

  test("gaps roll the state forward without seasonal corruption") {
    val full = synth(6).map { case (b, v) => (b, Some(v)) }
    // knock out day 4 entirely
    val gappy = full.filterNot { case (b, _) =>
      b >= 3L * 86400 && b < 4L * 86400 }
    val p = HoltWintersParams(bucketInterval = H, period = 86400L,
      alpha = 0.3, beta = 0.01, gamma = 0.5)
    val st = HoltWinters.fit(gappy, p)
    val stFull = HoltWinters.fit(full, p)
    // same forecast origin, similar state despite the missing day
    assert(st.lastBucket == stFull.lastBucket)
    assert(math.abs(st.level - stFull.level) < 5.0)
    assert(math.abs(st.trend - stFull.trend) < 0.5)
  }

  test("fleet training: per-key state identical to each series fit alone") {
    val p = HoltWintersParams(bucketInterval = H, period = 86400L,
      alpha = 0.3, beta = 0.01, gamma = 0.3)
    // two keys with different shapes, plus a gap in one of them
    val a = synth(6, noise = 1.0).map { case (b, v) => ("a", b, v) }
    val b = synth(6, noise = 2.0).collect {
      case ((bk, v)) if (bk / H) % 31 != 0 => ("b", bk, v * 0.5 + 7)
    }
    val df = (a ++ b).toDF("k", "bucket", "v")
    val states = HoltWinters.train(df, "v", Seq("k"), p)
      .collect().map(r => r.getString(0) -> r).toMap
    for ((key, rows) <- Seq("a" -> a, "b" -> b)) {
      val solo = HoltWinters.fit(
        rows.map { case (_, bk, v) => (bk, Some(v)) }.sortBy(_._1), p)
      val got = states(key)
      assert(got.getDouble(1) == solo.level, s"$key level")
      assert(got.getDouble(2) == solo.trend, s"$key trend")
      assert(got.getDouble(3) == solo.sigma, s"$key sigma")
      assert(got.getLong(4) == solo.lastBucket, s"$key lastBucket")
      assert(got.getSeq[Double](5) == solo.season.toSeq, s"$key season")
    }
  }

  test("fleet forecast matches the solo projection per key and bucket") {
    val p = HoltWintersParams(bucketInterval = H, period = 86400L)
    val a = synth(4).map { case (b, v) => ("a", b, v) }
    val df = a.toDF("k", "bucket", "v")
    val states = HoltWinters.train(df, "v", Seq("k"), p)
    val from = 4L * 86400L
    val fc = HoltWinters.forecast(states, Seq("k"), from, from + 6 * H, p)
      .orderBy("bucket").collect()
    val solo = HoltWinters.fit(
      a.map { case (_, b, v) => (b, Some(v)) }, p)
    fc.foreach { r =>
      val bkt = r.getLong(1)
      val h = (bkt - solo.lastBucket) / H
      val exp = solo.level + h * solo.trend +
        solo.season(((bkt % 86400) / H).toInt)
      assert(r.getDouble(2) == exp, s"bucket $bkt predicted")
      assert(r.getDouble(3) == exp - 3.0 * solo.sigma, s"bucket $bkt lower")
    }
  }

  test("fleet training: an all-null key is skipped and counted, not " +
      "fatal to the fleet job") {
    val p = HoltWintersParams(bucketInterval = H, period = 86400L,
      alpha = 0.3, beta = 0.01, gamma = 0.3)
    val a = synth(3).map { case (b, v) => ("a", b, Double.box(v)) }
    val ghost = (0 until 48).map(i => ("ghost", i * H, null: java.lang.Double))
    val df = (a ++ ghost).toDF("k", "bucket", "v")
    val states = HoltWinters.train(df, "v", Seq("k"), p)
    // the healthy key fits exactly as alone; the all-null key is dropped
    // (counted in `graft.fleetHw.skippedKeys`)
    val rows = states.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a"))
    val solo = HoltWinters.fit(
      a.map { case (_, b, v) => (b, Some(v.doubleValue)) }, p)
    assert(rows.head.getDouble(1) == solo.level)
    assert(rows.head.getSeq[Double](5) == solo.season.toSeq)
  }

  test("rolling-origin backtest: per-origin metrics on clean seasonal data — accurate, calibrated, leak-free") {
    // two keys, trend + daily season + small noise, 12 days
    val rows = Seq("a", "b").flatMap { k =>
      val amp = if (k == "a") 10.0 else 5.0
      synth(12, noise = 0.5).map { case (b, v0) =>
        (k, b, if (k == "a") v0 else 50.0 + 0.25 * (b / H) +
          amp * math.sin(2 * math.Pi * ((b / H) % 24) / 24.0))
      }
    }
    val series = rows.toDF("k", "bucket", "v")
    val p = HoltWintersParams(bucketInterval = H, period = 86400L,
      alpha = 0.3, beta = 0.01, gamma = 0.3)
    val origins = Seq(8L, 9L, 10L).map(_ * 86400L)
    val out = Backtest.rollingOrigin(series, "v", Seq("k"), p, origins,
        horizon = 86400L)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(5)))).toMap
    assert(out.size === 6) // 2 keys x 3 origins
    out.foreach { case ((k, o), (n, mae, coverage)) =>
      assert(n === 24L, s"$k/$o buckets")
      // series amplitude is ~10 + trend; a seasonal model must land far
      // inside that; 3-sigma bands on near-clean data must cover nearly
      // every actual
      assert(mae < 4.0, s"$k/$o mae=$mae")
      assert(coverage >= 0.9, s"$k/$o coverage=$coverage")
    }
    // leak-freedom probe: training strictly before the origin means an
    // origin INSIDE a level shift cannot have seen it — backtest on a
    // series whose level jumps right AT the last origin must degrade
    // there and only there
    val shifted = rows.map { case (k, b, v) =>
      (k, b, if (b >= 10 * 86400L) v + 100.0 else v) }
      .toDF("k", "bucket", "v")
    val sh = Backtest.rollingOrigin(shifted, "v", Seq("k"), p, origins,
        horizon = 86400L)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(3)))
      .toMap
    Seq("a", "b").foreach { k =>
      assert(sh((k, 8L * 86400L)) < 3.0)            // pre-shift: unchanged
      assert(sh((k, 10L * 86400L)) > 50.0,          // at-shift: blind to it
        s"$k at-shift mae=${sh((k, 10L * 86400L))}")
    }
  }
}
