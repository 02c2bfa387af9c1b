package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Stats
import graft.ml._

/** Model trait/registry + the reference's test-enforced quality floors
  * (/root/reference/tests/test_donut.py): anomaly F1 ≥ 0.75 on a
  * randevents-style seeded synthetic (:532-584) and gap imputation within
  * ±0.22 (:451-530). Generators mirror
  * /root/reference/tests/randevents.py:51-128 (sin rate, seeded noise).
  */
class ModelSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  // ── randevents.SinEventGenerator analog: per-bucket value ≈ 2 ticks of
  //    rate base+amplitude·sin(2π·t/period), seeded gaussian noise ──────
  private def sinSeries(nBuckets: Int, interval: Long, seed: Long,
      base: Double = 3.0, amplitude: Double = 3.0,
      noise: Double = 0.3): Seq[(Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nBuckets).map { t =>
      val ts = t * interval
      val rate = base + amplitude * math.sin(2 * math.Pi * (ts % 86400L) / 86400.0)
      val v = math.max(0.0, 2.0 * rate + rnd.nextGaussian() * noise)
      (ts, v)
    }
  }

  test("registry: train/save/load round-trip dispatches on settings type " +
      "(model.py:445-468)") {
    assert(ModelRegistry.names.contains("seasonal"))
    assert(ModelRegistry.names.contains("window_reconstructor"))
    intercept[UnsupportedModel] { ModelRegistry("no_such_model") }

    val series = sinSeries(720, HOUR, seed = 1).toDF("bucket", "value")
    val trained = ModelRegistry("window_reconstructor")
      .train(series, "value", s"""{"bucket_interval":$HOUR}""")
    val root = java.nio.file.Files.createTempDirectory("models").toString
    val v = trained.save(root, "m1")
    assert(v == 1)
    val back = ModelRegistry.load(spark, root, "m1")
    assert(back.modelType == "window_reconstructor")
    // same weights → identical predictions
    val p1 = trained.predict(series, "value")
      .agg(sum(abs(col("predicted")))).collect()(0).getDouble(0)
    val p2 = back.predict(series, "value")
      .agg(sum(abs(col("predicted")))).collect()(0).getDouble(0)
    assert(math.abs(p1 - p2) < 1e-6)
  }

  test("reconstructor F1 >= 0.75 on seeded sin + level-shift anomaly " +
      "(test_donut.py:532-584)") {
    val interval = 1200L // 20-min buckets, P = 72/day as in the reference
    val nTrain = 21 * 72 // three weeks
    val nEval = 100      // predict window; last 20 abnormal
    val clean = sinSeries(nTrain + nEval, interval, seed = 42)
    val series = clean.zipWithIndex.map { case ((ts, v), i) =>
      // FlatEventGenerator(base=5) injection: rate +5/tick → +10/bucket
      if (i >= nTrain + nEval - 20) (ts, v + 10.0) else (ts, v)
    }
    val model = WindowReconstructor.train(
      clean.take(nTrain).toDF("bucket", "value"), "value",
      WindowReconstructor.Params(bucketInterval = interval))
    // predict needs lag context: feed the eval window + 2 periods back
    val evalFrom = (nTrain - 2 * 72) * interval
    val scored = model.predict(
      series.filter(_._1 >= evalFrom).toDF("bucket", "value"), "value")
      .filter(col("bucket") >= nTrain * interval)
      .orderBy("bucket").collect()
    assert(scored.length == nEval)
    val yhat = scored.map(r => r.getDouble(r.fieldIndex("score")) >= 99.7)
    val truth = Array.tabulate(nEval)(_ >= nEval - 20)
    val tp = yhat.zip(truth).count { case (a, b) => a && b }
    val fp = yhat.zip(truth).count { case (a, b) => a && !b }
    val fn = yhat.zip(truth).count { case (a, b) => !a && b }
    val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    info(s"F1 = $f1 (tp=$tp fp=$fp fn=$fn)")
    assert(f1 >= 0.75)
  }

  test("reconstructor imputes a never-observed slot from window context " +
      "(test_donut.py:451-530)") {
    // 3 days hourly, value 1.0 except hour 12 missing EVERY day — the
    // seasonal slot for 12h has no training data at all
    val series = (0 until 72).map { t =>
      val v: java.lang.Double = if (t % 24 == 12) null else 1.0
      (t * HOUR, v)
    }.toDF("bucket", "value")
    val model = WindowReconstructor.train(series, "value",
      WindowReconstructor.Params(bucketInterval = HOUR))
    val out = model.predict(series, "value")
      .filter(col("bucket") >= 48L * HOUR) // last 24h
      .orderBy("bucket").collect()
    assert(out.length == 24)
    out.foreach { r =>
      val pred = r.getDouble(r.fieldIndex("predicted"))
      assert(math.abs(pred - 1.0) <= 0.22,
        s"bucket ${r.getLong(r.fieldIndex("bucket"))} predicted $pred")
    }
  }

  test("reconstructor forecast yields seasonal bands") {
    val series = sinSeries(720, HOUR, seed = 3).toDF("bucket", "value")
    val model = WindowReconstructor.train(series, "value",
      WindowReconstructor.Params(bucketInterval = HOUR))
    val fc = model.forecast(spark, 720L * HOUR, 768L * HOUR).collect()
    assert(fc.length == 48)
    // bands bracket the prediction and follow the daily shape
    fc.foreach { r =>
      assert(r.getDouble(r.fieldIndex("lower")) <= r.getDouble(r.fieldIndex("predicted")))
      assert(r.getDouble(r.fieldIndex("predicted")) <= r.getDouble(r.fieldIndex("upper")))
    }
    val preds = fc.map(r => r.getDouble(r.fieldIndex("predicted")))
    assert(preds.max - preds.min > 2.0) // daily amplitude visible
  }

  test("forecastCI: 0.68 interval is ±~1σ, noise widens bands over horizon") {
    val series = sinSeries(720, HOUR, seed = 3).toDF("bucket", "value")
    val model = WindowReconstructor.train(series, "value",
      WindowReconstructor.Params(bucketInterval = HOUR))
    val z68 = graft.functions.Stats.normPpf(1.0 - (1.0 - 0.68) / 2.0)
    assert(math.abs(z68 - 0.994457883) < 1e-6) // the documented 0.68 ⇒ ~1σ
    val fc = model.forecastCI(spark, 720L * HOUR, 744L * HOUR, 0.68, 0.0)
      .collect()
    fc.foreach { r =>
      val half = r.getDouble(r.fieldIndex("upper")) -
        r.getDouble(r.fieldIndex("predicted"))
      assert(math.abs(half - z68 * model.sigma) < 1e-9)
    }
    // wide interval ⇒ wider bands; 3σ default ≈ forecastCI(0.9973..., 0)
    val fc997 = model.forecastCI(spark, 720L * HOUR, 744L * HOUR,
      0.9973002039367398, 0.0).collect()
    fc997.foreach { r =>
      val half = r.getDouble(r.fieldIndex("upper")) -
        r.getDouble(r.fieldIndex("predicted"))
      assert(math.abs(half - 3.0 * model.sigma) < 1e-6)
    }
    // percent_noise: half-width grows linearly with the forecast step
    val noisy = model.forecastCI(spark, 720L * HOUR, 744L * HOUR, 0.68, 2.0)
      .orderBy("bucket").collect()
    val halves = noisy.map(r => r.getDouble(r.fieldIndex("upper")) -
      r.getDouble(r.fieldIndex("predicted")))
    val bases = fc.sortBy(_.getLong(0)).map(r =>
      r.getDouble(r.fieldIndex("upper")) - r.getDouble(r.fieldIndex("predicted")))
    val preds = noisy.map(r => math.abs(r.getDouble(r.fieldIndex("predicted"))))
    val noisePerStep = 2.0 * HOUR.toDouble / 86400.0
    halves.indices.foreach { j =>
      assert(math.abs(halves(j) - (bases(j) + noisePerStep * j * preds(j))) < 1e-9)
    }
  }

  test("fleet scoring: keyed predict == per-series predict (no lag " +
      "leakage across series)") {
    val model = WindowReconstructor.train(
      sinSeries(720, HOUR, seed = 21).toDF("bucket", "value"), "value",
      WindowReconstructor.Params(bucketInterval = HOUR))
    // two series with very different levels; interleaved in one frame
    val a = sinSeries(96, HOUR, seed = 22)
    val b = sinSeries(96, HOUR, seed = 23).map { case (ts, v) => (ts, v + 40.0) }
    val keyed = (a.map { case (ts, v) => ("a", ts, v) } ++
      b.map { case (ts, v) => ("b", ts, v) }).toDF("host", "bucket", "value")
    def preds(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.select("bucket", "predicted").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val together = model.predictKeyed(keyed, "value", "low_high", Seq("host"))
    val aTogether = preds(together.filter(col("host") === "a"))
    val bTogether = preds(together.filter(col("host") === "b"))
    val aAlone = preds(model.predict(a.toDF("bucket", "value"), "value"))
    val bAlone = preds(model.predict(b.toDF("bucket", "value"), "value"))
    assert(aTogether.keySet == aAlone.keySet)
    aTogether.foreach { case (k, v) => assert(math.abs(v - aAlone(k)) < 1e-12) }
    bTogether.foreach { case (k, v) => assert(math.abs(v - bAlone(k)) < 1e-12) }
  }

  test("reconstructor warm-start: chunked stats (with lag context) merge " +
      "≡ one full-data fit under the frozen basis") {
    val p = WindowReconstructor.Params(bucketInterval = HOUR)
    val data = sinSeries(720, HOUR, seed = 7).toDF("bucket", "value")
    val base = WindowReconstructor.train(data, "value", p)
    val split = 360L * HOUR
    val ctx = 2L * p.periodBuckets * HOUR // chunk ships 2 periods of history
    val c1 = data.filter(col("bucket") < split)
    val c2 = data.filter(col("bucket") >= split - ctx)
    val merged = base.statsFor(c1, "value")
      .merge(base.statsFor(c2, "value", targetFrom = Some(split)))
    val mm = base.withStats(merged)
    val ff = base.withStats(base.statsFor(data, "value"))
    mm.weights.zip(ff.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b)),
        s"weights diverge: $a vs $b")
    }
    assert(math.abs(mm.sigma - ff.sigma) <= 1e-6 * math.max(1.0, ff.sigma))
    // continueTraining folds the second chunk into the model's own stats
    val warm = base.withStats(base.statsFor(c1, "value"))
      .continueTraining(c2, "value", targetFrom = Some(split))
    warm.weights.zip(ff.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-8 * math.max(1.0, math.abs(b)))
    }
  }

  test("incremental training: merged sufficient stats == full retrain " +
      "(donut.py:857-897 warm start)") {
    val s1 = sinSeries(240, HOUR, seed = 9)
    val s2 = sinSeries(240, HOUR, seed = 10).map { case (ts, v) =>
      (ts + 240 * HOUR, v) }
    val p = SeasonalModelParams(bucketInterval = HOUR)
    val full = SeasonalModel.train((s1 ++ s2).toDF("bucket", "value"), "value", Nil, p)
      .orderBy("slot").collect()
    val merged = SeasonalModel.statsToProfile(SeasonalModel.mergeStats(
      SeasonalModel.trainStats(s1.toDF("bucket", "value"), "value", p),
      SeasonalModel.trainStats(s2.toDF("bucket", "value"), "value", p)))
      .orderBy("slot").collect()
    assert(full.length == merged.length)
    full.zip(merged).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9) // mu
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-9) // sigma
    }
  }

  test("fitBest picks the true period by validation MSE " +
      "(donut.py:800-855 hyperparameter search)") {
    // 12h-periodic signal: candidate periods 6h/12h/24h — 12h must win
    val series = (0 until 480).map { t =>
      (t * HOUR, 5.0 + 3.0 * math.sin(2 * math.Pi * t / 12.0))
    }
    val train = series.take(360).toDF("bucket", "value")
    val valid = series.drop(360).toDF("bucket", "value")
    val (best, profile) = SeasonalModel.fitBest(
      train, valid, "value", HOUR, Seq(6 * HOUR, 12 * HOUR, 24 * HOUR))
    assert(best.period == 12 * HOUR)
    assert(profile.count() == 12)
  }

  test("seasonal model behind the same trait") {
    val series = sinSeries(720, HOUR, seed = 5).toDF("bucket", "value")
    val m = ModelRegistry("seasonal")
      .train(series, "value", s"""{"bucket_interval":$HOUR}""")
    val out = m.predict(series, "value")
    assert(Seq("predicted", "lower", "upper", "score")
      .forall(out.columns.contains))
    assert(m.forecast(spark, 720L * HOUR, 744L * HOUR).count() == 24)
  }

  test("every registered model's solo predict keeps its output contract: " +
      "every input column by name plus predicted/lower/upper/score, one " +
      "row per input bucket") {
    val series = sinSeries(96, HOUR, seed = 21).zipWithIndex
      .map { case ((b, v), i) => (b, v, i.toLong) }
      .toDF("bucket", "value", "count")
    val passthrough = series.select("bucket", "count").as[(Long, Long)]
      .collect().toMap
    for (name <- ModelRegistry.names) withClue(name) {
      val m = ModelRegistry(name).train(series, "value",
        s"""{"type":"$name","bucket_interval":$HOUR,"epochs":2}""")
      val out = m.predict(series, "value")
      assert((series.columns ++ Seq("predicted", "lower", "upper", "score"))
        .forall(out.columns.contains), out.columns.mkString(","))
      val got = out.select("bucket", "count").as[(Long, Long)].collect()
      assert(got.length == passthrough.size)
      assert(got.toMap == passthrough)

      // the forecast contract: one row per bucket of [from, to[, in
      // bucket order, bands symmetric about predicted; `halves` gives
      // (bucket, predicted, half-width)
      val (from, to) = (96L * HOUR, 120L * HOUR)
      def halves(df: DataFrame): Seq[(Long, Double, Double)] =
        df.select("bucket", "predicted", "lower", "upper")
          .as[(Long, Double, Double, Double)].collect().toSeq
          .map { case (b, p, lo, hi) =>
            assert(math.abs((hi - p) - (p - lo)) <= 1e-9, s"bucket $b")
            (b, p, hi - p)
          }
      val fc = halves(m.forecast(spark, from, to))
      assert(fc.map(_._1) == (from until to by HOUR))
      // the 0.68 interval: z = Φ⁻¹(0.84) in place of 3
      val ratio = Stats.normPpf(0.84) / 3.0
      val ci = halves(m.forecastCI(spark, from, to, 0.68, 0.0))
      ci.zip(fc).foreach { case ((_, _, h68), (b, _, h3)) =>
        assert(math.abs(h68 / h3 - ratio) <= 1e-12 * ratio, s"bucket $b")
      }
      // percent_noise 2.0: step h widens the band by noise·h·|predicted|
      val noise = 2.0 * HOUR.toDouble / 86400.0
      halves(m.forecastCI(spark, from, to, 0.68, 2.0)).zip(ci).zipWithIndex
        .foreach { case (((b, p, noisy), (_, _, plain)), h) =>
          assert(math.abs(noisy - plain - noise * h * math.abs(p)) <= 1e-9,
            s"bucket $b")
        }
    }
  }
}
