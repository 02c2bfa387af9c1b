package graft

import org.apache.spark.sql.functions._

import graft.ml._

/** Low-rank tied-weights AE vs the reference's Donut floors
  * (/root/reference/tests/test_donut.py) and vs the ridge reconstructor
  * on the regime the linear lag basis cannot represent. */
class AutoencoderSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  /** Amplitude-modulated daily sinusoid: each day runs at its own seeded
    * random scale — the window reveals the regime, a fixed lag basis
    * cannot (today's slot mean says nothing about today's amplitude). */
  private def amSeries(nDays: Int, seed: Long, noise: Double = 0.3)
      : Seq[(Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nDays).flatMap { d =>
      val amp = 2.0 + 4.0 * rnd.nextDouble() // per-day regime in [2, 6]
      (0 until 24).map { h =>
        val t = (d * 24 + h) * HOUR
        val v = amp * math.sin(2 * math.Pi * h / 24.0) +
          rnd.nextGaussian() * noise
        (t, v)
      }
    }
  }

  private def sinSeries(nBuckets: Int, interval: Long, seed: Long)
      : Seq[(Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nBuckets).map { t =>
      val ts = t * interval
      val rate = 3.0 + 3.0 * math.sin(2 * math.Pi * (ts % 86400L) / 86400.0)
      (ts, math.max(0.0, 2.0 * rate + rnd.nextGaussian() * 0.3))
    }
  }

  test("AE beats the ridge reconstructor on amplitude-modulated data " +
      "at equal data budget (the window-manifold advantage)") {
    val nDays = 30
    val series = amSeries(nDays, seed = 7)
    val trainN = 24 * 24 // 24 days
    val train = series.take(trainN).toDF("bucket", "value")
    val evalFrom = trainN * HOUR

    val ae = AutoencoderReconstructor.train(train, "value",
      AutoencoderReconstructor.Params(bucketInterval = HOUR, hidden = 4))
    val ridge = WindowReconstructor.train(train, "value",
      WindowReconstructor.Params(bucketInterval = HOUR))

    // both models score the eval days with 2 days of leading context
    val ctx = series.filter(_._1 >= evalFrom - 48 * HOUR)
      .toDF("bucket", "value")
    def mse(scored: org.apache.spark.sql.DataFrame): Double =
      scored.filter(col("bucket") >= evalFrom)
        .agg(avg(pow(col("value") - col("predicted"), 2)))
        .as[Double].head()
    val aeMse = mse(ae.predict(ctx, "value"))
    val ridgeMse = mse(ridge.predict(ctx, "value"))
    info(s"AE mse=$aeMse ridge mse=$ridgeMse")
    assert(aeMse < ridgeMse,
      s"AE mse=$aeMse should beat ridge mse=$ridgeMse")
  }

  test("anomaly F1 >= 0.75 on seeded sin + level shift " +
      "(test_donut.py:532-584 floor)") {
    val interval = 1200L
    val nTrain = 21 * 72
    val nEval = 100
    val clean = sinSeries(nTrain + nEval, interval, seed = 42)
    val series = clean.zipWithIndex.map { case ((ts, v), i) =>
      if (i >= nTrain + nEval - 20) (ts, v + 10.0) else (ts, v)
    }
    val model = AutoencoderReconstructor.train(
      clean.take(nTrain).toDF("bucket", "value"), "value",
      AutoencoderReconstructor.Params(
        bucketInterval = interval, period = 86400L, span = 72, hidden = 6))
    val evalFrom = (nTrain - 72) * interval
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

  test("imputes a never-observed slot from window context within the " +
      "reference tolerance (test_donut.py:451-530)") {
    val series = (0 until 96).map { t =>
      val v: java.lang.Double = if (t % 24 == 12) null else 1.0
      (t * HOUR, v)
    }.toDF("bucket", "value")
    val model = AutoencoderReconstructor.train(series, "value",
      AutoencoderReconstructor.Params(bucketInterval = HOUR, hidden = 2))
    val out = model.predict(series, "value")
      .filter(col("bucket") === lit((3 * 24 + 12) * HOUR))
      .select("predicted").as[Double].head()
    assert(math.abs(out - 1.0) <= 0.22, s"imputed $out, want 1.0 +- 0.22")
  }

  test("fleet AE: per-key state and scores are bit-identical to the " +
      "solo fit/predict of each series alone; untrained keys emit " +
      "nothing; no driver loop (one job trains every key)") {
    val p = AutoencoderReconstructor.Params(
      bucketInterval = HOUR, hidden = 3, epochs = 20)
    // three hosts with genuinely different regimes
    val fleet = Seq(
      "web1" -> sinSeries(240, HOUR, seed = 11),
      "web2" -> sinSeries(240, HOUR, seed = 29).map(t => (t._1, t._2 * 3)),
      "db1" -> amSeries(10, seed = 5).map(t => (t._1, t._2 + 8.0)))
    val df = fleet.flatMap { case (h, s) => s.map(x => (h, x._1, x._2)) }
      .toDF("host", "bucket", "value")
    val states = AutoencoderReconstructor.train(df, "value", Seq("host"), p)
    assert(states.count() == 3)

    val scoredAll = AutoencoderReconstructor.predict(df, states, "value",
      Seq("host"), p)
    for ((h, s) <- fleet) {
      val solo = AutoencoderReconstructor.train(
        s.toDF("bucket", "value"), "value", p)
      val st = states.filter(col("host") === h).head()
      // state parity: flattened weights, sigma, mu, sd all bit-equal
      assert(st.getSeq[Double](st.fieldIndex("weights")).toSeq ==
        solo.weights.flatten.toSeq)
      assert(st.getAs[Double]("sigma") == solo.sigma)
      assert(st.getAs[Double]("mu") == solo.mu)
      assert(st.getAs[Double]("sd") == solo.sd)
      // score parity: the fleet replay equals the solo window pass
      val soloPred = solo.predict(s.toDF("bucket", "value"), "value")
        .orderBy("bucket")
        .select("predicted", "score").as[(Double, Double)].collect()
      val fleetPred = scoredAll.filter(col("host") === h)
        .orderBy("bucket")
        .select("predicted", "score").as[(Double, Double)].collect()
      assert(fleetPred.length == s.length)
      assert(soloPred.zip(fleetPred).forall { case ((p1, s1), (p2, s2)) =>
        p1 == p2 && s1 == s2 })
    }
    // a key with points but no trained state scores nothing
    val extra = df.union(Seq(("ghost", 0L, 1.0), ("ghost", HOUR, 2.0))
      .toDF("host", "bucket", "value"))
    val got = AutoencoderReconstructor.predict(extra, states, "value",
      Seq("host"), p)
    assert(got.filter(col("host") === "ghost").count() == 0)
    assert(got.count() == scoredAll.count())
  }

  test("fleet AE: a degenerate key (too-short or all-null series) is " +
      "skipped and counted, not fatal to the fleet job") {
    val p = AutoencoderReconstructor.Params(
      bucketInterval = HOUR, hidden = 2, epochs = 10)
    val good = sinSeries(240, HOUR, seed = 11)
    val df = (good.map(x => ("web1", x._1, x._2)) ++
        Seq(("shorty", 0L, 1.0), ("shorty", HOUR, 2.0)) ++ // < span buckets
        (0 until 48).map(h => ("ghost", h * HOUR, null.asInstanceOf[Any])))
      .map { case (h, b, v) => (h, b, v.asInstanceOf[java.lang.Double]) }
      .toDF("host", "bucket", "value")
    val states = AutoencoderReconstructor.train(df, "value", Seq("host"), p)
    // one healthy key fits; the two degenerate keys skip without
    // aborting the job (the skip count rides the named accumulator
    // `graft.fleetAe.skippedKeys`, visible in the UI/status store)
    assert(states.select("host").as[String].collect().toSeq == Seq("web1"))
    // per-key parity with the solo fit is untouched by the skip path
    val solo = AutoencoderReconstructor.train(
      good.toDF("bucket", "value"), "value", p)
    val st = states.head()
    assert(st.getSeq[Double](st.fieldIndex("weights")).toSeq ==
      solo.weights.flatten.toSeq)
  }

  test("registry save/load round-trip: identical predictions, " +
      "deterministic retrain") {
    assert(ModelRegistry.names.contains("autoencoder"))
    val series = sinSeries(480, HOUR, seed = 3).toDF("bucket", "value")
    val m1 = AutoencoderReconstructor.train(series, "value",
      s"""{"type":"autoencoder","bucket_interval":$HOUR,"epochs":20}""")
    val root = java.nio.file.Files.createTempDirectory("ae_models").toString
    m1.save(root, "ae1")
    val back = ModelRegistry.load(spark, root, "ae1")
    assert(back.modelType == "autoencoder")
    def preds(m: TrainedModel) = m.predict(series, "value")
      .orderBy("bucket").select("predicted").as[Double].collect().toSeq
    val a = preds(m1); val b = preds(back)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    // same seed → bit-identical retrain
    val m2 = AutoencoderReconstructor.train(series, "value",
      s"""{"type":"autoencoder","bucket_interval":$HOUR,"epochs":20}""")
    assert(m1.asInstanceOf[AutoencoderReconstructor.Trained].sigma ==
      m2.asInstanceOf[AutoencoderReconstructor.Trained].sigma)
  }
}
