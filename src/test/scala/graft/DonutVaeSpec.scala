package graft

import org.apache.spark.sql.functions._

import graft.ml._

/** True Donut VAE vs the reference's quality floors
  * (/root/reference/tests/test_donut.py) — the same floors the
  * tied-weights AE passes, now enforced on the faithful
  * generative-model restatement (encoder→z_mean/z_log_var→
  * reparameterized decoder, M-ELBO, MCMC imputation). */
class DonutVaeSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L

  private def sinSeries(nBuckets: Int, interval: Long, seed: Long)
      : Seq[(Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nBuckets).map { t =>
      val ts = t * interval
      val rate = 3.0 + 3.0 * math.sin(2 * math.Pi * (ts % 86400L) / 86400.0)
      (ts, math.max(0.0, 2.0 * rate + rnd.nextGaussian() * 0.3))
    }
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
    val model = DonutVae.train(
      clean.take(nTrain).toDF("bucket", "value"), "value",
      DonutVae.Params(
        bucketInterval = interval, period = 86400L, span = 72,
        intermediate = 24, latent = 5, epochs = 60))
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

  test("imputes a never-observed slot within the reference tolerance " +
      "(test_donut.py:451-530)") {
    val series = (0 until 96).map { t =>
      val v: java.lang.Double = if (t % 24 == 12) null else 1.0
      (t * HOUR, v)
    }.toDF("bucket", "value")
    val model = DonutVae.train(series, "value",
      DonutVae.Params(bucketInterval = HOUR, epochs = 20))
    val out = model.predict(series, "value")
      .filter(col("bucket") === lit((3 * 24 + 12) * HOUR))
      .select("predicted").as[Double].head()
    assert(math.abs(out - 1.0) <= 0.22, s"imputed $out, want 1.0 +- 0.22")
  }

  test("MC-integration band (donut.py:1281-1292): contains the " +
      "deterministic prediction, has positive width, and is " +
      "bit-deterministic across runs") {
    val series = sinSeries(480, HOUR, seed = 3).toDF("bucket", "value")
    val model = DonutVae.train(series, "value",
      DonutVae.Params(bucketInterval = HOUR, epochs = 30))
      .asInstanceOf[DonutVae.Trained]
    def run() = model.predictMc(series, "value", mcCount = 64)
      .filter(col("bucket") >= lit(100 * HOUR))
      .orderBy("bucket")
      .select("predicted", "lower", "upper").as[(Double, Double, Double)]
      .collect().toSeq
    val a = run()
    assert(a.forall { case (p, lo, hi) => lo <= p && p <= hi && hi > lo })
    val b = run() // per-bucket seeded RNG → identical under re-execution
    assert(a == b)
  }

  test("registry save/load round-trip: identical predictions, " +
      "deterministic retrain; forecast bands sane") {
    assert(ModelRegistry.names.contains("donut_vae"))
    val series = sinSeries(480, HOUR, seed = 3).toDF("bucket", "value")
    val settings =
      s"""{"type":"donut_vae","bucket_interval":$HOUR,"epochs":20}"""
    val m1 = DonutVae.train(series, "value", settings)
    val root = java.nio.file.Files.createTempDirectory("vae_models").toString
    m1.save(root, "vae1")
    val back = ModelRegistry.load(spark, root, "vae1")
    assert(back.modelType == "donut_vae")
    def preds(m: TrainedModel) = m.predict(series, "value")
      .orderBy("bucket").select("predicted").as[Double].collect().toSeq
    val a = preds(m1); val b = preds(back)
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    // same seed → bit-identical retrain
    val m2 = DonutVae.train(series, "value", settings)
    assert(m1.asInstanceOf[DonutVae.Trained].sigma ==
      m2.asInstanceOf[DonutVae.Trained].sigma)
    // no-observation forecast: finite bands, lower <= predicted <= upper
    val fc = m1.forecast(spark, 480 * HOUR, 480 * HOUR + 86400L)
      .select("predicted", "lower", "upper").as[(Double, Double, Double)]
      .collect()
    assert(fc.length == 24)
    assert(fc.forall { case (p, lo, hi) =>
      !p.isNaN && lo <= p && p <= hi && hi > lo })
  }

  test("hyperparameter search (donut.py:800-855): explores the " +
      "reference grid within max_evals, picks by validation loss, " +
      "deterministic by seed") {
    val series = sinSeries(360, HOUR, seed = 8).toDF("bucket", "value")
    val base = DonutVae.Params(bucketInterval = HOUR, epochs = 8)
    val (p1, m1) = DonutVae.fitBest(series, "value", base, maxEvals = 2)
    // small budget → the reference pins intermediate_dim to 100
    assert(Seq(3, 5, 8).contains(p1.latent) && p1.intermediate == 100)
    val (p2, _) = DonutVae.fitBest(series, "value", base, maxEvals = 2)
    assert(p1 == p2) // seeded draw → same winner
    val (p3, _) = DonutVae.fitBest(series, "value", base, maxEvals = 4)
    assert(Seq(21, 34, 55, 89, 144, 233).contains(p3.intermediate))
    val preds = m1.predict(series, "value")
      .select("predicted").as[Double].collect()
    assert(preds.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("fleet VAE: per-key state and scores bit-identical to the solo " +
      "fit of each series alone; degenerate keys skip; untrained keys " +
      "emit nothing") {
    val p = DonutVae.Params(bucketInterval = HOUR, epochs = 15)
    val fleet = Seq(
      "web1" -> sinSeries(240, HOUR, seed = 11),
      "web2" -> sinSeries(240, HOUR, seed = 29).map(t => (t._1, t._2 * 3)))
    val df = (fleet.flatMap { case (h, s) => s.map(x => (h, x._1, x._2)) } ++
        Seq(("shorty", 0L, 1.0), ("shorty", HOUR, 2.0))) // < span buckets
      .toDF("host", "bucket", "value")
    val states = DonutVae.train(df, "value", Seq("host"), p)
    assert(states.select("host").as[String].collect().sorted.toSeq ==
      Seq("web1", "web2")) // shorty skipped, not fatal
    val scoredAll = DonutVae.predict(df, states, "value", Seq("host"), p)
    assert(scoredAll.filter(col("host") === "shorty").count() == 0)
    for ((h, s) <- fleet) {
      val solo = DonutVae.train(s.toDF("bucket", "value"), "value", p)
      val st = states.filter(col("host") === h).head()
      assert(st.getAs[Double]("sigma") == solo.sigma)
      assert(st.getAs[Double]("mu") == solo.mu)
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
  }

  test("M-ELBO beta: windows with more missing entries pull less " +
      "toward the prior (training still converges with 20% nulls)") {
    val rnd = new scala.util.Random(9)
    val base = sinSeries(480, HOUR, seed = 5)
    val gappy = base.map { case (ts, v) =>
      (ts, if (rnd.nextDouble() < 0.2) null.asInstanceOf[java.lang.Double]
           else java.lang.Double.valueOf(v))
    }.toDF("bucket", "value")
    val model = DonutVae.train(gappy, "value",
      DonutVae.Params(bucketInterval = HOUR, epochs = 30))
    val scored = model.predict(gappy, "value")
      .filter(col("bucket") >= lit(72 * HOUR))
    // predictions exist for every bucket (missing included) and track
    // the seasonal signal: mean abs error under half the signal sd
    val n = scored.count()
    assert(n == 480 - 72)
    val mae = scored.filter(col("value").isNotNull)
      .agg(avg(abs(col("value") - col("predicted"))))
      .as[Double].head()
    val sd = base.map(_._2).toDF("v").agg(stddev_pop(col("v")))
      .as[Double].head()
    info(s"MAE with 20% missing = $mae (signal sd $sd)")
    assert(mae < 0.5 * sd)
  }

  test("PinnedDonut: the frozen artifact loads through the checkpoint " +
      "path, round-trips its settings, and scores finite bands") {
    val m = PinnedDonut.model(spark)
    // settingsJson round-trips bit-exactly through save→load (the
    // weights are the identity test: 442 doubles)
    assert(m.settingsJson === PinnedDonut.settingsJson)
    val series = (0 until 48).map { t =>
      (t * HOUR, 50.0 + 20.0 * math.sin(2 * math.Pi * t / 24.0))
    }.toDF("bucket", "value")
    val scored = m.predict(series, "value").collect()
    assert(scored.length === 48)
    assert(scored.forall { r =>
      val p = r.getAs[Double]("predicted")
      !p.isNaN && !p.isInfinite &&
        r.getAs[Double]("lower") < r.getAs[Double]("upper")
    })
  }
}
