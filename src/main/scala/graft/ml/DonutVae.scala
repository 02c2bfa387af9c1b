package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Json

/** True variational autoencoder — the faithful restatement of the
  * reference's Donut model (/root/reference/loudml/donut.py:102-163,
  * 700-798, arXiv:1802.03903), closing the generative-model gap the
  * tied-weights [[AutoencoderReconstructor]] left open by documented
  * design. Architecture, loss, and training loop mirror the reference
  * exactly, with TensorFlow replaced by a hand-rolled dense net (the
  * tensors are span×intermediate — hundreds of parameters — so
  * explicit loops beat any framework at this size):
  *
  *  - encoder  x → Dense(I, relu, ℓ₂ 0.001) ×2 → z_mean, z_log_var
  *    (donut.py:726-737);
  *  - reparameterization z = μ + exp(½·logvar)⊙ε (donut.py:100-118);
  *  - decoder  z → Dense(I, relu, ℓ₂ 0.001) ×2 → Dense(W, linear)
  *    (donut.py:744-751);
  *  - loss = W·MSE(x, x̂) − ½ Σ(1 + logvar − β μ² − β e^logvar) with
  *    β = Σ(1−missing)/W — the modified ELBO that down-weights the
  *    KL prior pull on windows with missing/abnormal entries
  *    (donut.py:121-137, `add_loss`);
  *  - Adam with per-tensor gradient clipnorm 10 (donut.py:758-760);
  *  - training batches sample windows WITH replacement, inject
  *    missingness at rate λ=0.01 (shared column mask per batch,
  *    donut.py:448-466 `generator`, the paper's M-ELBO trick), and
  *    MCMC-impute the missing entries with the CURRENT model for
  *    g_mcmc_count=10 rounds before each step;
  *  - early stopping on validation loss, patience 5, last weights
  *    kept (donut.py:766-786, no restore_best_weights);
  *  - prediction masks the window's LAST entry and MCMC-imputes it
  *    with z = z_mean (donut.py:1264-1276) — fully deterministic;
  *  - [[Trained.predictMc]] reproduces the reference's MC-integration
  *    band (donut.py:1281-1292: std of the last column over sampled-z
  *    reconstructions), with the RNG seeded per bucket so the result
  *    is deterministic under any partitioning.
  *
  * Missing entries standardize to 0 (the standardized global mean —
  * donut.py:980-984 zeroes them after scaling); the reference's
  * abnormal-window mask rides in through [[Annotations.maskWindows]]
  * (masked buckets arrive as null and get the same treatment).
  *
  * Scale shape: identical to the other model fits here — training
  * collects ONE bucketized series (O(buckets), model-sized; the
  * distributed reduction already happened in the bucketing
  * aggregation) and fits on the driver; scoring is keyed
  * ([[Keyed.scoreWindows]]: each series cogroups with its state row,
  * the weights decode once per key; a solo model is the one-row state
  * with the empty key), and the keyed [[train]] fits every key of a
  * fleet inside one Spark job. Everything is deterministic by `seed`.
  */
object DonutVae extends ModelType {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  val name = "donut_vae"

  final case class Params(
      bucketInterval: Long,
      period: Long = 86400L,
      span: Int = 24,
      intermediate: Int = 24,
      latent: Int = 5,
      epochs: Int = 100,
      batch: Int = 64,
      lr: Double = 0.001,
      seed: Long = 42L,
      trainSize: Double = 0.67,
      patience: Int = 5,
      mcmcIters: Int = 10,
      injectRate: Double = 0.01,
      l2: Double = 0.001,
      clipNorm: Double = 10.0,
      sigmaFloor: Double = 1e-9) {
    def periodBuckets: Int = (period / bucketInterval).toInt
    def json: String =
      s"""{"type":"$name","bucket_interval":$bucketInterval,""" +
        s""""period":$period,"span":$span,"intermediate":$intermediate,""" +
        s""""latent":$latent,"epochs":$epochs,"batch":$batch,"lr":$lr,""" +
        s""""seed":$seed,"train_size":$trainSize,"patience":$patience,""" +
        s""""mcmc_iters":$mcmcIters,"inject_rate":$injectRate,""" +
        s""""l2":$l2,"clip_norm":$clipNorm,"sigma_floor":$sigmaFloor}"""
  }

  def parseParams(json: String): Params = {
    val j = JsonMethods.parse(json)
    Params(
      bucketInterval = Json.num(j \ "bucket_interval").getOrElse(
        throw new IllegalArgumentException(
          "donut_vae settings need bucket_interval")).toLong,
      period = Json.num(j \ "period").getOrElse(86400.0).toLong,
      span = Json.num(j \ "span").getOrElse(24.0).toInt,
      intermediate = Json.num(j \ "intermediate").getOrElse(24.0).toInt,
      latent = Json.num(j \ "latent").getOrElse(5.0).toInt,
      epochs = Json.num(j \ "epochs").getOrElse(100.0).toInt,
      batch = Json.num(j \ "batch").getOrElse(64.0).toInt,
      lr = Json.num(j \ "lr").getOrElse(0.001),
      seed = Json.num(j \ "seed").getOrElse(42.0).toLong,
      trainSize = Json.num(j \ "train_size").getOrElse(0.67),
      patience = Json.num(j \ "patience").getOrElse(5.0).toInt,
      mcmcIters = Json.num(j \ "mcmc_iters").getOrElse(10.0).toInt,
      injectRate = Json.num(j \ "inject_rate").getOrElse(0.01),
      l2 = Json.num(j \ "l2").getOrElse(0.001),
      clipNorm = Json.num(j \ "clip_norm").getOrElse(10.0),
      sigmaFloor = Json.num(j \ "sigma_floor").getOrElse(1e-9))
  }

  // ───────────────────────── dense net ─────────────────────────

  /** One dense layer: row-major kernel `k` (out×in) + bias, gradient
    * accumulators, Adam moments. `reg` marks the ℓ₂-regularized
    * layers (the four relu layers — donut.py:730-750). */
  private[ml] final class Lin(val nOut: Int, val nIn: Int,
      rnd: scala.util.Random, gain: Double, val reg: Boolean) {
    val k = Array.fill(nOut * nIn)(rnd.nextGaussian() * gain / math.sqrt(nIn))
    val b = new Array[Double](nOut)
    val gk = new Array[Double](nOut * nIn)
    val gb = new Array[Double](nOut)
    private val mk = new Array[Double](nOut * nIn)
    private val vk = new Array[Double](nOut * nIn)
    private val mb = new Array[Double](nOut)
    private val vb = new Array[Double](nOut)

    def fwd(x: Array[Double], y: Array[Double]): Unit = {
      var o = 0
      while (o < nOut) {
        var s = b(o); val base = o * nIn; var i = 0
        while (i < nIn) { s += k(base + i) * x(i); i += 1 }
        y(o) = s; o += 1
      }
    }

    /** Accumulate ∂loss/∂k,b from upstream `dy` at input `x`; add
      * Σ_o dyₒ·k(o,·) into `dx` (caller zeroes dx). */
    def bwd(x: Array[Double], dy: Array[Double], dx: Array[Double]): Unit = {
      var o = 0
      while (o < nOut) {
        val d = dy(o); val base = o * nIn
        gb(o) += d
        var i = 0
        while (i < nIn) {
          gk(base + i) += d * x(i)
          if (dx != null) dx(i) += d * k(base + i)
          i += 1
        }
        o += 1
      }
    }

    def zeroGrad(): Unit = {
      java.util.Arrays.fill(gk, 0.0); java.util.Arrays.fill(gb, 0.0)
    }

    /** Adam step on the mean-batch gradient (+ℓ₂ term on kernels),
      * per-tensor clipnorm (Keras clipnorm semantics). */
    def step(lr: Double, t: Int, batchN: Int, l2: Double,
        clip: Double): Unit = {
      val inv = 1.0 / batchN
      var norm2k = 0.0; var norm2b = 0.0
      var i = 0
      while (i < gk.length) {
        gk(i) = gk(i) * inv + (if (reg) 2.0 * l2 * k(i) else 0.0)
        norm2k += gk(i) * gk(i); i += 1
      }
      i = 0
      while (i < gb.length) {
        gb(i) *= inv; norm2b += gb(i) * gb(i); i += 1
      }
      val ck = if (norm2k > clip * clip) clip / math.sqrt(norm2k) else 1.0
      val cb = if (norm2b > clip * clip) clip / math.sqrt(norm2b) else 1.0
      val (b1, b2, eps) = (0.9, 0.999, 1e-7) // Keras Adam defaults
      val bc1 = 1.0 - math.pow(b1, t)
      val bc2 = 1.0 - math.pow(b2, t)
      i = 0
      while (i < gk.length) {
        val g = gk(i) * ck
        mk(i) = b1 * mk(i) + (1 - b1) * g
        vk(i) = b2 * vk(i) + (1 - b2) * g * g
        k(i) -= lr * (mk(i) / bc1) / (math.sqrt(vk(i) / bc2) + eps)
        i += 1
      }
      i = 0
      while (i < gb.length) {
        val g = gb(i) * cb
        mb(i) = b1 * mb(i) + (1 - b1) * g
        vb(i) = b2 * vb(i) + (1 - b2) * g * g
        b(i) -= lr * (mb(i) / bc1) / (math.sqrt(vb(i) / bc2) + eps)
        i += 1
      }
      zeroGrad()
    }
  }

  /** The seven tensors in donut.py:726-751 order. */
  private[ml] final class Net(p: Params, rnd: scala.util.Random) {
    val e1 = new Lin(p.intermediate, p.span, rnd, math.sqrt(2.0), reg = true)
    val e2 = new Lin(p.intermediate, p.intermediate, rnd, math.sqrt(2.0), reg = true)
    val mu = new Lin(p.latent, p.intermediate, rnd, 1.0, reg = false)
    val lv = new Lin(p.latent, p.intermediate, rnd, 1.0, reg = false)
    val d1 = new Lin(p.intermediate, p.latent, rnd, math.sqrt(2.0), reg = true)
    val d2 = new Lin(p.intermediate, p.intermediate, rnd, math.sqrt(2.0), reg = true)
    val out = new Lin(p.span, p.intermediate, rnd, 1.0, reg = false)
    def layers: Seq[Lin] = Seq(e1, e2, mu, lv, d1, d2, out)

    /** Encode to (μ, logvar). */
    def encode(x: Array[Double], h1: Array[Double], h2: Array[Double],
        zMean: Array[Double], zLogVar: Array[Double]): Unit = {
      e1.fwd(x, h1); relu(h1)
      e2.fwd(h1, h2); relu(h2)
      mu.fwd(h2, zMean)
      lv.fwd(h2, zLogVar)
    }

    /** Decode z to x̂. */
    def decode(z: Array[Double], g1: Array[Double], g2: Array[Double],
        xHat: Array[Double]): Unit = {
      d1.fwd(z, g1); relu(g1)
      d2.fwd(g1, g2); relu(g2)
      out.fwd(g2, xHat)
    }

    /** Deterministic reconstruction through z = z_mean (the MCMC /
      * prediction path, donut.py:1270-1275). */
    def reconstructMean(x: Array[Double]): Array[Double] = {
      val h1 = new Array[Double](p.intermediate)
      val h2 = new Array[Double](p.intermediate)
      val zm = new Array[Double](p.latent)
      val zl = new Array[Double](p.latent)
      encode(x, h1, h2, zm, zl)
      val g1 = new Array[Double](p.intermediate)
      val g2 = new Array[Double](p.intermediate)
      val xh = new Array[Double](p.span)
      decode(zm, g1, g2, xh)
      xh
    }

    def flat: Array[Double] =
      layers.flatMap(l => l.k.toSeq ++ l.b.toSeq).toArray
    def loadFlat(flatW: Array[Double]): Unit = {
      var off = 0
      layers.foreach { l =>
        System.arraycopy(flatW, off, l.k, 0, l.k.length); off += l.k.length
        System.arraycopy(flatW, off, l.b, 0, l.b.length); off += l.b.length
      }
      require(off == flatW.length,
        s"weight blob length ${flatW.length}, expected $off")
    }
  }

  private def relu(a: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) { if (a(i) < 0) a(i) = 0.0; i += 1 }
  }

  /** MCMC imputation with z = z_mean: `iters` rounds of decode →
    * x[missing] ← x̂[missing] (donut.py:1268-1275 — the assignment
    * follows EVERY decode, including the last, so the mutated `x`
    * carries the final imputation). Returns the final
    * reconstruction. */
  private[ml] def mcmcImpute(net: Net, x: Array[Double],
      missing: Array[Boolean], iters: Int): Array[Double] = {
    var xh = net.reconstructMean(x)
    var it = 0
    while (it < iters) {
      var j = 0
      while (j < x.length) { if (missing(j)) x(j) = xh(j); j += 1 }
      it += 1
      if (it < iters) xh = net.reconstructMean(x)
    }
    xh
  }

  // ───────────────────────── training ─────────────────────────

  def train(bucketed: DataFrame, valueCol: String,
      settingsJson: String): TrainedModel =
    train(bucketed, valueCol, parseParams(settingsJson))

  def train(bucketed: DataFrame, valueCol: String, p: Params): Trained = {
    val spark = bucketed.sparkSession
    val f = fitSeries(HoltWinters.collectSeries(bucketed, valueCol), p)
    import spark.implicits._
    val profile = (0 until p.periodBuckets)
      .map(s => (s.toLong, f.slotMean(s), f.slotSig(s)))
      .toDF("slot", "mu", "sigma")
    new Trained(profile, p, f.net, f.sigma, f.mu, f.sd, f.slotMean, f.slotSig)
  }

  /** Train one VAE state per key, reusing [[fitSeries]] verbatim per
    * key. A degenerate series (empty, all-null, or whose training split
    * is shorter than the span) is skipped and counted in the named
    * accumulator `graft.fleetVae.skippedKeys` ([[Keyed.fit]]). Returns
    * `(keys…, weights, sigma, mu, sd, slot_mean, slot_sigma)`, weights
    * being the flat 14-tensor blob. */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame =
    Keyed.fit(bucketed, valueCol, keys, Some(Keyed.Skip(
        "graft.fleetVae.skippedKeys",
        s => s.isEmpty || math.round(s.size * p.trainSize).toInt < p.span ||
          s.forall(_._2.isEmpty)))) {
      (k, series) =>
        val f = fitSeries(series, p)
        Keyed.WindowState(k, f.net.flat.toIndexedSeq, f.sigma, f.mu, f.sd,
          f.slotMean.toIndexedSeq, f.slotSig.toIndexedSeq)
    }

  /** Score a bucketized frame against per-key states (as [[train]]
    * returns them; `keys = Nil` scores one series against a one-row
    * state): one weight-blob decode per key, [[predictWindow]] per row,
    * bands ±3σ, Φ-score. Output: every input column plus `predicted`,
    * `lower`, `upper`, `score`; keys without a state emit nothing. */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: Params,
      anomalyType: String = "low_high"): DataFrame =
    Keyed.scoreWindows(bucketed, states, valueCol, keys, p.span,
        anomalyType) { st =>
      val net = decode(p, st)
      (b, win) => (predictWindow(net, p, st.mu, st.sd, b, win), st.sigma)
    }

  private def decode(p: Params, st: Keyed.WindowState): Net = {
    val net = new Net(p, new scala.util.Random(p.seed))
    net.loadFlat(st.weights.toArray) // length-checks the blob
    net
  }

  private[ml] final case class Fit(net: Net, sigma: Double, mu: Double,
      sd: Double, slotMean: Array[Double], slotSig: Array[Double],
      valLoss: Double)

  /** Stride-1 windows + missing flags over a standardized series —
    * `_format_dataset` (donut.py:945-987): missing entries zero. */
  private def formatWindows(xs: Array[Double], miss: Array[Boolean],
      span: Int): (Array[Array[Double]], Array[Array[Boolean]]) = {
    val n = xs.length - span + 1
    if (n <= 0) (Array.empty, Array.empty)
    else {
      val wx = Array.ofDim[Array[Double]](n)
      val wm = Array.ofDim[Array[Boolean]](n)
      var i = 0
      while (i < n) {
        wx(i) = java.util.Arrays.copyOfRange(xs, i, i + span)
        wm(i) = java.util.Arrays.copyOfRange(miss, i, i + span)
        i += 1
      }
      (wx, wm)
    }
  }

  /** Per-sample forward + backward; returns the sample loss and
    * accumulates gradients into the net. Scratch arrays owned by the
    * caller loop (one allocation set per batch, not per sample).
    * (private[ml] so the finite-difference gradient check can drive
    * it directly.) */
  private[ml] def step(net: Net, p: Params, x: Array[Double],
      miss: Array[Boolean], eps: Array[Double]): Double = {
    val I = p.intermediate; val L = p.latent; val W = p.span
    val h1 = new Array[Double](I); val h2 = new Array[Double](I)
    val zm = new Array[Double](L); val zl = new Array[Double](L)
    net.encode(x, h1, h2, zm, zl)
    // β = Σ(1−missing)/W (donut.py:129)
    var obs = 0; var j = 0
    while (j < W) { if (!miss(j)) obs += 1; j += 1 }
    val beta = obs.toDouble / W
    val z = new Array[Double](L)
    var kl = 0.0
    var kk = 0
    while (kk < L) {
      z(kk) = zm(kk) + math.exp(0.5 * zl(kk)) * eps(kk)
      kl += 1.0 + zl(kk) - beta * zm(kk) * zm(kk) - beta * math.exp(zl(kk))
      kk += 1
    }
    val g1 = new Array[Double](I); val g2 = new Array[Double](I)
    val xh = new Array[Double](W)
    net.decode(z, g1, g2, xh)
    var sse = 0.0
    j = 0
    while (j < W) { val d = xh(j) - x(j); sse += d * d; j += 1 }
    val loss = sse - 0.5 * kl // W·mean_sq = SSE (donut.py:132-136)

    // ── backward ──
    val dxh = new Array[Double](W)
    j = 0
    while (j < W) { dxh(j) = 2.0 * (xh(j) - x(j)); j += 1 }
    val dg2 = new Array[Double](I)
    net.out.bwd(g2, dxh, dg2)
    var i = 0
    while (i < I) { if (g2(i) <= 0) dg2(i) = 0.0; i += 1 }
    val dg1 = new Array[Double](I)
    net.d2.bwd(g1, dg2, dg1)
    i = 0
    while (i < I) { if (g1(i) <= 0) dg1(i) = 0.0; i += 1 }
    val dz = new Array[Double](L)
    net.d1.bwd(z, dg1, dz)
    // KL + reparameterization
    val dzm = new Array[Double](L); val dzl = new Array[Double](L)
    kk = 0
    while (kk < L) {
      dzm(kk) = dz(kk) + beta * zm(kk)
      dzl(kk) = dz(kk) * eps(kk) * 0.5 * math.exp(0.5 * zl(kk)) +
        0.5 * (beta * math.exp(zl(kk)) - 1.0)
      kk += 1
    }
    val dh2 = new Array[Double](I)
    net.mu.bwd(h2, dzm, dh2)
    net.lv.bwd(h2, dzl, dh2) // accumulates into dh2
    i = 0
    while (i < I) { if (h2(i) <= 0) dh2(i) = 0.0; i += 1 }
    val dh1 = new Array[Double](I)
    net.e2.bwd(h1, dh2, dh1)
    i = 0
    while (i < I) { if (h1(i) <= 0) dh1(i) = 0.0; i += 1 }
    net.e1.bwd(x, dh1, null)
    loss
  }

  /** Deterministic validation loss (z = z_mean, no injection). */
  private def valLoss(net: Net, p: Params, wx: Array[Array[Double]],
      wm: Array[Array[Boolean]]): Double = {
    if (wx.isEmpty) return 0.0
    var total = 0.0
    var s = 0
    while (s < wx.length) {
      val x = wx(s); val miss = wm(s)
      val xh = net.reconstructMean(x)
      val I = p.intermediate; val L = p.latent
      val h1 = new Array[Double](I); val h2 = new Array[Double](I)
      val zm = new Array[Double](L); val zl = new Array[Double](L)
      net.encode(x, h1, h2, zm, zl)
      var obs = 0; var j = 0
      while (j < p.span) { if (!miss(j)) obs += 1; j += 1 }
      val beta = obs.toDouble / p.span
      var kl = 0.0; var kk = 0
      while (kk < L) {
        kl += 1.0 + zl(kk) - beta * zm(kk) * zm(kk) - beta * math.exp(zl(kk))
        kk += 1
      }
      var sse = 0.0
      j = 0
      while (j < p.span) { val d = xh(j) - x(j); sse += d * d; j += 1 }
      total += sse - 0.5 * kl
      s += 1
    }
    total / wx.length
  }

  /** The whole training computation as a pure function of the sorted
    * bucketized series (shape shared with the other fits so a fleet
    * variant can reuse it inside `mapGroups`). */
  private[ml] def fitSeries(
      series: Seq[(Long, Option[Double])], p: Params): Fit = {
    require(series.nonEmpty, "no data to train on")
    val obs = series.flatMap(_._2)
    require(obs.nonEmpty, "no observations to train on")
    val mu = obs.sum / obs.size
    val sd0 = math.sqrt(obs.map(v => (v - mu) * (v - mu)).sum / obs.size)
    val sd = if (sd0 == 0.0) 1.0 else sd0 // σ=0→1 guard (donut.py:644-650)
    val P = p.periodBuckets
    def slotOf(bucket: Long): Int =
      Slot.of(bucket, p.period, p.bucketInterval)

    // slot stats ride along for forecast seeding (apply_defaults analog)
    val bySlot = series.collect { case (b, Some(v)) => (slotOf(b), (v - mu) / sd) }
      .groupBy(_._1).map { case (s, xs) =>
        val vs = xs.map(_._2)
        val m = vs.sum / vs.size
        val sg = math.sqrt(vs.map(v => (v - m) * (v - m)).sum / vs.size)
        s -> (m, if (sg == 0.0) 1e-6 else sg)
      }
    val slotMean = Array.tabulate(P)(s => bySlot.get(s).map(_._1).getOrElse(0.0))
    val slotSig = Array.tabulate(P)(s => bySlot.get(s).map(_._2).getOrElse(1.0))

    // standardized series, missing → 0 (donut.py:980-984)
    val n = series.size
    val xs = new Array[Double](n)
    val miss = new Array[Boolean](n)
    var idx = 0
    series.foreach { case (_, vOpt) =>
      vOpt match {
        case Some(v) => xs(idx) = (v - mu) / sd
        case None    => xs(idx) = 0.0; miss(idx) = true
      }
      idx += 1
    }

    // sequential split THEN windowing (donut.py:989-997)
    val ntrn = math.round(n * p.trainSize).toInt
    val (trainX, trainM) = formatWindows(
      xs.take(ntrn), miss.take(ntrn), p.span)
    val (valX, valM) = formatWindows(
      xs.drop(ntrn), miss.drop(ntrn), p.span)
    require(trainX.nonEmpty, s"insufficient training data (need span=${p.span})")

    val rnd = new scala.util.Random(p.seed)
    val net = new Net(p, rnd)
    val stepsPerEpoch = math.max(1, math.ceil(trainX.length.toDouble / p.batch).toInt)
    var t = 0
    var bestVal = Double.MaxValue
    var sinceBest = 0
    val eps = new Array[Double](p.latent)
    var epoch = 0
    while (epoch < p.epochs && sinceBest < p.patience) {
      var s = 0
      while (s < stepsPerEpoch) {
        // batch: windows sampled WITH replacement + column-shared
        // missingness injection at λ (donut.py:448-466)
        val inject = Array.fill(p.span)(rnd.nextDouble() < p.injectRate)
        val batchX = Array.ofDim[Array[Double]](p.batch)
        val batchM = Array.ofDim[Array[Boolean]](p.batch)
        var i = 0
        while (i < p.batch) {
          val pick = rnd.nextInt(trainX.length)
          batchX(i) = trainX(pick).clone()
          val m = new Array[Boolean](p.span)
          var j = 0
          while (j < p.span) {
            m(j) = inject(j) || trainM(pick)(j)
            if (m(j)) batchX(i)(j) = trainX(pick)(j) // start value, imputed next
            j += 1
          }
          batchM(i) = m
          i += 1
        }
        // MCMC-impute the batch with the current model (donut.py:462-466)
        i = 0
        while (i < p.batch) {
          mcmcImpute(net, batchX(i), batchM(i), p.mcmcIters)
          i += 1
        }
        i = 0
        while (i < p.batch) {
          var kk = 0
          while (kk < p.latent) { eps(kk) = rnd.nextGaussian(); kk += 1 }
          step(net, p, batchX(i), batchM(i), eps)
          i += 1
        }
        t += 1
        net.layers.foreach(_.step(p.lr, t, p.batch, p.l2, p.clipNorm))
        s += 1
      }
      val vl = valLoss(net, p,
        if (valX.nonEmpty) valX else trainX,
        if (valX.nonEmpty) valM else trainM)
      if (vl < bestVal - 1e-12) { bestVal = vl; sinceBest = 0 }
      else sinceBest += 1
      epoch += 1
    }

    // residual σ under prediction semantics: last entry masked +
    // MCMC-imputed over training windows, observed targets only
    var sse = 0.0; var cnt = 0
    var s0 = 0
    while (s0 < trainX.length) {
      if (!trainM(s0)(p.span - 1)) {
        val x = trainX(s0).clone()
        val m = trainM(s0).clone()
        val target = x(p.span - 1)
        m(p.span - 1) = true
        x(p.span - 1) = 0.0
        val xh = mcmcImpute(net, x, m, p.mcmcIters)
        val e = xh(p.span - 1) - target
        sse += e * e; cnt += 1
      }
      s0 += 1
    }
    val sigma = math.max(
      if (cnt == 0) 0.0 else sd * math.sqrt(sse / cnt), p.sigmaFloor)

    Fit(net, sigma, mu, sd, slotMean, slotSig,
      valLoss = valLoss(net, p,
        if (valX.nonEmpty) valX else trainX,
        if (valX.nonEmpty) valM else trainM))
  }

  /** Budgeted hyperparameter search over the reference's donut space
    * (donut.py:800-855): latent_dim ∈ {3,5,8}; intermediate_dim from
    * the Fibonacci neurons ladder {21,34,55,89,144,233} when the
    * budget exceeds the latent choices, else the fixed 100 — selected
    * by the deterministic validation loss (the reference's
    * cross_val_model score), TPE replaced by a seeded draw without
    * replacement over the grid (the space is small enough to need no
    * surrogate). Each eval is one full driver-side fit of a
    * model-sized series; the winning fit is retained, not refit. */
  def fitBest(bucketed: DataFrame, valueCol: String, p: Params,
      maxEvals: Int = 3): (Params, Trained) = {
    require(maxEvals >= 1, "maxEvals must be >= 1")
    val spark = bucketed.sparkSession
    val series = HoltWinters.collectSeries(bucketed, valueCol)
    val latents = Seq(3, 5, 8)
    val neurons =
      if (maxEvals > latents.size) Seq(21, 34, 55, 89, 144, 233)
      else Seq(100)
    val rnd = new scala.util.Random(p.seed)
    val grid = rnd.shuffle(
      for (l <- latents; i <- neurons) yield (l, i))
    var best: (Params, Fit) = null
    grid.take(maxEvals).foreach { case (l, i) =>
      val cand = p.copy(latent = l, intermediate = i)
      val f = fitSeries(series, cand)
      if (best == null || f.valLoss < best._2.valLoss) best = (cand, f)
    }
    val (bp, f) = best
    import spark.implicits._
    val profile = (0 until bp.periodBuckets)
      .map(s => (s.toLong, f.slotMean(s), f.slotSig(s)))
      .toDF("slot", "mu", "sigma")
    (bp, new Trained(profile, bp, f.net, f.sigma, f.mu, f.sd,
      f.slotMean, f.slotSig))
  }

  /** One-step prediction for the window ending at `endBucket` —
    * right-aligned context, missing entries zeroed + flagged, the
    * target entry forced missing, MCMC-imputed with z = z_mean
    * (donut.py:1257-1276). Returns the de-standardized prediction. */
  private[ml] def predictWindow(net: Net, p: Params, mu: Double,
      sd: Double, endBucket: Long,
      win: Iterable[(Long, Option[Double])]): Double =
    mu + sd * imputeWindow(net, p, mu, sd, endBucket, win)._2(p.span - 1)

  /** The standardized window (missing entries imputed in place) and its
    * final reconstruction. */
  private def imputeWindow(net: Net, p: Params, mu: Double, sd: Double,
      endBucket: Long, win: Iterable[(Long, Option[Double])])
      : (Array[Double], Array[Double]) = {
    val span = p.span
    val interval = p.bucketInterval
    val x = new Array[Double](span)
    val m = Array.fill(span)(true)
    win.foreach { case (b, vOpt) =>
      val off = ((b - endBucket) / interval).toInt + span - 1
      if (off >= 0 && off < span && vOpt.isDefined) {
        x(off) = (vOpt.get - mu) / sd
        m(off) = false
      }
    }
    m(span - 1) = true
    x(span - 1) = 0.0
    (x, mcmcImpute(net, x, m, p.mcmcIters))
  }

  def load(spark: SparkSession, profile: DataFrame,
      settingsJson: String): TrainedModel = {
    val p = parseParams(settingsJson)
    val j = JsonMethods.parse(settingsJson)
    val flat = (j \ "weights") match {
      case JArray(ws) => ws.flatMap(Json.num).toArray
      case _ => throw new IllegalArgumentException("stored model has no weights")
    }
    val net = new Net(p, new scala.util.Random(p.seed))
    net.loadFlat(flat)
    val sigma = Json.num(j \ "sigma").getOrElse(
      throw new IllegalArgumentException("stored model has no sigma"))
    val mu = Json.num(j \ "mu").getOrElse(0.0)
    val sd = Json.num(j \ "sd").getOrElse(1.0)
    val prof = profile.orderBy("slot").collect()
    new Trained(profile, p, net, sigma, mu, sd,
      prof.map(_.getDouble(1)), prof.map(_.getDouble(2)))
  }

  final class Trained(
      val profile: DataFrame,
      val params: Params,
      private[ml] val net: Net,
      val sigma: Double,
      val mu: Double,
      val sd: Double,
      slotMean: Array[Double],
      slotSig: Array[Double]) extends TrainedModel {

    def modelType: String = name
    def bucketInterval: Long = params.bucketInterval

    def settingsJson: String = {
      val base = params.json.stripSuffix("}")
      val flat = net.flat.mkString(",")
      s"""$base,"weights":[$flat],"sigma":$sigma,"mu":$mu,"sd":$sd}"""
    }

    /** The one-row state with the empty key. */
    private def state(spark: SparkSession): DataFrame =
      Keyed.soloState(spark, Keyed.WindowState(Nil, net.flat.toIndexedSeq,
        sigma, mu, sd, slotMean.toIndexedSeq, slotSig.toIndexedSeq))

    /** A solo model scores through the keyed [[DonutVae.predict]]. */
    def predict(bucketed: DataFrame, valueCol: String,
        anomalyType: String = "low_high"): DataFrame =
      DonutVae.predict(bucketed, state(bucketed.sparkSession), valueCol,
        Nil, params, anomalyType)

    /** The reference's MC-integration band (donut.py:1281-1292): per
      * window, encode the imputed window, draw `mcCount` z samples,
      * decode, and band at ±3·std of the decoded LAST column. RNG
      * seeded per bucket — deterministic under any partitioning. */
    def predictMc(bucketed: DataFrame, valueCol: String,
        mcCount: Int = 100,
        anomalyType: String = "low_high"): DataFrame = {
      val p = params
      Keyed.scoreWindows(bucketed, state(bucketed.sparkSession), valueCol,
          Nil, p.span, anomalyType) { st =>
        val net = decode(p, st)
        val span = p.span; val I = p.intermediate; val L = p.latent
        (endBucket, win) => {
          // impute like the deterministic path, keeping the window
          val (x, xh) = imputeWindow(net, p, st.mu, st.sd, endBucket, win)
          x(span - 1) = xh(span - 1)
          val pred = st.mu + st.sd * xh(span - 1)
          // MC integration over sampled z (donut.py:1283-1292)
          val rng = new scala.util.Random(p.seed ^ endBucket)
          val h1 = new Array[Double](I); val h2 = new Array[Double](I)
          val zm = new Array[Double](L); val zl = new Array[Double](L)
          net.encode(x, h1, h2, zm, zl)
          val g1 = new Array[Double](I); val g2 = new Array[Double](I)
          val dec = new Array[Double](span)
          val z = new Array[Double](L)
          var sum = 0.0; var sumSq = 0.0
          var s = 0
          while (s < mcCount) {
            var kk = 0
            while (kk < L) {
              z(kk) = zm(kk) + math.exp(0.5 * zl(kk)) * rng.nextGaussian()
              kk += 1
            }
            net.decode(z, g1, g2, dec)
            sum += dec(span - 1); sumSq += dec(span - 1) * dec(span - 1)
            s += 1
          }
          val meanD = sum / mcCount
          val stdD = math.sqrt(math.max(0.0, sumSq / mcCount - meanD * meanD))
          (pred, st.sd * stdD)
        }
      }
    }

    /** Iterative roll seeded from the slot profile (the trait's
      * no-observation forecast contract; the reference always forecasts
      * from observed history, so the seed is the apply_defaults slot
      * mean — documented deviation shared with the autoencoder). */
    protected def expected(spark: SparkSession, from: Long,
        to: Long): DataFrame = {
      import spark.implicits._
      val p = params
      val span = p.span
      def slotOf(bucket: Long): Int =
        Slot.of(bucket, p.period, p.bucketInterval)
      val buf = scala.collection.mutable.ArrayBuffer.tabulate(span - 1)(
        j => slotMean(slotOf(from - (span - 1 - j) * p.bucketInterval)))
      val rows = Iterator.iterate(from)(_ + p.bucketInterval)
        .takeWhile(_ < to).map { b =>
          val x = (buf.takeRight(span - 1) :+ 0.0).toArray
          val m = Array.fill(span)(false); m(span - 1) = true
          val xh = DonutVae.mcmcImpute(net, x, m, p.mcmcIters)
          buf += xh(span - 1)
          (b, mu + sd * xh(span - 1), sigma)
        }.toSeq
      rows.toDF("bucket", "predicted", "sigma")
    }
  }
}
