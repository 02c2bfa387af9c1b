package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Json

/** Low-rank tied-weights autoencoder — the fast linear-subspace
  * restatement of the reference's Donut VAE
  * (/root/reference/loudml/donut.py:102-163, 700-798); the faithful
  * generative model (reparameterized encoder/decoder, modified ELBO,
  * MC bands) is [[DonutVae]] — this one stays as the cheaper
  * same-floors alternative: each span-window of the standardized
  * series is projected
  * onto a learned low-dimensional subspace and reconstructed, x̂ = WᵀWx
  * (W: hidden×span, decoder tied to the encoder like Donut's symmetric
  * architecture); anomalies score by how far the observed window sits
  * from its reconstruction. Missing/abnormal window entries are imputed
  * by iterated reconstruction (x[imputed] ← x̂[imputed], `mcmcIters`
  * rounds) — the deterministic analog of Donut's MCMC imputation
  * (donut.py:1264-1296, g_mcmc_count=10), and prediction treats the
  * window's LAST entry as missing exactly like the reference imputes the
  * last column before scoring (donut.py:1257-1296).
  *
  * Training follows the reference's budget semantics: `epochs` passes of
  * seeded-shuffled `batch`-sized minibatches (config defaults epochs=100
  * batch=64, /root/reference/loudml/config.py:60-70), Adam updates on
  * the masked reconstruction loss Σ_observed (x̂−x)² — the
  * missing-weighted objective mirroring Donut's modified ELBO that
  * zero-weights missing entries. Deterministic by `seed`.
  *
  * Why this closes the gap the ridge reconstructor leaves: the ridge
  * basis predicts bucket t LINEARLY from a fixed set of lags and the
  * slot mean — it cannot represent per-window structure like amplitude
  * modulation (today's whole day runs at 1.7× yesterday's scale), where
  * the window itself reveals the day's regime. A window subspace
  * captures exactly that (an amplitude-modulated sinusoid's windows span
  * a 2-D subspace regardless of the amplitude), and reconstruction from
  * the other span−1 entries denoises by averaging where a lag regression
  * amplifies lag noise (spec: beats [[WindowReconstructor]] MSE on the
  * seeded amplitude-modulated synthetic at equal data).
  *
  * Scale shape: training collects the BUCKETIZED series (O(buckets) —
  * model-sized, the same driver budget as every profile/HW fit here; the
  * distributed reduction already happened in the bucketing aggregation)
  * and fits on the driver — epochs·batches of hidden·span flops, no
  * Spark job per epoch. Scoring is keyed ([[predict]], through
  * [[Keyed.scoreWindows]]): each series cogroups with its state row and
  * reconstructs its windows with the weights decoded once; a solo model
  * is the one-row state with the empty key. For many-series scale the
  * keyed [[train]] fits every key's series inside one Spark job.
  */
object AutoencoderReconstructor extends ModelType {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  val name = "autoencoder"

  final case class Params(
      bucketInterval: Long,
      period: Long = 86400L,
      span: Int = 24,
      hidden: Int = 8,
      epochs: Int = 100,
      batch: Int = 64,
      lr: Double = 0.01,
      seed: Long = 42L,
      mcmcIters: Int = 10,
      sigmaFloor: Double = 1e-9) {
    def periodBuckets: Int = (period / bucketInterval).toInt
    def json: String =
      s"""{"type":"$name","bucket_interval":$bucketInterval,""" +
        s""""period":$period,"span":$span,"hidden":$hidden,""" +
        s""""epochs":$epochs,"batch":$batch,"lr":$lr,"seed":$seed,""" +
        s""""mcmc_iters":$mcmcIters,"sigma_floor":$sigmaFloor}"""
  }

  def parseParams(json: String): Params = {
    val j = JsonMethods.parse(json)
    Params(
      bucketInterval = Json.num(j \ "bucket_interval").getOrElse(
        throw new IllegalArgumentException(
          "autoencoder settings need bucket_interval")).toLong,
      period = Json.num(j \ "period").getOrElse(86400.0).toLong,
      span = Json.num(j \ "span").getOrElse(24.0).toInt,
      hidden = Json.num(j \ "hidden").getOrElse(8.0).toInt,
      epochs = Json.num(j \ "epochs").getOrElse(100.0).toInt,
      batch = Json.num(j \ "batch").getOrElse(64.0).toInt,
      lr = Json.num(j \ "lr").getOrElse(0.01),
      seed = Json.num(j \ "seed").getOrElse(42.0).toLong,
      mcmcIters = Json.num(j \ "mcmc_iters").getOrElse(10.0).toInt,
      sigmaFloor = Json.num(j \ "sigma_floor").getOrElse(1e-9))
  }

  /** x̂ = WᵀWx — allocation-light tied forward pass. */
  private[ml] def reconstruct(w: Array[Array[Double]], x: Array[Double],
      hidden: Int, span: Int): Array[Double] = {
    val h = new Array[Double](hidden)
    var i = 0
    while (i < hidden) {
      var s = 0.0; val wi = w(i); var j = 0
      while (j < span) { s += wi(j) * x(j); j += 1 }
      h(i) = s; i += 1
    }
    val out = new Array[Double](span)
    var j = 0
    while (j < span) {
      var s = 0.0; var i2 = 0
      while (i2 < hidden) { s += w(i2)(j) * h(i2); i2 += 1 }
      out(j) = s; j += 1
    }
    out
  }

  /** Impute-and-reconstruct: entries flagged in `imputed` start at their
    * slot mean and are refined by `iters` rounds of x[imp] ← x̂[imp]
    * (the MCMC-imputation analog); returns the final reconstruction. */
  private[ml] def mcmcReconstruct(w: Array[Array[Double]],
      x: Array[Double], imputed: Array[Boolean], iters: Int,
      hidden: Int, span: Int): Array[Double] = {
    var out = reconstruct(w, x, hidden, span)
    var it = 1
    while (it < iters) {
      var j = 0
      while (j < span) { if (imputed(j)) x(j) = out(j); j += 1 }
      out = reconstruct(w, x, hidden, span)
      it += 1
    }
    out
  }

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
    new Trained(profile, p, f.w, f.sigma, f.mu, f.sd, f.slotMean, f.slotSig)
  }

  /** Train one state per key from a bucketized frame `(keys…, bucket,
    * valueCol)` (gaps as missing rows or null values — both impute
    * exactly like the solo fit, which this reuses verbatim per key).
    * Returns `(keys…, weights, sigma, mu, sd, slot_mean, slot_sigma)` —
    * one row per series. A degenerate key (empty, all-null, or fewer
    * buckets than the span) is skipped and counted in the named
    * accumulator `graft.fleetAe.skippedKeys` ([[Keyed.fit]]). */
  def train(bucketed: DataFrame, valueCol: String, keys: Seq[String],
      p: Params): DataFrame =
    Keyed.fit(bucketed, valueCol, keys, Some(Keyed.Skip(
        "graft.fleetAe.skippedKeys",
        s => s.isEmpty || s.size < p.span || s.forall(_._2.isEmpty)))) {
      (k, series) =>
        val f = fitSeries(series, p)
        Keyed.WindowState(k, f.w.flatten.toIndexedSeq, f.sigma, f.mu, f.sd,
          f.slotMean.toIndexedSeq, f.slotSig.toIndexedSeq)
    }

  /** Score a bucketized frame against per-key states (as [[train]]
    * returns them; `keys = Nil` scores one series against a one-row
    * state): each key replays [[predictWindow]] over its sorted series,
    * bands ±3σ, Φ-score. Output: every input column plus `predicted`,
    * `lower`, `upper`, `score`; keys without a state emit nothing. */
  def predict(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], p: Params,
      anomalyType: String = "low_high"): DataFrame =
    Keyed.scoreWindows(bucketed, states, valueCol, keys, p.span,
        anomalyType) { st =>
      // same contract as the solo load(): a state trained under a
      // different hidden/span must fail loudly, not misindex
      require(st.weights.length == p.hidden * p.span,
        s"weight shape mismatch for key ${st.k.mkString("[", ",", "]")}: " +
          s"state has ${st.weights.length} weights, params expect " +
          s"${p.hidden}×${p.span}")
      val w = Array.tabulate(p.hidden, p.span)((i, j) =>
        st.weights(i * p.span + j))
      val (sm, ss) = (st.slot_mean.toArray, st.slot_sigma.toArray)
      (b, win) => (predictWindow(w, p, st.mu, st.sd, sm, ss, b, win), st.sigma)
    }

  /** Pure fit result — everything a scorer needs, no Spark types, so
    * the same fit runs on the driver (solo) or inside a keyed task. */
  private[ml] final case class Fit(
      w: Array[Array[Double]], sigma: Double, mu: Double, sd: Double,
      slotMean: Array[Double], slotSig: Array[Double])

  /** The whole training computation as a pure function of the sorted
    * bucketized series — shared verbatim by solo and fleet training. */
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

    // per-slot standardized (mean, σ): imputation source + the abnormal-
    // context band (Donut's abnormal mask zero-weights flagged entries;
    // here an entry > 3σ_slot off its slot mean is treated as missing)
    val bySlot = series.collect { case (b, Some(v)) => (slotOf(b), (v - mu) / sd) }
      .groupBy(_._1).map { case (s, xs) =>
        val vs = xs.map(_._2)
        val m = vs.sum / vs.size
        val sg = math.sqrt(vs.map(v => (v - m) * (v - m)).sum / vs.size)
        s -> (m, if (sg == 0.0) 1e-6 else sg)
      }
    val slotMean = Array.tabulate(P)(s => bySlot.get(s).map(_._1).getOrElse(0.0))
    val slotSig = Array.tabulate(P)(s => bySlot.get(s).map(_._2).getOrElse(1.0))

    // standardized series + imputed flags (missing or out-of-band)
    val n = series.size
    val xs = new Array[Double](n)
    val imp = new Array[Boolean](n)
    var idx = 0
    series.foreach { case (b, vOpt) =>
      val s = slotOf(b)
      vOpt match {
        case Some(v) =>
          val z = (v - mu) / sd
          if (math.abs(z - slotMean(s)) > 3.0 * slotSig(s)) {
            xs(idx) = slotMean(s); imp(idx) = true
          } else xs(idx) = z
        case None => xs(idx) = slotMean(s); imp(idx) = true
      }
      idx += 1
    }

    // Adam on the masked tied-AE loss over all stride-1 windows
    val span = p.span
    require(n >= span, s"need at least span=$span buckets, got $n")
    val starts = (0 to n - span).toArray
    val rnd = new scala.util.Random(p.seed)
    val w = Array.fill(p.hidden, span)(rnd.nextGaussian() * (1.0 / math.sqrt(span)))
    val mAdam = Array.ofDim[Double](p.hidden, span)
    val vAdam = Array.ofDim[Double](p.hidden, span)
    val (b1, b2, eps) = (0.9, 0.999, 1e-8)
    var step = 0
    for (_ <- 0 until p.epochs) {
      val order = rnd.shuffle(starts.toSeq)
      order.grouped(p.batch).foreach { chunk =>
        val g = Array.ofDim[Double](p.hidden, span)
        chunk.foreach { s0 =>
          val x = java.util.Arrays.copyOfRange(xs, s0, s0 + span)
          val out = reconstruct(w, x, p.hidden, span)
          // r = mask ⊙ (x̂ − x): imputed entries carry zero loss weight
          val r = new Array[Double](span)
          var j = 0
          while (j < span) {
            r(j) = if (imp(s0 + j)) 0.0 else out(j) - x(j); j += 1
          }
          // ∇_W ||mask⊙(WᵀWx − x)||² = 2 (W r xᵀ + W x rᵀ)
          val wr = new Array[Double](p.hidden)
          val wx = new Array[Double](p.hidden)
          var i = 0
          while (i < p.hidden) {
            var sr = 0.0; var sx = 0.0; val wi = w(i); var j2 = 0
            while (j2 < span) { sr += wi(j2) * r(j2); sx += wi(j2) * x(j2); j2 += 1 }
            wr(i) = sr; wx(i) = sx; i += 1
          }
          i = 0
          while (i < p.hidden) {
            val gi = g(i); var j2 = 0
            while (j2 < span) {
              gi(j2) += 2.0 * (wr(i) * x(j2) + wx(i) * r(j2)); j2 += 1
            }
            i += 1
          }
        }
        step += 1
        val scale = 1.0 / chunk.size
        var i = 0
        while (i < p.hidden) {
          var j = 0
          while (j < span) {
            val gij = g(i)(j) * scale
            mAdam(i)(j) = b1 * mAdam(i)(j) + (1 - b1) * gij
            vAdam(i)(j) = b2 * vAdam(i)(j) + (1 - b2) * gij * gij
            val mh = mAdam(i)(j) / (1 - math.pow(b1, step))
            val vh = vAdam(i)(j) / (1 - math.pow(b2, step))
            w(i)(j) -= p.lr * mh / (math.sqrt(vh) + eps)
            j += 1
          }
          i += 1
        }
      }
    }

    // residual σ: one-step semantics (last entry masked + MCMC-imputed,
    // exactly the predict path) over training windows, observed targets
    var sse = 0.0; var cnt = 0
    starts.foreach { s0 =>
      val last = s0 + span - 1
      if (!imp(last)) {
        val x = java.util.Arrays.copyOfRange(xs, s0, s0 + span)
        val im = java.util.Arrays.copyOfRange(imp, s0, s0 + span)
        im(span - 1) = true
        x(span - 1) = slotMean(slotOf(series(last)._1))
        val out = mcmcReconstruct(w, x, im, p.mcmcIters, p.hidden, span)
        val e = out(span - 1) - xs(last)
        sse += e * e; cnt += 1
      }
    }
    val sigma = math.max(
      if (cnt == 0) 0.0 else sd * math.sqrt(sse / cnt), p.sigmaFloor)

    Fit(w, sigma, mu, sd, slotMean, slotSig)
  }

  /** One-step prediction for the window ending at `endBucket`:
    * right-align the observed context, left-pad gaps with slot means,
    * mask abnormal entries (> 3σ_slot), impute the target entry, and
    * MCMC-reconstruct — the scoring kernel [[predict]] replays per
    * window. Returns the de-standardized prediction. */
  private[ml] def predictWindow(w: Array[Array[Double]], p: Params,
      mu: Double, sd: Double, slotMean: Array[Double],
      slotSig: Array[Double], endBucket: Long,
      win: Iterable[(Long, Option[Double])]): Double = {
    val span = p.span
    val interval = p.bucketInterval
    def slotOf(bucket: Long): Int =
      Slot.of(bucket, p.period, interval)
    val x = new Array[Double](span)
    val imp = new Array[Boolean](span)
    var j = 0
    while (j < span) {
      val b = endBucket - (span - 1 - j) * interval
      x(j) = slotMean(slotOf(b)); imp(j) = true; j += 1
    }
    win.foreach { case (b, vOpt) =>
      val off = ((b - endBucket) / interval).toInt + span - 1
      if (off >= 0 && off < span && vOpt.isDefined) {
        val z = (vOpt.get - mu) / sd
        val s = slotOf(b)
        if (math.abs(z - slotMean(s)) > 3.0 * slotSig(s)) {
          // abnormal context → treated as missing (Donut's mask)
          x(off) = slotMean(s); imp(off) = true
        } else { x(off) = z; imp(off) = false }
      }
    }
    // the target (last) entry is always imputed before scoring
    x(span - 1) = slotMean(slotOf(endBucket)); imp(span - 1) = true
    val out = mcmcReconstruct(w, x, imp, p.mcmcIters, p.hidden, span)
    mu + sd * out(span - 1)
  }

  def load(spark: SparkSession, profile: DataFrame,
      settingsJson: String): TrainedModel = {
    val p = parseParams(settingsJson)
    val j = JsonMethods.parse(settingsJson)
    val flat = (j \ "weights") match {
      case JArray(xs) => xs.flatMap(Json.num).toArray
      case _ => throw new IllegalArgumentException("stored model has no weights")
    }
    require(flat.length == p.hidden * p.span, "weight shape mismatch")
    val w = Array.tabulate(p.hidden, p.span)((i, jj) => flat(i * p.span + jj))
    val sigma = Json.num(j \ "sigma").getOrElse(
      throw new IllegalArgumentException("stored model has no sigma"))
    val mu = Json.num(j \ "mu").getOrElse(0.0)
    val sd = Json.num(j \ "sd").getOrElse(1.0)
    val prof = profile.orderBy("slot").collect()
    val slotMean = prof.map(_.getDouble(1))
    val slotSig = prof.map(_.getDouble(2))
    new Trained(profile, p, w, sigma, mu, sd, slotMean, slotSig)
  }

  final class Trained(
      val profile: DataFrame,
      val params: Params,
      val weights: Array[Array[Double]],
      val sigma: Double,
      val mu: Double,
      val sd: Double,
      slotMean: Array[Double],
      slotSig: Array[Double]) extends TrainedModel {

    def modelType: String = name
    def bucketInterval: Long = params.bucketInterval

    def settingsJson: String = {
      val base = params.json.stripSuffix("}")
      val flat = weights.flatten.mkString(",")
      s"""$base,"weights":[$flat],"sigma":$sigma,"mu":$mu,"sd":$sd}"""
    }

    /** The one-row state with the empty key: a solo model scores
      * through the keyed [[AutoencoderReconstructor.predict]]. */
    def predict(bucketed: DataFrame, valueCol: String,
        anomalyType: String = "low_high"): DataFrame =
      AutoencoderReconstructor.predict(bucketed,
        Keyed.soloState(bucketed.sparkSession, Keyed.WindowState(Nil,
          weights.flatten.toIndexedSeq, sigma, mu, sd,
          slotMean.toIndexedSeq, slotSig.toIndexedSeq)),
        valueCol, Nil, params, anomalyType)

    /** Iterative roll (donut.py:1333-1475): the window slides forward
      * appending each prediction — driver loop over O(horizon) steps. */
    protected def expected(spark: SparkSession, from: Long,
        to: Long): DataFrame = {
      import spark.implicits._
      val p = params
      val span = p.span
      def slotOf(bucket: Long): Int =
        Slot.of(bucket, p.period, p.bucketInterval)
      // seed context with slot means (no observations available)
      val buf = scala.collection.mutable.ArrayBuffer.tabulate(span - 1)(
        j => slotMean(slotOf(from - (span - 1 - j) * p.bucketInterval)))
      val rows = Iterator.iterate(from)(_ + p.bucketInterval)
        .takeWhile(_ < to).map { b =>
          val x = (buf.takeRight(span - 1) :+ slotMean(slotOf(b))).toArray
          val imp = Array.fill(span)(false); imp(span - 1) = true
          val out = AutoencoderReconstructor.mcmcReconstruct(
            weights, x, imp, p.mcmcIters, p.hidden, span)
          buf += out(span - 1)
          (b, mu + sd * out(span - 1), sigma)
        }.toSeq
      rows.toDF("bucket", "predicted", "sigma")
    }
  }
}
