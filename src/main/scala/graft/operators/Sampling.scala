package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling and splitting for training
  * corpora.
  *
  * `df.sample()` is seed-stable only for a fixed partitioning — the same
  * corpus re-read with different file splits samples a DIFFERENT subset,
  * which silently breaks resumable pipelines and ablation comparisons at
  * 100 TB (where partitioning is never stable across runs). Hashing the
  * document id instead makes membership a pure function of the row:
  * stable across partitionings, engines (md5, oracle-checkable in
  * DuckDB), and incremental corpus growth (a doc's split never changes
  * when other docs arrive — the property that keeps train/val leakage-free
  * under appends). Salting gives independent resamples without touching
  * the data.
  *
  * All predicates are narrow codegen'd projections — no shuffle, no
  * sampling pass; filters ride the scan.
  */
object Sampling {

  /** Hard cap on per-stratum aggregates collected to the driver. The
    * samplers below collect ONE row per stratum/class by design — a
    * metadata-sized result for any legitimate strata column (language,
    * source, license: thousands of values, not millions). A caller
    * passing a row-unique key (doc_id) would silently turn that into a
    * corpus-sized driver collect; fail loudly at the cap instead. */
  private val MaxStrata = 100000

  private def collectStrata(aggregated: DataFrame,
      what: String): Array[org.apache.spark.sql.Row] = {
    val rows = aggregated.limit(MaxStrata + 1).collect()
    require(rows.length <= MaxStrata,
      s"$what: more than $MaxStrata distinct strata/classes — this " +
        "sampler collects one aggregate row per stratum to the driver " +
        "and requires a low-cardinality (metadata-sized) strata/class " +
        "column, not a row-unique key like a document id")
    rows
  }

  /** Uniform-[0,1) value derived from the first 32 bits of
    * md5(salt || id) — the engine-independent analog of `rand(seed)`
    * keyed by row identity rather than partition position. */
  def hashUniform(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Keep ~`fraction` of rows, deterministically by id hash. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    df.filter(hashUniform(col(idCol), salt) < fraction)
  }

  /** Deterministic stratified sample: the `k` rows with the smallest id
    * hash within each stratum — per-group quota sampling (language- or
    * source-balanced corpus assembly), as partitioning/append-stable as
    * [[hashSample]].
    *
    * Scale shape: the naive plan (`row_number` over a per-stratum window)
    * ships EVERY row of a hot stratum to one task — a 90%-English corpus
    * would put 90 TB through one window partition. Instead, a two-pass
    * guard: per-stratum counts (map-side partials, one tiny aggregate)
    * are broadcast back and rows are pre-filtered to hash <
    * `margin·k/n_stratum`, so the expected survivor count per stratum is
    * `margin·k` regardless of stratum size; the window then runs on
    * O(strata·margin·k) rows. With margin 8 the probability that a true
    * top-k row is filtered away (i.e. fewer than k of the uniform hashes
    * land under 8× their expected quantile) is a < e^{-3k} Chernoff tail
    * — negligible for any real k, and strata with ≤ margin·k rows keep
    * everything (threshold ≥ 1), so small strata are EXACT by
    * construction. */
  def stratifiedTopK(df: DataFrame, strataCol: String, idCol: String,
      k: Int, salt: String = "", margin: Double = 8.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val counts = df.groupBy(strataCol)
      .agg(count(lit(1)).as("__n"))
    val keyed = df.join(broadcast(counts), strataCol)
      .withColumn("__u", hashUniform(col(idCol), salt))
      .filter(col("__u") < least(lit(1.0), lit(margin * k) / col("__n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("__u"), col(idCol))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__u", "__n", "__rn")
  }

  /** Balance classes by DOWNSAMPLING every class to the minority
    * class's count — the classifier-training-data equalizer (a quality
    * scorer fit on 95:5 data learns the prior, not the signal).
    * Selection is the [[stratifiedTopK]] hash-rank draw with
    * k = min class count, so membership is deterministic,
    * partition-stable and append-stable per `salt`. The min count is
    * one class-cardinality aggregate collected driver-side (index
    * scale); everything after is the stratified plan — broadcast
    * counts, narrow pre-filter, class-keyed window.
    *
    * Degenerate guard: requires ≥ 2 classes (balancing one class is a
    * no-op that silently truncates — refuse instead). */
  def balanceClasses(df: DataFrame, classCol: String, idCol: String,
      salt: String = ""): DataFrame = {
    val counts = collectStrata(
      df.groupBy(classCol).agg(count(lit(1)).as("__n")), "balanceClasses")
    require(counts.length >= 2,
      s"balanceClasses needs >= 2 classes (got ${counts.length})")
    val kMin = counts.map(_.getLong(1)).min
    require(kMin <= Int.MaxValue, "minority class exceeds Int.MaxValue")
    stratifiedTopK(df, classCol, idCol, kMin.toInt, salt)
  }

  /** Sample each stratum down to ≈ a TOKEN budget — the data-mixing
    * step of corpus assembly ("200B tokens of web, 30B of code"):
    * stratum s keeps rows with probability `min(1, budget_s / tokens_s)`,
    * so each stratum's expected surviving token mass equals its budget
    * (strata under budget are kept whole; strata without a budget are
    * dropped). Membership is [[hashUniform]]-deterministic, so resamples
    * are stable across partitionings and engines.
    *
    * Scale shape: one map-side-partial aggregate for per-stratum token
    * totals (stratum-cardinality rows to the driver), rates broadcast
    * back, then a narrow filter — no window, no per-stratum funnel. Like
    * any budget targeting, rates shift as the corpus grows; pin `salt`
    * and budgets to reproduce a mix. */
  def tokenBudgetSample(df: DataFrame, strataCol: String, idCol: String,
      sizeExpr: Column, budgets: Map[String, Long],
      salt: String = ""): DataFrame = {
    require(budgets.nonEmpty, "at least one stratum budget")
    val totals = collectStrata(
        df.groupBy(col(strataCol).cast("string").as("__s"))
          .agg(sum(sizeExpr.cast("long")).as("__tot")), "tokenBudgetSample")
      .map(r => r.getString(0) -> r.getLong(1))
    val rates = totals.map { case (s, tot) =>
      (s, math.min(1.0, budgets.getOrElse(s, 0L).toDouble / math.max(tot, 1L)))
    }.toSeq
    val ratesDf = df.sparkSession.createDataFrame(rates).toDF("__s", "__rate")
    df.withColumn("__s", col(strataCol).cast("string"))
      .join(broadcast(ratesDf), "__s")
      .filter(hashUniform(col(idCol), salt) < col("__rate"))
      .drop("__s", "__rate")
  }

  /** Deterministic weighted sample WITHOUT replacement of size `k`
    * (Efraimidis–Spirakis A-ES): each row gets the key `u^(1/w)` with
    * `u = hashUniform(id)` and `w = weight`, and the `k` largest keys win
    * — inclusion probability proportional to weight, exactly the
    * "prefer high-quality docs but keep diversity" mixture draw a
    * curriculum/quality-weighted corpus assembly needs. Determinism rides
    * the id hash like every sampler here: membership is a pure function
    * of (id, weight, salt), stable across partitionings and appends of
    * losing rows.
    *
    * Scale shape: `orderBy(...).limit(k)` plans as TakeOrdered — a
    * per-partition top-k (heap, O(rows·log k), no sort spill) plus a
    * driver merge of partitions·k rows; nothing global ever
    * materializes. Weights must be strictly positive.
    */
  def weightedTopK(df: DataFrame, idCol: String, weight: Column, k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // enforce the documented contract at runtime: w <= 0 would give
    // u^(1/w) = NaN (w=0) or > 1 (w<0) and silently win the top-k
    val checked = when(weight > 0, weight).otherwise(
      raise_error(concat(lit("weightedTopK: weight must be > 0, got "),
        weight.cast("string"))))
    val key = pow(hashUniform(col(idCol), salt), lit(1.0) / checked)
    df.withColumn("__wk", key)
      .orderBy(col("__wk").desc, col(idCol))
      .limit(k)
      .drop("__wk")
  }

  /** Curriculum binning: assign each row a difficulty bin by EXACT
    * score quantile (bin 0 = lowest `1/bins` of scores … bin `bins−1`
    * = highest), the easy→hard ordering key for curriculum training
    * schedules. Ties land in the LOWER bin (strict `>` against each
    * edge), so the assignment is a pure function of the score.
    *
    * Scale shape: the naive `ntile(bins)` windows over a GLOBAL sort —
    * the whole corpus through one task. Here the bin edges are one
    * exact-percentile aggregate (model-sized: `bins−1` doubles to the
    * driver) and assignment is a narrow codegen'd comparison fold with
    * the edges as plan literals — no window, no global sort, no
    * shuffle beyond the percentile agg's single-row exchange. */
  def curriculumBins(df: DataFrame, score: Column, bins: Int,
      edgeDecimals: Int = -1): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val qs = (1 until bins).map(_.toDouble / bins)
    val raw = df.agg(percentile(score, typedlit(qs)).as("e"))
      .head().getSeq[Double](0)
    // edgeDecimals >= 0 quantizes each edge (half-up, +1e-9 nudge) —
    // interpolated percentiles are formula-sensitive in the last ulp
    // (a(1−f)+bf here vs a+f(b−a) elsewhere), and an edge that lands ON
    // a heavy tie value would otherwise flip strict-> across engines;
    // pass the SAME quantization the score column carries
    val edges =
      if (edgeDecimals < 0) raw
      else raw.map(e => BigDecimal(e + 1e-9)
        .setScale(edgeDecimals, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bin = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(score > lit(e), 1).otherwise(0)
    }
    df.withColumn("bin", bin)
  }

  /** Leakage-safe train/validation split: the split draw is keyed by
    * the NEAR-DUP CLUSTER id, not the document id, so a family of
    * near-duplicates can never straddle the boundary — the standard
    * fix for eval contamination where doc-keyed splits put one copy of
    * a template in train and its sibling in validation (the model then
    * "generalizes" to text it has effectively seen). `clusters` is a
    * `(idCol, clusterCol)` frame, e.g. [[Dedup.nearDupClusters]]'s
    * output; rows missing from it keep their own id as a singleton
    * cluster key.
    *
    * Scale shape: one id-keyed equi join (AQE picks broadcast vs
    * shuffle by the cluster frame's size) plus a narrow hash
    * projection. Same md5-uniform as every sampler here: the split is
    * a pure function of (cluster, salt) — append-stable, so late-
    * arriving members of an existing cluster land on the SAME side. */
  def leakSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
      clusterCol: String, valFraction: Double,
      salt: String = ""): DataFrame = {
    require(valFraction >= 0.0 && valFraction <= 1.0,
      "valFraction must be in [0,1]")
    val key = coalesce(col(clusterCol), col(idCol)).cast("string")
    df.join(clusters, Seq(idCol), "left")
      .withColumn("split",
        when(hashUniform(key, salt) < valFraction, lit("val"))
          .otherwise(lit("train")))
  }

  /** Deterministic global shuffle into `shards` dataloader shards —
    * the corpus-assembly step after curation: training rows must be
    * read in an order uncorrelated with crawl/source order, shards
    * must be balanced, and a re-run (or a resumed run) must produce
    * the SAME order bit-for-bit. `df.orderBy(rand(seed))` fails all
    * three at 100 TB (partition-dependent, and a total sort). Here
    * each row's shard is the id md5-hash mod `shards` and its
    * `pos` is the hash-order rank WITHIN the shard — a pure function
    * of (id, salt), so appends never reorder existing shards'
    * relative layout and different salts give independent shuffles.
    *
    * Scale shape: one narrow hash projection, then ONE exchange keyed
    * by shard (uniform by construction — no skew) with a per-shard
    * sort for `row_number`; each shard is a window partition sized
    * corpus/shards, so `shards` is the knob that bounds per-task
    * state. No global total order is ever built. */
  def shuffleShards(df: DataFrame, idCol: String, shards: Int,
      salt: String = ""): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(shards.toLong))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      .orderBy(col("__k").asc, col(idCol).asc)
    df.withColumn("__k", key).withColumn("shard", shard)
      .withColumn("pos", row_number().over(w) - 1)
      .drop("__k")
  }

  /** Multi-epoch mixture assembly: per-stratum token budgets that may
    * EXCEED the stratum's corpus size. Where `tokenBudgetSample` clamps
    * the rate at 1 (subsample-only), here the repeat factor
    * r = budget / stratum_tokens is allowed to be > 1 and each row is
    * emitted `floor(r)` times plus once more iff its id-hash uniform
    * < frac(r) — the standard "2.7 epochs of source X" corpus mixture
    * (DoReMi / Llama-style sampling weights realized as explicit
    * repeats). The output carries a 1-based `epoch` ordinal so a
    * downstream shuffler can salt repeats apart.
    *
    * Determinism: membership of the fractional epoch is a pure function
    * of (id, salt) — the same md5-uniform as every sampler here — so the
    * mixture is stable across partitionings and appends of other rows.
    *
    * Scale shape: one stratum-keyed aggregate whose result is
    * strata-sized (collected, broadcast back as a literal frame), then a
    * narrow `explode(sequence(...))` — output-sized work, the corpus is
    * never shuffled. `sequence(1, 0)` steps DOWN in Spark (yields
    * [1, 0]), so rows whose repeat count is 0 are filtered BEFORE the
    * explode rather than relying on an empty sequence.
    */
  def epochMix(df: DataFrame, strataCol: String, idCol: String,
      sizeExpr: Column, budgets: Map[String, Long],
      salt: String = ""): DataFrame = {
    require(budgets.nonEmpty, "at least one stratum budget")
    val totals = collectStrata(
        df.groupBy(col(strataCol).cast("string").as("__s"))
          .agg(sum(sizeExpr.cast("long")).as("__tot")), "epochMix")
      .map(r => r.getString(0) -> r.getLong(1))
    val rates = totals.map { case (s, tot) =>
      (s, budgets.getOrElse(s, 0L).toDouble / math.max(tot, 1L))
    }.toSeq
    val ratesDf = df.sparkSession.createDataFrame(rates).toDF("__s", "__rate")
    val r = col("__rate")
    val reps = (floor(r) +
      when(hashUniform(col(idCol), salt) < r - floor(r), 1).otherwise(0))
      .cast("int")
    df.withColumn("__s", col(strataCol).cast("string"))
      .join(broadcast(ratesDf), "__s")
      .withColumn("__m", reps)
      .filter(col("__m") >= 1)
      .withColumn("epoch", explode(sequence(lit(1), col("__m"))))
      .drop("__s", "__rate", "__m")
  }

  /** Temperature-based mixture sampling — the multilingual-pretraining
    * rebalance (XLM-R, mT5: sample stratum d with probability
    * ∝ n_d^α, α < 1), which upweights low-resource strata without the
    * per-stratum budget bookkeeping of [[epochMix]]:
    *
    *   p_d = √n_d / Σ_d √n_d        (α = 0.5)
    *   rate_d = budget · p_d / n_d   (repeats > 1 ⇒ epoch upsampling)
    *
    * α is FIXED at 0.5: √ is a correctly-rounded IEEE-754 primitive in
    * every engine, while a general `pow(n, α)` is libm-implementation-
    * defined in its last ulp — the same engine-parity reasoning that
    * picks the Elliott sigmoid in [[graft.ml.TextClassifier]]. The
    * share normalizer Σ√n routes through decimal(30,12) per stratum
    * (order-free exact accumulation), so every rate — and therefore
    * the exact sampled multiset — is bit-reproducible across
    * partitionings and engines.
    *
    * Rows repeat ⌊rate⌋ times plus one more when the row's md5-uniform
    * (keyed by id — append-stable, partitioning-free) falls under the
    * fractional part; output gains an `epoch` column, 1-based, exactly
    * like [[epochMix]].
    *
    * Scale shape: one stratum-keyed exact-integer aggregate (result is
    * strata-sized, collected driver-side like [[epochMix]]'s budgets),
    * a broadcast of (stratum, rate) back onto the corpus, and a narrow
    * explode — the corpus never shuffles. */
  def temperatureMix(df: DataFrame, strataCol: String, idCol: String,
      sizeExpr: Column, budget: Long, salt: String = ""): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val totals = collectStrata(
        df.groupBy(col(strataCol).cast("string").as("__s"))
          .agg(sum(sizeExpr.cast("long")).as("__tot")), "temperatureMix")
      .map(r => r.getString(0) -> math.max(r.getLong(1), 1L))
    // Σ√n as exact decimal accumulation of 12-dp-quantized terms: the
    // one place a naive float sum would be iteration-order-dependent
    val z = totals
      .map { case (_, n) =>
        BigDecimal(math.sqrt(n.toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      .sum.toDouble
    val rates = totals.map { case (s, n) =>
      (s, budget.toDouble * (math.sqrt(n.toDouble) / z) / n.toDouble)
    }.toSeq
    val ratesDf = df.sparkSession.createDataFrame(rates).toDF("__s", "__rate")
    val r = col("__rate")
    val reps = (floor(r) +
      when(hashUniform(col(idCol), salt) < r - floor(r), 1).otherwise(0))
      .cast("int")
    df.withColumn("__s", col(strataCol).cast("string"))
      .join(broadcast(ratesDf), "__s")
      .withColumn("__m", reps)
      .filter(col("__m") >= 1)
      .withColumn("epoch", explode(sequence(lit(1), col("__m"))))
      .drop("__s", "__rate", "__m")
  }
}
