package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling — the public DSIR recipe
  * (Xie et al., NeurIPS 2023): pick raw-corpus documents whose hashed
  * n-gram distribution resembles a small target domain, by importance
  * weight under two bag-of-hashed-bigrams models.
  *
  *  1. FEATURIZE: each document's word bigrams hash into `buckets`
  *     slots (the paper uses 10k) — a fixed-size, vocabulary-free
  *     feature space.
  *  2. FIT: bucket unigram distributions for the target slice p and
  *     the raw pool q, add-α smoothed. Model size = `buckets` rows.
  *  3. WEIGH: log w(x) = Σ_b c_b(x) · (log₂ p_b − log₂ q_b), one
  *     number per raw document.
  *  4. RESAMPLE: Gumbel-top-n over log w — the standard Gumbel-max
  *     trick samples n docs ∝ w without replacement; the Gumbel noise
  *     derives from the same md5 id-uniform as every sampler here, so
  *     the draw is deterministic and partition-stable.
  *
  * Scale shape: two bucket-keyed aggregations whose exchanges carry at
  * most `buckets` partial rows per partition (map-side combine), a
  * broadcast of the `buckets`-row ratio table back onto a narrow
  * per-doc scoring pass, one doc-keyed aggregation, and a top-n. The
  * corpus is never collected, joined to itself, or shuffled wider than
  * its own row count. The per-doc log-weight sums accumulate as
  * decimal(30,12), so the score is a pure function of the data (no
  * float reorder drift) and the whole pipeline is DuckDB-oracle-
  * matchable.
  */
object Dsir {

  /** Hash bucket of one `(w1, w2)` bigram struct: first 32 md5 bits of
    * "w1 w2" mod `buckets` — engine-independent (same md5 family as
    * [[Sampling.hashUniform]]). */
  private def bucketOf(p: Column, buckets: Int): Column =
    pmod(conv(substring(md5(concat(p.getField("w1"), lit(" "),
      p.getField("w2"))), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))

  /** Per-row array of hashed-bigram bucket ids (narrow, zero-shuffle). */
  def bucketsCol(textCol: String, buckets: Int): Column =
    transform(TextAnalysis.bigramsCol(textCol), p => bucketOf(p, buckets))

  /** Select `n` documents from the non-target pool by Gumbel-top-n over
    * the DSIR importance weight. Output: `(idCol, n_bigrams,
    * log_ratio, sel_key)` sorted by descending selection key —
    * `sel_key = log₂w + gumbel(md5-uniform(id, salt))`. Documents with
    * fewer than two tokens have no bigram features and are never
    * selected (they carry no evidence either way — the paper's setup
    * drops them too). */
  def select(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, n: Int, buckets: Int = 10000,
      alpha: Double = 1.0, salt: String = ""): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(buckets >= 2, "buckets must be >= 2")
    val raw = df.filter(!targetPred)
    // fused fit: ONE corpus scan counts both distributions (flagged by
    // the predicate), collected model-sized (≤ 2·buckets rows) and
    // rebuilt as a literal frame — the log2 arithmetic stays in Spark
    // expressions so the ratio doubles are the documented ones
    val cnts = df
      .select(coalesce(targetPred, lit(false)).as("__t"),
        explode(bucketsCol(textCol, buckets)).as("bucket"))
      .groupBy("__t", "bucket").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getBoolean(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tTot = cnts.collect { case ((true, _), c) => c }.sum
    val rTot = cnts.collect { case ((false, _), c) => c }.sum
    val dense = (0 until buckets).map { b =>
      (b.toLong, cnts.getOrElse((true, b.toLong), 0L),
        cnts.getOrElse((false, b.toLong), 0L))
    }
    val lr = df.sparkSession.createDataFrame(dense)
      .toDF("bucket", "tc", "rc")
      .select(col("bucket"),
        (log2((col("tc") + lit(alpha)) / lit(tTot + alpha * buckets)) -
          log2((col("rc") + lit(alpha)) / lit(rTot + alpha * buckets)))
          .as("lr"))
    val scored = raw
      .select(col(idCol), explode(bucketsCol(textCol, buckets)).as("bucket"))
      .join(broadcast(lr), "bucket")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lr").cast("decimal(30,12)")).cast("double").as("log_ratio"))
    // Gumbel-max trick: argtop-n of log w + G_i, G_i = −ln(−ln(u_i)),
    // samples n docs ∝ w without replacement; u is the id-keyed
    // md5-uniform, nudged off 0 so ln is finite
    val u = Sampling.hashUniform(col(idCol), salt) + lit(1e-12)
    scored
      .withColumn("sel_key", col("log_ratio") - log(-log(u)))
      .orderBy(col("sel_key").desc, col(idCol).asc)
      .limit(n)
  }
}
