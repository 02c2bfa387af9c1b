package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-tier corpus statistics — the approximate, MERGEABLE summaries
  * a 100 TB corpus is actually profiled with. Exact counterparts exist
  * elsewhere in the suite (exact distinct = groupBy, exact heavy
  * hitters = [[TextAnalysis.topNgrams]]); these trade bounded error for
  * one-pass, fixed-memory, partition-mergeable execution — the property
  * that matters when the corpus doesn't fit a shuffle. All are Spark
  * built-ins (HLL++ / CountMinSketch), wrapped so the pipeline surface
  * names the intent.
  *
  * No DuckDB oracle (different engines' sketches legitimately disagree);
  * correctness is unit-tested as error bounds against exact answers.
  */
object CorpusStats {

  /** Approximate distinct count of a column (HyperLogLog++, mergeable
    * partials; `rsd` = target relative standard deviation). */
  def approxDistinct(df: DataFrame, c: Column, rsd: Double = 0.02): Long =
    df.agg(approx_count_distinct(c, rsd)).head().getLong(0)

  /** Per-stratum approximate distinct counts in ONE pass (the profile
    * table a mixture sampler reads): `(strataCol, approx_docs,
    * approx_vocab)`. `explode_outer` keeps docs with zero shingles
    * (< 3 tokens) so `approx_docs` counts every doc, not just docs
    * with at least one shingle. */
  def strataProfile(df: DataFrame, strataCol: String, idCol: String,
      textCol: String, rsd: Double = 0.05): DataFrame =
    df.select(col(strataCol), col(idCol),
        explode_outer(array_distinct(Dedup.wordShingles(col(textCol), 3)))
          .as("sh"))
      .groupBy(strataCol)
      .agg(approx_count_distinct(col(idCol), rsd).as("approx_docs"),
        approx_count_distinct(col("sh"), rsd).as("approx_vocab"))

  /** Approximate top-k frequent tokens over the whole corpus via the
    * native SpaceSaving aggregate ([[graft.functions.HeavyHittersAgg]]):
    * one narrow explode, one capacity-bounded mergeable aggregation —
    * the shuffle carries O(capacity) counters per task, never the
    * vocabulary (the exact tier, [[TextAnalysis.topNgrams]], shuffles
    * O(distinct)). Output: `(item, count, err)` rows, count desc; the
    * true count lies in `[count − err, count]`, and anything with
    * frequency > tokens/capacity is guaranteed present. */
  def approxTopTokens(df: DataFrame, textCol: String, k: Int,
      capacity: Int = 4096): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(graft.functions.FreqSketch.heavyHitters(col("tok"), k, capacity)
        .as("hh"))
      .selectExpr("inline(hh)")

  /** Per-key distinct-count sketches as a PERSISTED binary column
    * (Apache DataSketches HLL via Spark's built-in `hll_sketch_agg`) —
    * the incremental tier above [[approxDistinct]]: write one sketch row
    * per (key, day-batch), and profiling N days of a 100 TB corpus
    * becomes a merge of N·|keys| kilobyte-sized sketches instead of a
    * rescan of the history. Merge semantics: in the small-cardinality
    * coupon regime the union is lossless, so estimate(merge(A, B)) ≡
    * estimate(sketch(A ∪ B)) exactly; at HLL-array scale a direct
    * sketch reads through the HIP estimator while a unioned sketch
    * falls back to the composite estimator, so the two paths can
    * legitimately differ — both stay within the lgK rsd bound
    * (≈1.04/√2^lgK), which is what the spec pins. */
  def distinctSketch(df: DataFrame, keys: Seq[String], c: Column,
      lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(c, lit(lgK)).as("sketch"))

  /** Merge two per-key sketch frames (FULL OUTER on keys — a key seen in
    * only one batch keeps its sketch; `hll_union` merges where both
    * exist). Keyed equi-join: broadcastable when one side is a daily
    * delta, shuffle-keyed otherwise — never data-sized. */
  def mergeSketches(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame = {
    val l = keys.foldLeft(a)((d, k) => d.withColumnRenamed(k, s"__l_$k"))
      .withColumnRenamed("sketch", "__l_sketch")
    val cond = keys.map(k => col(s"__l_$k") <=> col(k)).reduce(_ && _)
    l.join(b, cond, "full_outer")
      .select(keys.map(k =>
          coalesce(col(s"__l_$k"), col(k)).as(k)) :+
        (when(col("__l_sketch").isNull, col("sketch"))
          .when(col("sketch").isNull, col("__l_sketch"))
          .otherwise(hll_union(col("__l_sketch"), col("sketch"))))
          .as("sketch"): _*)
  }

  /** Read a sketch column back to an estimated distinct count. */
  def estimateDistinct(sketch: Column): Column =
    hll_sketch_estimate(sketch)

  /** Per-key QUANTILE sketches as a persisted binary column (Apache
    * DataSketches KLL over doubles) — the [[distinctSketch]] pattern for
    * p50/p95/p99: write one sketch per (key, day-batch); reading a
    * quantile over N days is a merge of kilobyte sketches with a
    * one-sided rank error bound (~1.7% at the default k), never a
    * rescan. */
  def quantileSketch(df: DataFrame, keys: Seq[String],
      c: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(call_function("kll_sketch_agg_double", c).as("qsketch"))

  /** Merge a frame of quantile sketches down to one sketch per key
    * (e.g. day-batch rows → one all-time sketch). */
  def mergeQuantileSketches(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(call_function("kll_merge_agg_double", col("qsketch"))
        .as("qsketch"))

  /** Read a quantile out of a sketch column. */
  def sketchQuantile(sketch: Column, q: Double): Column =
    call_function("kll_sketch_get_quantile_double", sketch, lit(q))

  /** Per-key Theta sketches — distinct sketches that support SET
    * ALGEBRA in sketch space: audience overlap/difference between
    * arbitrary batches WITHOUT re-shuffling the raw ids. HLL can only
    * union; Theta intersects and subtracts, which is what overlap
    * analyses actually need at 100 TB. */
  def thetaSketch(df: DataFrame, keys: Seq[String], c: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(call_function("theta_sketch_agg", c).as("tsketch"))

  /** Estimated |A ∩ B| and |A ∖ B| from two theta sketch COLUMNS —
    * EXACT while the sketches stay under their entry budget (default
    * 2^12), within the documented relative error beyond it. */
  def thetaIntersectEstimate(a: Column, b: Column): Column =
    call_function("theta_sketch_estimate",
      call_function("theta_intersection", a, b))
  def thetaDifferenceEstimate(a: Column, b: Column): Column =
    call_function("theta_sketch_estimate",
      call_function("theta_difference", a, b))

  /** Snapshot diff between two corpus versions: per id, `added` /
    * `removed` / `changed` / `unchanged` by content hash — the ingest
    * delta report every versioned-corpus pipeline prints before
    * reprocessing (and the input to incremental recompute: only
    * `added`+`changed` need re-curation; `removed` ids invalidate
    * downstream artifacts).
    *
    * Scale shape: each side reduces to `(id, md5)` on its scan (narrow
    * — 2 small columns through the join, never the payloads), then ONE
    * id-keyed full-outer equi-join; AQE broadcasts a small delta side.
    * Output: `(idCol, status)`. */
  /** Per-shard publishing manifest: doc count, exact char total, and an
    * ORDER-INDEPENDENT content checksum per shard — the verification
    * artifact shipped next to a released dataset (the WebDataset/HF
    * manifest idea) so a consumer can check "same shards, same bytes"
    * without re-reading row order.
    *
    * Shard assignment = [[graft.operators.Sampling.shuffleShards]]'s
    * md5 scheme (append-stable, partitioning-independent). Checksum =
    * Σ hash60(id || ':' || md5(text)) summed in DECIMAL(38,0) — exact
    * in both engines regardless of summation order (a long sum would
    * wrap in Spark but widen to HUGEINT in DuckDB) — then mod 10¹⁸ back
    * into a bigint. Any changed/missing/extra row flips the sum with
    * probability 1 − 2⁻⁶⁰ per difference.
    *
    * One shard-keyed agg with map-side partials; the exchange carries
    * `shards` rows. */
  def manifest(df: DataFrame, idCol: String, textCol: String,
      shards: Int, salt: String = ""): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
      lit(shards.toLong))
    val rowHash = graft.operators.Dedup.hash60(
      concat(col(idCol).cast("string"), lit(":"), md5(col(textCol))))
    df.select(shard.as("shard"), length(col(textCol)).cast("long").as("__c"),
        rowHash.cast(org.apache.spark.sql.types.DecimalType(38, 0))
          .as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_chars"),
        pmod(sum(col("__h")), lit(1000000000000000000L)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("checksum"))
  }

  def corpusDiff(before: DataFrame, after: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def keyed(df: DataFrame, h: String) =
      df.select(col(idCol), md5(col(textCol)).as(h))
    keyed(before, "__hb").join(keyed(after, "__ha"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__hb").isNull, lit("added"))
          .when(col("__ha").isNull, lit("removed"))
          .when(col("__ha") === col("__hb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
