package graft

import graft.plans.PlanLint

/** Whole-suite plan audit (not a unit test — run with `Test/runMain
  * graft.LintSweepMain [sfDir]`): lints EVERY SparkEntry query's
  * physical plan with [[PlanLint]] and prints one line per query —
  * the machine half of the per-round "would this survive 100×?" plan
  * audit, as an artifact instead of prose.
  *
  * Findings are classified against the SANCTIONED sets below (the
  * same documented exemptions PlanShapeSpec asserts for its
  * representative queries — each is a bounded frame or a
  * no-stored-column predicate, the "is the frame small?" question
  * answered yes by construction). Exit code 1 if any UNSANCTIONED
  * hard finding fires, so the sweep can gate a round:
  *  - cartesian-product / nested-loop-join outside the bounded
  *    broadcast sanctions,
  *  - unpushed-scan-filter outside the computed-column sanctions,
  *  - single-partition-corpus-sort outside the recorded
  *    bounded-result contract list (threshold 1 byte here: at audit
  *    SF every file is tiny, so the rule is armed for STRUCTURE —
  *    any SinglePartition exchange whose pipeline reaches a scan
  *    without a bounding node fires, and the sanction list is the
  *    audited answer "bounded by k/quota/report size" per query;
  *    the corpus-scaling families have NO such exchange at all,
  *    asserted by PlanShapeSpec's sweep dogfood),
  *  - global-window outside the dictionary/model-sized sanctions.
  * `single-partition-exchange` and `range-sort-resample` are
  * reported as counts only: the former is exactly what orderedSmall
  * does to BOUNDED results (the sanctioned presentation shape), the
  * latter never fires behind the sweep's materialization boundaries.
  */
object LintSweepMain {

  // 1-row stats frames / dictionary-sized grids / bounded probe sets
  // broadcast-crossed in, plus range-overlap joins that are non-equi
  // BY NATURE over a broadcast window list (q_annotations), the
  // TimesQuery keyed spine (series × buckets, both bounded), the
  // fleet state-resume join (series-sized), and the brute-force pair
  // probes whose bounded-broadcast contract PlanShapeSpec documents
  private val nljOk = Set("q_bm25", "q_bm25_indexed", "q_bm25_index_incr",
    "q_pmi", "q_psi", "q_mutual_info", "q_ks_drift", "q_js_div",
    "q_psi_between", "q_skew_report", "q_rrf_fusion", "q_mmr_rerank",
    "q_embed_topk", "q_hard_negatives", "q_chi2", "q_drift_baseline",
    "q_calibration", "q_corpus_diff", "q_novelty", "q_contamination",
    "q_ann_quant", "q_annotations", "q_embed_neardup", "q_feature_scores",
    "q_fleet_scan", "q_minhash_pairs", "q_simhash_pairs", "q_stream_eval",
    "q_stream_resume", "q_times_keyed")
  // predicates over COMPUTED norms/cells/buckets — no stored column
  // to push, the scan-adjacent filter is the correct shape
  private val scanFilterOk = Set("q_embed_outliers", "q_diversity_sample",
    "q_mmr_rerank", "q_backtest", "q_fleet_hw", "q_star_join",
    "q_time_offset")
  // windows over vocabulary / frequency-of-frequency / model-sized
  // frames (documented in PlanShapeSpec), plus the reference's
  // SINGLE-SERIES post-aggregation transforms (derivative, diff,
  // ffill, integral, interpolation, rolling corr, sliding model
  // input): one bucketized series per model, bucket-count-sized
  private val windowOk = Set("q_score_auc", "q_zipf", "q_gini",
    "q_donut_score", "q_auc_by_source", "q_calibration",
    "q_derivative", "q_diff", "q_ffill", "q_integral", "q_interpolate",
    "q_rolling_corr", "q_sliding")
  // bounded results that funnel through orderedSmall's SinglePartition
  // presentation sort and reach a scan without a STRUCTURAL bounding
  // node, so the corpus-sort rule (armed at 1 byte here) fires on
  // shape: each is bounded SEMANTICALLY — top-k per query (ann probes,
  // embed_topk 100, hard_negatives 120, mmr_rerank 80,
  // topk_per_group 60), fixed quotas/budgets (stratified 25/stratum,
  // token_budget, mix_temperature), stage×shard / benchmark-sized
  // reports (pipeline_stages 24, contamination 20, embed_outliers
  // ≤3/cell). The orderedSmall contract list, recorded.
  private val spBoundedOk = Set("q_ann_indexed", "q_ann_index_incr",
    "q_ann_compact", "q_ann_ivf",
    "q_ann_quant", "q_contamination", "q_embed_outliers", "q_embed_topk",
    "q_hard_negatives", "q_mix_temperature", "q_mmr_rerank",
    "q_pipeline_stages", "q_stratified_sample", "q_token_budget",
    "q_topk_per_group")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Suite.session(8)
    var unsanctioned = 0
    val counts = scala.collection.mutable.Map.empty[String, Int]
    Suite.select(None).foreach { case Query(name, run, _) =>
      val line =
        try {
          val findings = PlanLint.lint(run(spark, sfDir), corpusBytes = 1L)
          findings.map(_.rule).foreach(r =>
            counts(r) = counts.getOrElse(r, 0) + 1)
          val hard = findings.map(_.rule).distinct.filter {
            case "cartesian-product" | "nested-loop-join" => !nljOk(name)
            case "unpushed-scan-filter" => !scanFilterOk(name)
            case "global-window" => !windowOk(name)
            case "single-partition-corpus-sort" => !spBoundedOk(name)
            case _ => false
          }
          if (hard.nonEmpty) unsanctioned += hard.size
          val tags = findings.map(_.rule).distinct.sorted.map(r =>
            if (hard.contains(r)) s"$r(UNSANCTIONED)" else r)
          if (tags.isEmpty) s"CLEAN $name"
          else s"OK    $name: ${tags.mkString(", ")}"
        } catch {
          case e: Exception =>
            // a fail-fast guard (e.g. the sf1 candidate budget) is a
            // design outcome, not a lint result
            s"SKIP  $name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(100)}"
        }
      println(line)
    }
    println("== rule totals: " + counts.toSeq.sortBy(_._1)
      .map { case (r, c) => s"$r=$c" }.mkString(", "))
    println(s"== unsanctioned hard findings: $unsanctioned")
    spark.stop()
    if (unsanctioned > 0) sys.exit(1)
  }
}
