package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Temporal, TextAnalysis}

/** Physical-plan regression tests for the round-4 operators: the scale
  * arguments in the scaladocs (TakeOrdered instead of global sort, a
  * bounded number of exchanges, shared window sorts) are asserted here
  * so a refactor that silently degrades the plan fails loudly. Bounds
  * are upper limits, not exact shapes — AQE/codegen details may vary. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(p: String, needle: String): Int =
    p.linesIterator.count(_.contains(needle))

  /** Shuffle exchanges only — broadcasts are cheap by design. */
  private def shuffles(p: String): Int =
    count(p, "Exchange hashpartitioning") +
      count(p, "Exchange rangepartitioning") +
      count(p, "Exchange SinglePartition")

  private val docs = Seq(
    (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ff"), (3L, "zz yy xx ww vv"))
    .toDF("doc_id", "text")

  test("weightedTopK plans as TakeOrdered with no exchange") {
    val p = plan(Sampling.weightedTopK(docs, "doc_id",
      length(col("text")).cast("double"), 2))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(shuffles(p) == 0, p)
  }

  test("topNgrams: one aggregation exchange + TakeOrdered") {
    val p = plan(TextAnalysis.topNgrams(docs, "text", 2, 5))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(shuffles(p) <= 1, p)
  }

  test("interpolate (unkeyed): both frames share one window + one sort") {
    val series = spark.range(0, 50).select(col("id").as("bucket"),
      when(pmod(col("id"), lit(5)) === 0, col("id").cast("double")).as("v"))
    val p = plan(Temporal.interpolate(series, Nil, "bucket", "v"))
    assert(count(p, "Window") == 1, p)
    assert(count(p, "Sort") == 1, p)
  }

  test("timeWeightedAvg: lead window and final agg share ONE exchange") {
    val df = Seq(("a", 10L, 1.0), ("a", 20L, 3.0), ("b", 5L, 2.0))
      .toDF("k", "t", "v")
    val p = plan(Temporal.timeWeightedAvg(df, Seq("k"), "t", "v", 100L))
    // the window partitions by (k, bucket) and the aggregation groups by
    // the same columns — the agg must reuse the window's partitioning
    assert(shuffles(p) == 1, p)
    assert(count(p, "Window") == 1, p)
  }

  test("editDistanceJoin: candidate join is equi on prefix tokens — no nested-loop/cartesian anywhere") {
    val p = plan(Dedup.editDistanceJoin(docs, "doc_id", "text", 2))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_filtered_revenue: the date RANGE reaches PushedFilters (typed NTZ literals, no cast chain)") {
    val p = plan(graft.SparkEntry.queries("q_filtered_revenue")(
      spark, "/root/testdata/sf0.001"))
    val scan = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail("no FileScan with PushedFilters in plan"))
    assert(scan.contains("GreaterThanOrEqual(l_shipdate") ||
      scan.contains("GreaterThanOrEqual(l_shipda"), scan.take(500))
  }

  test("q_filter_tags: the time range reaches PushedFilters via rangeFilter (no unix_timestamp cast chain)") {
    val p = plan(graft.SparkEntry.queries("q_filter_tags")(
      spark, "/root/testdata/sf0.001"))
    val scan = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail("no FileScan with PushedFilters in plan"))
    // the time bound reaches the scan as a typed literal comparison
    // (explain truncates the PushedFilters list, so pin the range
    // predicate — the one the old unix_timestamp(cast) form lost)
    assert(scan.contains("GreaterThanOrEqual(ts"), scan.take(500))
    assert(!p.contains("unix_timestamp"), "cast chain survived in the plan")
  }

  test("Annotations.flagWindows: windows side broadcasts (nested-loop " +
      "on the BROADCAST side only), bucketed side never shuffles " +
      "before the join") {
    val buckets = spark.range(100)
      .select((col("id") * 3600L).as("bucket"), rand(7).as("v"))
    val windows = Seq((3600L, 7200L), (36000L, 72000L))
      .toDF("start_ts", "end_ts")
    val p = plan(graft.ml.Annotations.flagWindows(buckets, windows))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only exchange is the post-join groupBy (and none below it)
    val pre = p.substring(p.indexOf("BroadcastNestedLoopJoin"))
    assert(shuffles(pre) == 0,
      s"bucketed side shuffled below the range join:\n$p")
  }

  test("lshDedupAgainst: zero-shuffle signatures below the candidate join") {
    // range-based inputs: a Seq-backed LocalRelation would be constant-
    // folded through the whole pipeline, erasing the projections the
    // test asserts on
    def corpus(n: Long, tag: String) = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("aa bb cc dd ee "), lit(tag), col("id")).as("text"))
    val p = plan(Dedup.lshDedupAgainst(
      corpus(5, "in"), corpus(50, "corp"), "doc_id", "text"))
    // signature kernels evaluate as projections (present in the plan),
    // and the only shuffles are candidate-join sides + distinct (+ the
    // final anti-join when not broadcast)
    assert(p.contains("graft_minhash"), p.take(4000))
    assert(shuffles(p) <= 5, p.take(4000))
  }

  test("bloomAntiJoin: clear branch is a narrow filter, no join") {
    val df = spark.range(0, 100).select(concat(lit("k"), col("id")).as("key"))
    val keys = spark.range(0, 50, 2)
      .select(concat(lit("k"), col("id")).as("key"))
    val p = plan(Dedup.bloomAntiJoin(df, keys, "key", 100))
    assert(count(p, "might_contain") >= 2, p) // probe + negated probe
    // exactly one join in the whole union (the candidate anti-join)
    assert(count(p, "Join") <= 2, p)
  }

  test("packManifest: no range exchange, no physical-partition-index " +
      "dependence, bounded shuffles") {
    val corpus = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("w"), col("id"), lit(" x y z")).as("text"))
    val m = graft.operators.Packing.packManifest(corpus, "doc_id", "text", 8)
    val p = plan(m)
    // the bucket id is a pure function of the data: the plan must carry
    // no range partitioning (RangePartitioner's per-RDD-id sampling
    // seed) and no spark_partition_id read
    assert(count(p, "Exchange rangepartitioning") == 0, p.take(3000))
    assert(!p.contains("SPARK_PARTITION_ID"), p.take(3000))
    // one keyed window exchange + the broadcast base join; the totals
    // agg reuses the window's partitioning
    assert(shuffles(p) <= 2, p.take(3000))
  }

  test("decodeImage: narrow map, blobs never shuffle") {
    val media = graft.operators.Multimodal.attachBlob(
      spark.range(10).select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text")), "doc_id", "text")
    val p = plan(graft.operators.Multimodal.decodeImage(media))
    assert(shuffles(p) == 0, p)
  }

  test("audio/GIF codec stages: narrow maps, blobs never shuffle") {
    val media = graft.operators.Multimodal.attachBlob(
      spark.range(10).select(col("id").as("doc_id"),
        concat(lit("t"), col("id")).as("text")), "doc_id", "text", "audio")
    val p = plan(graft.operators.Multimodal.decodeAudio(
      graft.operators.Multimodal.buildWav(media)))
    assert(shuffles(p) == 0, p)
    val g = plan(graft.operators.Multimodal.sampleGifFrames(media, 3))
    assert(shuffles(g) == 0, g)
    val a = plan(graft.operators.Multimodal.sampleAviFrames(media, 3))
    assert(shuffles(a) == 0, a)
  }

  test("ngramJaccardPairs guard path: ONE sh-keyed exchange — the " +
      "over-cap set rides the eager estimate job as a broadcast, " +
      "not a second corpus scan") {
    // an over-cap shingle must exist so the anti-join branch is in the
    // plan (the branch under test), and the guard must pass
    val docs = (1L to 6L).map(i => (i, s"aa bb cc dd ee x$i y$i z$i"))
      .toDF("doc_id", "text")
    val p = plan(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      maxPerShingle = 4, maxCandidatePairs = 1000000))
    assert(count(p, "Exchange hashpartitioning(sh") == 1, p.take(4000))
    // guard disabled: the over-cap set is computed lazily inside the
    // plan, which costs the second sh-keyed exchange (legacy shape)
    val p0 = plan(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      maxPerShingle = 4, maxCandidatePairs = 0))
    assert(count(p0, "Exchange hashpartitioning(sh") == 2, p0.take(4000))
  }

  test("jaccardJoin PPJoin core: bounded exchanges, no cartesian " +
      "(asserted on the pre-checkpoint composition — the public " +
      "jaccardJoin returns a checkpointed frame whose plan is a block " +
      "scan, so asserting on IT proves nothing)") {
    val p = plan(Dedup.ppjoinFromRanked(
      Dedup.ppjoinRanked(docs, "doc_id", "text", 3), 0.5))
    // the un-persisted core re-derives the ranked frame per consumer in
    // THIS plan (prod persists it once); bound the exchange count so a
    // data-sized regression (an extra shingle explosion: +4 per side)
    // still trips, and keep the candidate join key-equality
    assert(shuffles(p) <= 36, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("seasonalDecompose: ONE pass over the series — no self-join, " +
      "no re-derivation of the trended subtree") {
    val series = spark.range(0, 200).select(lit("k").as("key"),
      col("id").as("bucket"), (col("id") % 7).cast("double").as("v"))
    val p = plan(Temporal.seasonalDecompose(
      series, Seq("key"), "bucket", "v", 24))
    assert(count(p, "Range") == 1, p) // the input subtree appears once
    assert(!p.contains("Join"), p)
    assert(shuffles(p) <= 3, p)
  }

  test("selectRepresentatives: size + rank windows share one cluster " +
      "exchange; rank-1 filter becomes WindowGroupLimit") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster_id")
    val p = plan(Dedup.selectRepresentatives(docs, clusters, "doc_id",
      Seq(length(col("text")).desc, col("doc_id"))))
    assert(count(p, "Exchange hashpartitioning(cluster_id") <= 1, p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("epochMix: rate table broadcasts (no shuffle join), explode is " +
      "narrow — the corpus-side plan carries ZERO hash exchanges") {
    val df = Seq((1L, "s0", "a b c"), (2L, "s1", "d e")).toDF(
      "doc_id", "source", "text")
    val p = plan(Sampling.epochMix(df, "source", "doc_id",
      size(split(col("text"), " ")).cast("long"), Map("s0" -> 10L)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(shuffles(p) == 0, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("domainQualityFilter: source stats broadcast back (no shuffle " +
      "join); the source agg is the ONLY exchange; htmlExtract and " +
      "graft_normalize stay pure narrow maps") {
    val df = Seq((1L, "s0", "a b c"), (2L, "s1", "d e")).toDF(
      "doc_id", "source", "text")
    val p = plan(graft.operators.TextAnalysis
      .domainQualityFilter(df, "doc_id", "source", "text", 0.5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(shuffles(p) == 1, p) // the per-source partial-agg exchange
    // spark.range keeps the projection in the executed plan (a Seq-based
    // local frame constant-folds to LocalTableScan)
    val pn = plan(spark.range(10)
      .select(concat(lit("<p>"), col("id"), lit("</p>")).as("h"))
      .select(graft.operators.TextAnalysis.htmlExtract(col("h")),
        graft.functions.NormalizeText(col("h"))))
    assert(shuffles(pn) == 0, pn)
    // "*(1)" = the whole-stage-codegen stage marker: one fused stage,
    // both kernels inside it
    assert(pn.contains("*(1) Project"), pn)
  }

  test("containmentJoin / editDistanceJoinAgainst: candidate generation " +
      "is key-equality joins — no CartesianProduct, no NLJ (asserted on " +
      "the PRE-checkpoint frames; a checkpointed result's plan is just " +
      "a block scan and proves nothing)") {
    val corpus = Seq((1L, "aa bb cc dd ee ff"), (2L, "aa bb cc"),
      (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val pc = plan(Dedup.containmentFromRanked(
      Dedup.ppjoinRanked(corpus, "doc_id", "text", 3), 0.8))
    assert(!pc.contains("CartesianProduct"), pc)
    assert(!pc.contains("BroadcastNestedLoopJoin"), pc)
    val (pairs, kp, kc) = Dedup.editAgainstUnchecked(
      Seq((10L, "aabbcc")).toDF("doc_id", "text"), corpus,
      "doc_id", "text", 2, 2)
    try {
      val pe = plan(pairs)
      assert(!pe.contains("CartesianProduct"), pe)
      assert(!pe.contains("BroadcastNestedLoopJoin"), pe)
    } finally { kp.unpersist(false); kc.unpersist(false) }
  }

  test("PlanLint: flags cartesian, NLJ, global window, unpushed scan " +
      "filter; clean on a keyed/pushed plan") {
    import graft.plans.PlanLint
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    val rules = (df: org.apache.spark.sql.DataFrame) =>
      PlanLint.lint(df).map(_.rule).toSet
    // a small crossJoin plans as Broadcast NLJ; with broadcast disabled
    // it degrades to the true cartesian — both shapes must flag
    assert(rules(a.crossJoin(b))
      .intersect(Set("cartesian-product", "nested-loop-join")).nonEmpty)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(rules(a.crossJoin(b)).contains("cartesian-product"))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    assert(rules(a.join(b, col("x") < col("y")))
      .contains("nested-loop-join"))
    assert(rules(a.withColumn("r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("x"))))
      .contains("global-window"))
    // unpushed scan filter: a function of the column defeats pushdown
    // (the q_filter_tags r8 defect, now detectable as data)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lint").toString
    spark.range(100).toDF("v").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(rules(scan.filter(expr("v % 7") === 0))
      .contains("unpushed-scan-filter"))
    // the pushed form of the same predicate is clean
    assert(rules(scan.filter(col("v") >= 50)) === Set.empty)
    // a healthy keyed aggregation is clean
    assert(rules(a.groupBy(pmod(col("x"), lit(3))).count()) === Set.empty)
  }

  test("PlanLint: nlj-streamed-eval and range-sort-resample fire on the " +
      "unmaterialized shapes and stay silent behind a boundary") {
    import graft.plans.PlanLint
    val rules = (df: org.apache.spark.sql.DataFrame) =>
      PlanLint.lint(df).map(_.rule).toSet
    // scrambled key: a plain range is already ordered by id, so Catalyst
    // would eliminate the orderBy below and there'd be no sort to lint
    val docs = spark.range(50).selectExpr("id * 37 % 50 AS doc_id",
      "concat('alpha beta gamma delta epsilon ', id) AS text")
    val sigs = graft.operators.Dedup.simHash(docs, "doc_id", "text")
    val probe = sigs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    // kernel on the streamed side of a broadcast NLJ, no boundary:
    // the per-pair recompute shape the q_simhash_pairs fix removed
    val direct = broadcast(probe).crossJoin(
      sigs.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")))
    assert(rules(direct).contains("nlj-streamed-eval"), rules(direct))
    // materialized streamed side: boundary (RDD scan) silences it
    val mat = sigs.localCheckpoint(true)
    try {
      val fixed = broadcast(
        mat.filter(col("doc_id") < 5)
          .select(col("doc_id").as("id_a"), col("simhash").as("sh_a")))
        .crossJoin(mat.select(col("doc_id").as("id_b"),
          col("simhash").as("sh_b")))
      assert(!rules(fixed).contains("nlj-streamed-eval"), rules(fixed))
    } finally mat.unpersist(false)
    // global sort directly over the kernel: the sampling job re-runs it
    assert(rules(sigs.orderBy("doc_id")).contains("range-sort-resample"),
      rules(sigs.orderBy("doc_id")))
    // the orderedSmall shape (SinglePartition + local sort) is silent —
    // single-partition-exchange remains, which is the rule's own
    // "is the frame small?" question, answered yes for a final dump
    val small = sigs.repartition(1).sortWithinPartitions("doc_id")
    assert(!rules(small).contains("range-sort-resample"), rules(small))
    // a sort whose child is an aggregation (behind a shuffle) is cheap
    // to sample — must not flag
    val agged = sigs.groupBy(pmod(col("simhash"), lit(7)).as("b")).count()
      .orderBy("b")
    assert(!rules(agged).contains("range-sort-resample"), rules(agged))
  }

  test("PlanLint dogfood: the fixed kernel queries carry neither " +
      "nlj-streamed-eval nor range-sort-resample at sf0.001") {
    import graft.plans.PlanLint
    val sf = "/root/testdata/sf0.001"
    // q_embed_topk / q_hard_negatives keep their per-pair norm folds by
    // design: the per-pair cosine is O(d) regardless, so the streamed
    // norm adds a bounded constant factor, not a ×buildRows multiplier
    // — they are NOT pinned here, the brute-force contract documents it
    Seq("q_simhash_pairs", "q_minhash_pairs", "q_minhash", "q_simhash",
        "q_video_features", "q_media_dirty", "q_dedup_embed").foreach { n =>
      val bad = PlanLint.lint(SparkEntry.queries(n)(spark, sf))
        .filter(f => f.rule == "nlj-streamed-eval" ||
          f.rule == "range-sort-resample")
      assert(bad.isEmpty, s"$n: $bad")
    }
  }

  test("PlanLint dogfood: representative suite queries carry none of " +
      "the flagged anti-patterns at sf0.001") {
    import graft.plans.PlanLint
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q_filtered_revenue", "q_agg_basic", "q_domain_filter",
      "q_top_customers", "q_quality", "q_score_auc", "q_manifest",
      // retrieval/audit wave: all keyed/broadcast/bounded by design;
      // q_zipf is excluded from the window rule below (its one global
      // window ranks the VOCABULARY — dictionary-sized, documented)
      "q_bm25", "q_pmi", "q_zipf", "q_fertility", "q_mutual_info",
      "q_psi", "q_ks_drift", "q_trend_ols", "q_forecast_eval",
      "q_theilsen", "q_acf", "q_cluster_metrics", "q_js_div",
      "q_psi_between", "q_balance_classes", "q_skew_report",
      "q_sigma_clip", "q_gini", "q_bm25_indexed", "q_bm25_index_build",
      "q_ann_indexed", "q_ann_index_build", "q_donut_score",
      // curation wave: rrf fuses output-sized ranked lists (its bm25 +
      // brute-force legs carry the sanctioned 1-row-stats / broadcast-
      // probe NLJs); the classifier score is a narrow scan-rider; the
      // mixers broadcast strata-sized rate frames
      "q_rrf_fusion", "q_quality_lr_score", "q_mix_temperature",
      "q_diversity_sample", "q_mmr_rerank", "q_embed_outliers",
      "q_dedup_report", "q_novelty")
    // single-partition-exchange is excluded here: at sf0.001 AQE
    // legitimately coalesces the final verify-shaped orderBy to one
    // partition, and q_score_auc's 1-row agg single-partitions by
    // nature — exactly the "is the frame small?" question the rule's
    // doc tells the reader to ask. The hard rules must stay silent.
    val hard = Set("cartesian-product", "nested-loop-join",
      "unpushed-scan-filter")
    names.foreach { n =>
      // q_gini's one global window runs over the FREQUENCY-OF-FREQUENCY
      // frame (distinct count values — one row in the doc_id degenerate
      // case); q_zipf's ranks the vocabulary behind a counted fail-fast;
      // q_bm25_indexed ranks per query over a broadcast probe
      // q_donut_score's global window packs the MODEL-SIZED single
      // series (reference semantics: one bucketized series per model)
      val windowOk = Set("q_score_auc", "q_zipf", "q_gini",
        "q_donut_score")
      // sanctioned broadcast-NLJ: a 1-row stats frame or a dictionary-
      // sized grid cross-joined in (the "is the frame small?" question
      // the rule's doc poses — answered yes by construction here)
      val nljOk = Set("q_bm25", "q_bm25_indexed", "q_pmi", "q_psi",
        "q_mutual_info", "q_ks_drift", "q_js_div", "q_psi_between",
        "q_skew_report", "q_rrf_fusion", "q_mmr_rerank")
      // sanctioned unpushed filter: cellOutliers' / mmrRerank's
      // zero-norm guards and diversitySample's cell −1 split are
      // predicates over a COMPUTED norm/cell — there is no stored
      // column to push; the scan-adjacent filter is the correct shape
      val scanFilterOk = Set("q_embed_outliers", "q_diversity_sample",
        "q_mmr_rerank")
      val findings = PlanLint.lint(SparkEntry.queries(n)(spark, sf))
        .filter(f => (hard(f.rule) &&
            !(f.rule == "nested-loop-join" && nljOk(n)) &&
            !(f.rule == "unpushed-scan-filter" && scanFilterOk(n))) ||
          (f.rule == "global-window" && !windowOk(n)))
      assert(findings.isEmpty, s"$n: $findings")
    }
  }

  test("PlanLint: single-partition-corpus-sort fires on a corpus-sized " +
      "SinglePartition funnel and stays silent behind bounding nodes") {
    import graft.plans.PlanLint
    // threshold 1 byte: any real file scan counts as "corpus" so the
    // rule's STRUCTURE is testable at test SF
    val rules = (df: org.apache.spark.sql.DataFrame) =>
      PlanLint.lint(df, corpusBytes = 1L).map(_.rule).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lint_sp").toString
    spark.range(1000).selectExpr("id", "id % 7 AS k")
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // the orderedSmall-on-a-corpus-dump shape: per-row pipeline into
    // one task
    val funnel = scan.withColumn("v", col("id") * 2)
      .repartition(1).sortWithinPartitions("id")
    assert(rules(funnel).contains("single-partition-corpus-sort"),
      rules(funnel))
    // an aggregate bounds cardinality (documented heuristic) — silent
    val agged = scan.groupBy("k").count()
      .repartition(1).sortWithinPartitions("k")
    assert(!rules(agged).contains("single-partition-corpus-sort"),
      rules(agged))
    // a limit bounds it — silent
    val limited = scan.limit(5).repartition(1).sortWithinPartitions("id")
    assert(!rules(limited).contains("single-partition-corpus-sort"),
      rules(limited))
    // the orderedCorpus fix (materialize + range sort) has no
    // SinglePartition exchange at all — silent on both rules
    val fixed = scan.withColumn("v", col("id") * 2)
      .localCheckpoint(true).orderBy("id")
    assert(rules(fixed)
      .intersect(Set("single-partition-exchange",
        "single-partition-corpus-sort")).isEmpty, rules(fixed))
    // default threshold: a KB-sized test file is NOT corpus-sized
    assert(!PlanLint.lint(funnel).map(_.rule)
      .contains("single-partition-corpus-sort"))
  }

  test("orderedCorpus sweep dogfood: every corpus-scaling query output " +
      "leaves the engine through a distributed sort, never one task") {
    import graft.plans.PlanLint
    val sf = "/root/testdata/sf0.001"
    // the r11 sweep list: results that scale with documents, pairs,
    // rate-samples, dedup survivors or packed sequences (≥10k rows at
    // sf1, or corpus-scaling by construction). orderedSmall anywhere
    // in these plans is a regression.
    val swept = Seq(
      "q_simhash", "q_string_fns", "q_bpe_learned", "q_token_count",
      "q_token_bpe", "q_dup_coverage", "q_dup_spans", "q_strip_spans",
      "q_domain_filter", "q_quality", "q_quality_lr_score",
      "q_gopher_rules", "q_jsonl_roundtrip", "q_fingerprint",
      "q_multimodal_meta", "q_multimodal_features", "q_audio_features",
      "q_video_features", "q_frame_sample", "q_dedup_cluster",
      "q_dedup_cluster_star", "q_label_prop", "q_corpus_diff",
      "q_pagerank", "q_curriculum", "q_split_leak_safe", "q_repetition",
      "q_balance_classes", "q_tfidf", "q_boilerplate", "q_pack",
      "q_pack_slices", "q_pack_grouped", "q_line_dedup", "q_lm_score",
      "q_bigram_lm", "q_chunks", "q_epoch_mix", "q_shuffle_shards",
      "q_normalize", "q_html_extract", "q_redact", "q_quantize",
      "q_jaccard_join", "q_containment_join", "q_edit_join",
      "q_jaro_winkler", "q_media_dirty", "q_minhash", "q_lang_id",
      "q_novelty", "q_dedup_exact", "q_dedup_lsh", "q_dedup_embed",
      "q_hash_sample", "q_dedup_keep_best", "q_pack_text",
      "q_dedup_incremental", "q_dedup_exact_incr", "q_drop_contained",
      "q_edit_join_incr", "q_semantic_dedup", "q_media_phash")
    swept.foreach { n =>
      val sp = PlanLint.lint(SparkEntry.queries(n)(spark, sf))
        .filter(f => f.rule == "single-partition-exchange" ||
          f.rule == "single-partition-corpus-sort")
      assert(sp.isEmpty, s"$n: $sp")
    }
  }

  test("bm25TopKIndexed probe: the query-term IN filter reaches the " +
      "postings scan (PushedFilters), so term-sorted row groups prune") {
    import graft.operators.Retrieval
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_plan").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val p = plan(Retrieval.bm25TopKIndexed(spark, dir, "doc_id",
      Seq(1 -> "aa zz"), k = 2))
    assert(p.contains("PushedFilters: [In(term"), p)
    // and the result is identical to the direct path
    val direct = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq(1 -> "aa zz"), k = 2).collect().map(_.toSeq).toSet
    val probed = Retrieval.bm25TopKIndexed(spark, dir, "doc_id",
      Seq(1 -> "aa zz"), k = 2).collect().map(_.toSeq).toSet
    assert(probed === direct)
  }

  test("annTopKIndexed probe: the probed-cell IN filter reaches the " +
      "codes scan (PushedFilters), driver and distributed routing agree, " +
      "a rebuild re-routes, marker skips the rebuild") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_plan").toString
    val e = (0 until 40).map(i => (i.toLong,
      Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        math.cos(i * 0.11).toFloat, math.sin(i * 0.11).toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.ensureAnnIndex(e, "vec_id", "embedding", dir, 4))
    // completed marker → the second ensure is a no-op
    assert(!Similarity.ensureAnnIndex(e, "vec_id", "embedding", dir, 4))
    val q = e.filter(col("vec_id") < 3)
    val probe = Similarity.annTopKIndexed(spark, dir, q,
      "vec_id", "embedding", k = 3, nprobe = 2)
    assert(plan(probe).contains("PushedFilters: [In(cell"), plan(probe))
    val routed = probe.collect().map(_.toSeq).toSet
    assert(routed.size == 9, routed) // k = 3 for each of 3 queries
    // audit row matches what the build actually wrote
    val st = Similarity.annIndexStats(spark, dir).head()
    assert(st.getLong(0) == 40L && st.getLong(2) == 4L &&
      st.getLong(3) == 4L)
    // the big-batch fallback (distributed routing job) must produce the
    // same rows as the driver-routed path — force it with a 1-query cap
    val dist = Similarity.annTopKIndexed(spark, dir, q,
      "vec_id", "embedding", k = 3, nprobe = 2, maxDriverRoutedQueries = 1)
    assert(dist.collect().map(_.toSeq).toSet === routed)
    // rebuild invalidates the centroid cache: a DIFFERENT corpus written
    // to the same dir (marker rewritten → new mtime) must route against
    // the NEW centroids, not the cached old ones
    val e2 = (0 until 40).map(i => (i.toLong,
      Seq(math.sin(i * 0.53).toFloat, math.cos(i * 0.29).toFloat,
        math.sin(i * 0.19).toFloat, math.cos(i * 0.41).toFloat)))
      .toDF("vec_id", "embedding")
    // no sleep needed: the cache keys on the marker's UUID content, so
    // even a same-second rebuild invalidates (mtime granularity is 1 s)
    Similarity.buildAnnIndex(e2, "vec_id", "embedding", dir, 4)
    val probe2 = Similarity.annTopKIndexed(spark, dir,
      e2.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      nprobe = 2).collect().map(_.toSeq).toSet
    // reference: the same corpus built into a fresh dir, whose routing
    // table was never cached
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_ann_fresh").toString
    Similarity.buildAnnIndex(e2, "vec_id", "embedding", fresh, 4)
    val direct2 = Similarity.annTopKIndexed(spark, fresh,
      e2.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      nprobe = 2).collect().map(_.toSeq).toSet
    assert(probe2 === direct2)
  }

  test("updateAnnIndex: build(half) + update(rest) probes BIT-EQUAL to " +
      "a full build with the same pinned centroids; the cell ledger " +
      "merges exactly; update without a completed index refuses") {
    import graft.operators.Similarity
    val dirIncr = java.nio.file.Files
      .createTempDirectory("graft_ann_incr").toString
    val dirFull = java.nio.file.Files
      .createTempDirectory("graft_ann_full").toString
    val e = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        math.cos(i * 0.11).toFloat, math.sin(i * 0.11).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Some((0 until 4).map(c => Array(
      math.cos(c * 1.3), math.sin(c * 1.3),
      math.cos(c * 0.7), math.sin(c * 0.7))).toArray)
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val delta = e.filter(col("vec_id") % 3 === 0)
    Similarity.buildAnnIndex(base, "vec_id", "embedding", dirIncr, 4,
      centroids = cents)
    Similarity.updateAnnIndex(delta, "vec_id", "embedding", dirIncr)
    Similarity.buildAnnIndex(e, "vec_id", "embedding", dirFull, 4,
      centroids = cents)
    val q = e.filter(col("vec_id") < 3)
    val incr = Similarity.annTopKIndexed(spark, dirIncr, q,
      "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val full = Similarity.annTopKIndexed(spark, dirFull, q,
      "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(incr === full)
    // merged audit = full-build audit (exact long ledger merge)
    val si = Similarity.annIndexStats(spark, dirIncr).head()
    val sf = Similarity.annIndexStats(spark, dirFull).head()
    assert(si.toSeq === sf.toSeq)
    assert(si.getLong(0) === 60L)
    // refuses a dir with no completed build (no marker)
    val eEmpty = java.nio.file.Files
      .createTempDirectory("graft_ann_none").toString
    val ex = intercept[IllegalArgumentException] {
      Similarity.updateAnnIndex(delta, "vec_id", "embedding", eEmpty)
    }
    assert(ex.getMessage.contains("buildAnnIndex"))
  }

  test("compactAnnIndex: a fragmented codes dir rewrites to the " +
      "byte-budget file count, probes bit-equal pre/post, audits " +
      "untouched; below threshold it no-ops; no completed index refuses") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ann_cpt").toString
    val e = (0 until 60).map(i => (i.toLong,
      Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        math.cos(i * 0.11).toFloat, math.sin(i * 0.11).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Some((0 until 4).map(c => Array(
      math.cos(c * 1.3), math.sin(c * 1.3),
      math.cos(c * 0.7), math.sin(c * 0.7))).toArray)
    Similarity.buildAnnIndex(e.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", dir, 4, centroids = cents)
    Similarity.updateAnnIndex(e.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", dir)
    Similarity.updateAnnIndex(e.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def codeFiles(): Int = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/codes")).toSeq
      .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val q = e.filter(col("vec_id") < 3)
    val pre = Similarity.annTopKIndexed(spark, dir, q,
      "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val statsPre = Similarity.annIndexStats(spark, dir).head().toSeq
    val nBefore = codeFiles()
    assert(nBefore > 2, s"expected a fragmented codes dir, got $nBefore")
    assert(Similarity.compactAnnIndex(spark, dir, maxFiles = 2))
    val nAfter = codeFiles()
    assert(nAfter === 1, s"tiny index should compact to one file: $nAfter")
    val post = Similarity.annTopKIndexed(spark, dir, q,
      "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(post === pre)
    assert(Similarity.annIndexStats(spark, dir).head().toSeq === statsPre)
    // converged: the rewritten layout is below the threshold
    assert(!Similarity.compactAnnIndex(spark, dir, maxFiles = 2))
    // and the cell-pruned probe scan still prunes (sorted-by-cell file)
    val probe = Similarity.annTopKIndexed(spark, dir, q,
      "vec_id", "embedding", k = 4, nprobe = 2)
    assert(plan(probe).contains("PushedFilters: [In(cell"), plan(probe))
    // refuses a dir without a completed build
    val none = java.nio.file.Files
      .createTempDirectory("graft_ann_cpt_none").toString
    val ex = intercept[IllegalArgumentException] {
      Similarity.compactAnnIndex(spark, none)
    }
    assert(ex.getMessage.contains("buildAnnIndex"))
  }

  test("shuffleShards: exactly ONE exchange (the shard key), no global " +
      "sort, no join") {
    val p = plan(Sampling.shuffleShards(
      spark.range(100).toDF("doc_id"), "doc_id", 8))
    assert(shuffles(p) == 1, p)
    assert(!p.contains("Join"), p)
    // the only Sort is the per-shard window sort, under the exchange
    assert(count(p, "Sort") == 1, p)
  }

  test("dsir scoring: ratio table broadcasts; per-doc agg is the only " +
      "corpus-keyed exchange after the model fit") {
    val df = Seq((1L, "t", "a b c d"), (2L, "r", "a b x y"),
      (3L, "r", "p q r s")).toDF("doc_id", "grp", "text")
    val p = plan(graft.operators.Dsir.select(df, "doc_id", "text",
      col("grp") === "t", n = 2, buckets = 16))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // top-n is TakeOrdered (no global sort); the hash exchanges are the
    // two bucket-BOUNDED fit aggs + exactly one doc-keyed scoring agg
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(count(p, "Exchange hashpartitioning(doc_id") == 1, p)
    assert(shuffles(p) <= 3, p)
  }

  test("hardNegatives: anchors broadcast; ONE window exchange ranks " +
      "positives and negatives; pos-join stays broadcast") {
    val df = Seq((1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val p = plan(graft.operators.Similarity.hardNegatives(
      df.filter(col("vec_id") === 1L), df, "vec_id", "embedding",
      "label", k = 2))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the rank<=k / rank==1 filters push into the window sort as
    // group-limits (the ranked subtree appears in both join branches;
    // ReuseExchange dedupes the shuffle at runtime)
    assert(p.contains("WindowGroupLimit"), p)
    assert(count(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("SemiStructured.extract: one from_json evaluation feeding all " +
      "fields; scan prunes to the referenced columns") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val sch = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val df = Seq((1L, """{"a":1,"b":"x"}""")).toDF("id", "js")
    val p = graft.operators.SemiStructured.extract(df, "js", sch)
      .select("a", "b").queryExecution.optimizedPlan.toString
    // collapsed projection: from_json appears once per extracted field at
    // most in the optimized plan — and with CollapseProject + common
    // subexpression elimination at codegen, evaluation is shared; assert
    // the plan is a pure narrow Project over the relation (no shuffle)
    assert(!p.contains("Exchange"), p)
  }
}
