package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Temporal, TextAnalysis}

/** Round-4 additions: incremental (cross-corpus) dedup, Bloom-prefiltered
  * membership, weighted sampling, corpus heavy hitters, interpolation. */
class IncrementalOpsSpec extends SparkSpec {
  import spark.implicits._

  // ── incremental LSH dedup ──────────────────────────────────────

  private val corpus = Seq(
    (100L, "the quick brown fox jumps over the lazy dog today"),
    (101L, "completely different corpus document about spark engines"),
    (102L, "another unrelated text body mentioning benchmarks only"))
    .toDF("doc_id", "text")

  test("lshDedupAgainst drops incoming near-dups of the corpus, keeps rest") {
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // dup of 100
      (2L, "entirely novel incoming document with fresh content here"))
      .toDF("doc_id", "text")
    val out = Dedup.lshDedupAgainst(incoming, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L))
  }

  test("lshDedupAgainst: corpus-side bucket cap removes hot keys from both sides") {
    // every corpus doc identical → one hot band bucket; cap 2 excludes it,
    // so the identical incoming doc escapes dedup (recall traded, never mem)
    val hotCorpus = (0 until 8).map(i => (100L + i, "aa bb cc dd ee ff gg"))
      .toDF("doc_id", "text")
    val incoming = Seq((1L, "aa bb cc dd ee ff gg")).toDF("doc_id", "text")
    val capped = Dedup.lshDedupAgainst(incoming, hotCorpus, "doc_id", "text",
      maxBucket = 2)
    assert(capped.count() == 1)
    val uncapped = Dedup.lshDedupAgainst(incoming, hotCorpus, "doc_id", "text")
    assert(uncapped.count() == 0)
  }

  // ── Bloom-prefiltered membership ───────────────────────────────

  test("bloomAntiJoin is exactly a plain anti-join (incl. fp candidates)") {
    val df = spark.range(0, 500).select(
      concat(lit("k"), col("id")).as("key"), col("id"))
    val keys = spark.range(0, 1000, 3)
      .select(concat(lit("k"), col("id")).as("key"))
    val got = Dedup.bloomAntiJoin(df, keys, "key", expectedItems = 400)
      .select("id").as[Long].collect().sorted
    val want = df.join(keys, Seq("key"), "left_anti")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq)
    assert(want.nonEmpty && want.length < 500) // both branches exercised
  }

  test("bloomAntiJoin with empty key set keeps everything") {
    val df = Seq(("a", 1), ("b", 2)).toDF("key", "v")
    val keys = Seq.empty[String].toDF("key")
    assert(Dedup.bloomAntiJoin(df, keys, "key", 10).count() == 2)
  }

  test("exactDedupAgainst removes only content-hash matches") {
    val incoming = Seq((1L, "same text"), (2L, "new text"))
      .toDF("doc_id", "text")
    val corp = Seq((9L, "same text"), (8L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDedupAgainst(incoming, corp, "text", 100)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L))
    assert(out.length == 1 &&
      Dedup.exactDedupAgainst(incoming, corp, "text", 100)
        .columns.toSeq == incoming.columns.toSeq) // helper column dropped
  }

  // ── weighted sampling ──────────────────────────────────────────

  test("weightedTopK matches the naive driver-side A-ES computation") {
    val df = spark.range(0, 300).select(col("id"),
      (pmod(col("id"), lit(7)) + 1).cast("double").as("w"))
    val got = Sampling.weightedTopK(df, "id", col("w"), k = 25)
      .select("id").as[Long].collect().sorted
    val naive = df.select(col("id"), col("w"),
        Sampling.hashUniform(col("id")).as("u"))
      .collect()
      .map(r => (r.getLong(0), math.pow(r.getDouble(2), 1.0 / r.getDouble(1))))
      .sortBy { case (id, k) => (-k, id) }
      .take(25).map(_._1).sorted
    assert(got.toSeq == naive.toSeq)
  }

  test("weightedTopK favors heavy rows: inclusion rate grows with weight") {
    val df = spark.range(0, 400).select(col("id"),
      when(col("id") < 200, lit(1.0)).otherwise(lit(20.0)).as("w"))
    val picked = Sampling.weightedTopK(df, "id", col("w"), k = 100)
      .select("id").as[Long].collect()
    val heavy = picked.count(_ >= 200)
    assert(heavy > 60, s"heavy rows picked: $heavy of 100")
  }

  // ── connected components: star contraction ─────────────────────

  test("connectedComponentsStar equals propagation CC on random graphs") {
    val rnd = new scala.util.Random(7)
    val n = 200L
    val edges = (0 until 150)
      .map(_ => (rnd.nextLong(n), rnd.nextLong(n)))
      .toDF("id_a", "id_b")
    val nodes = spark.range(n).toDF("id")
    val star = Dedup.connectedComponentsStar(nodes, edges, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(nodes, edges, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
  }

  test("star CC converges on a long chain (propagation's worst case)") {
    val n = 600L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = spark.range(n).toDF("id")
    val star = Dedup.connectedComponentsStar(nodes, edges, "id", maxIter = 30)
      .collect().map(r => r.getLong(1)).toSet
    assert(star == Set(0L)) // one component, rooted at the minimum id
  }

  test("connectedComponents throws on an exhausted round budget") {
    // a 20-node path needs 19 propagation rounds; 3 leave it unsettled
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException](
      Dedup.connectedComponents(spark.range(20).toDF("id"), edges, "id",
        maxIter = 3).collect())
    assert(err.getMessage.contains("maxIter = 3") &&
      err.getMessage.contains("connectedComponentsStar"), err.getMessage)
  }

  // ── iteration: job budgets and bounded lineage ─────────────────

  /** 40 nodes: a 6-node path, a 5-clique, a 6-node star, one pair and
    * 21 isolated nodes. */
  private def graph = {
    val edges = (0L until 5L).map(i => (i, i + 1)) ++
      (for (a <- 10L to 14L; b <- a + 1 to 14L) yield (a, b)) ++
      (21L to 25L).map(v => (20L, v)) :+ ((30L, 31L))
    (spark.range(40).toDF("id"), edges.toDF("id_a", "id_b"))
  }

  test("the iterative operators stay inside their job budgets") {
    val (nodes, edges) = graph
    val seeds = Seq((0L, 1), (10L, 2), (25L, 3)).toDF("id", "rating")
    val series = ((0 until 18).map(i => ("a", i.toLong, 0.0)) ++
      Seq(("a", 18L, 100.0), ("a", 19L, 60.0)) ++
      (0 until 20).map(i => ("b", i.toLong, (i % 3).toDouble)))
      .toDF("g", "t", "v")
    val jobs = Seq(
      "connectedComponents" -> jobsOf(
        Dedup.connectedComponents(nodes, edges, "id").collect()),
      "connectedComponentsStar" -> jobsOf(
        Dedup.connectedComponentsStar(nodes, edges, "id").collect()),
      "labelPropagation" -> jobsOf(Dedup.labelPropagation(
        nodes, edges, "id", seeds, "rating", iters = 5).collect()),
      "pageRank" -> jobsOf(
        Dedup.pageRank(nodes, edges, "id", iters = 10).collect()),
      "sigmaClip" -> jobsOf(Temporal.sigmaClip(
        series, Seq("g"), "t", "v", k = 2.5, maxIter = 3).collect()))
    // measured on this graph and series, the final collect included
    val budget = Map("connectedComponents" -> 44, "connectedComponentsStar" -> 40,
      "labelPropagation" -> 27, "pageRank" -> 35, "sigmaClip" -> 14)
    jobs.foreach { case (op, n) =>
      info(s"$op: $n jobs")
      assert(n <= budget(op), s"$op started $n jobs > budget ${budget(op)}")
    }
  }

  test("long fixed-round loops keep their lineage bounded") {
    // a 30-node path seeded at both ends settles within 15 rounds, so
    // 40 rounds give the labels of 39
    val path = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val seeds = Seq((0L, 1), (29L, 2)).toDF("id", "rating")
    def lp(iters: Int) = Dedup.labelPropagation(spark.range(30).toDF("id"),
        path, "id", seeds, "rating", iters = iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp(40) == lp(39))
    val (nodes, edges) = graph
    val mass = Dedup.pageRank(nodes, edges, "id", iters = 60).collect()
      .map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-9, mass)
  }

  // ── exact Jaccard join (prefix filtering) ──────────────────────

  test("jaccardJoin equals the naive all-pairs exact computation") {
    // synthetic corpus with shared template phrases (hot shingles), a
    // near-dup pair, and unique docs — exercises prefix + length filters
    val base = "the quick brown fox jumps over the lazy dog"
    val docsData = Seq(
      (1L, s"$base alpha beta gamma"),
      (2L, s"$base alpha beta delta"),   // near-dup of 1
      (3L, s"$base entirely different tail content here now"),
      (4L, "totally unrelated text about spark catalyst plans"),
      (5L, s"$base alpha beta gamma"))   // exact dup of 1
      .toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.jaccardJoin(docsData, "doc_id", "text", tau)
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // naive: driver-side exact jaccard over all pairs
      val sets = docsData.select(col("doc_id"),
          array_distinct(Dedup.wordShingles(col("text"), 3)).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val naive = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) intersect sets(b)).size
        uni = (sets(a) union sets(b)).size
        j = inter.toDouble / uni if j >= tau
      } yield (a, b, j)).toSet
      assert(got == naive, s"tau=$tau")
    }
  }

  test("near-dup joins leave no app-lifetime cache behind across repeated calls") {
    // the r8 audit found jaccardJoin persisting its collapse frames
    // (Dataset.persist = a CacheManager entry nothing ever releases);
    // they are now eager localCheckpoints owned by the ContextCleaner.
    // Repeated library calls must return the block store to baseline
    // once the returned frames are dropped.
    val sc = spark.sparkContext
    def persisted: Int = sc.getPersistentRDDs.size
    val docsData = (0 until 40).map { i =>
      val body = if (i % 4 == 0) "the quick brown fox jumps over the lazy dog"
        else s"document body number $i with shared words alpha beta gamma"
      (i.toLong, s"$body tail ${i % 7}")
    }.toDF("doc_id", "text")
    val before = persisted
    (1 to 2).foreach { _ =>
      assert(Dedup.jaccardJoin(docsData, "doc_id", "text", 0.5).count() >= 0)
      assert(Dedup.containmentJoin(docsData, "doc_id", "text", 0.8).count() >= 0)
      assert(Dedup.editDistanceJoin(docsData, "doc_id", "text", 2).count() >= 0)
      assert(Dedup.lshVerifiedPairs(docsData, "doc_id", "text").count() >= 0)
      assert(Dedup.connectedComponents(
        docsData.select(col("doc_id").as("id")),
        Seq((0L, 4L), (4L, 8L)).toDF("id_a", "id_b"), "id").count() >= 0)
      // sigmaClip localCheckpoints each pass — its intermediates must
      // drain the same way once the returned flags are consumed
      assert(Temporal.sigmaClip(
        (0L to 20L).map(t => ("k", t, if (t == 20) 99.0 else 1.0))
          .toDF("g", "t", "v"),
        Seq("g"), "t", "v", k = 2.5, maxIter = 3).count() >= 0)
    }
    // checkpointed intermediates drain via GC + ContextCleaner — poll
    val deadline = System.currentTimeMillis + 30000
    var now = persisted
    while (now > before && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(250); now = persisted
    }
    assert(now <= before,
      s"cache entries leaked across calls: $now persisted RDDs > baseline $before")
  }

  test("topKJaccardPairs: equals the naive top-k above the floor; " +
      "early-exits at a high tau when matches are dense") {
    val base = "the quick brown fox jumps over the lazy dog"
    val docsData = (
      // 6 clones → 15 exact pairs at J = 1.0 (dense: exits at τ = 0.9)
      (1L to 6L).map(i => (i, s"$base alpha beta gamma")) ++
      Seq(
        (7L, s"$base alpha beta delta"),   // near-dup of the clones
        (8L, s"$base entirely different tail content here now"),
        (9L, "totally unrelated text about spark catalyst plans")))
      .toDF("doc_id", "text")
    val k = 10
    val got = Dedup.topKJaccardPairs(docsData, "doc_id", "text", k)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sets = docsData.select(col("doc_id"),
        array_distinct(Dedup.wordShingles(col("text"), 3)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) intersect sets(b)).size
      j = inter.toDouble / (sets(a) union sets(b)).size if j >= 0.15
    } yield (a, b, j)).toSeq
      .sortBy(t => (-t._3, t._1, t._2)).take(k)
    assert(got == naive)
    // sparse corpus: must descend the ladder and still agree
    val sparse = Seq(
      (1L, s"$base alpha beta gamma"),
      (2L, s"$base alpha zeta epsilon"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four nine ten eleven")) // J = 2/8 = 0.25 ≥ floor
      .toDF("doc_id", "text")
    val got2 = Dedup.topKJaccardPairs(sparse, "doc_id", "text", 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 2L), (3L, 4L)))
  }

  // ── corpus heavy hitters ───────────────────────────────────────

  test("topNgrams counts bigram occurrences (multiset) with ordered ties") {
    val df = Seq("a b a b", "a b c", "x y").toDF("text")
    val got = TextAnalysis.topNgrams(df, "text", n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    // "a b": 2 (doc1) + 1 (doc2) = 3; then "b a" 1, "b c" 1, "x y" 1
    assert(got.head == ("a b", 3L))
    assert(got.tail.map(_._2).forall(_ == 1L))
    assert(got.tail.map(_._1) == got.tail.map(_._1).sorted)
  }

  // ── sketch-tier corpus stats ───────────────────────────────────

  test("approxDistinct lands within the HLL error bound of exact") {
    import graft.operators.CorpusStats
    val df = spark.range(0, 20000).select((col("id") % 5000).as("k"))
    val approx = CorpusStats.approxDistinct(df, col("k"), rsd = 0.02)
    assert(math.abs(approx - 5000L) <= 5000L * 0.06,
      s"approx=$approx") // 3x rsd
  }

  test("strataProfile: one-pass per-stratum doc/vocab estimates") {
    import graft.operators.CorpusStats
    val docsDf = (0 until 300).map { i =>
      val lang = if (i % 3 == 0) "de" else "en"
      (i.toLong, lang, s"token$i word${i % 50} alpha beta gamma delta")
    }.toDF("doc_id", "lang", "text")
    val prof = CorpusStats.strataProfile(docsDf, "lang", "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(prof("de") - 100L) <= 20)
    assert(math.abs(prof("en") - 200L) <= 30)
  }

  test("distinctSketch: incremental day-batch merge tracks the full-corpus sketch within the rsd bound; outer keys survive") {
    import graft.operators.CorpusStats
    // two "days" with overlapping user populations per key, plus a key
    // seen only on day 2
    val day1 = (0 until 4000).map(i => (s"t${i % 2}", (i % 900).toLong))
      .toDF("k", "u")
    val day2 = ((0 until 4000).map(i => (s"t${i % 2}", (i % 1100 + 500).toLong))
      ++ Seq(("t9", 1L), ("t9", 2L))).toDF("k", "u")
    val merged = CorpusStats.mergeSketches(
      CorpusStats.distinctSketch(day1, Seq("k"), col("u")),
      CorpusStats.distinctSketch(day2, Seq("k"), col("u")), Seq("k"))
    val full = CorpusStats.distinctSketch(day1.unionAll(day2), Seq("k"),
      col("u"))
    def ests(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), CorpusStats.estimateDistinct(col("sketch")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (em, ef) = (ests(merged), ests(full))
    // merged-vs-direct is EXACT only in the coupon regime; at HLL-array
    // scale the direct path uses the HIP estimator while the unioned
    // path reads the composite estimator, so the estimates may
    // legitimately differ — pin agreement to 3× the lgK=12 rsd
    // (1.04/√4096 ≈ 1.63%) instead of bit-identity
    val rsd = 1.04 / math.sqrt(1 << 12)
    ef.foreach { case (k, fv) =>
      val mv = em(k)
      val tol = math.max(3 * rsd * math.max(fv, mv), 1.0)
      assert(math.abs(mv - fv) <= tol,
        s"key $k merged=$mv full=$fv beyond 3·rsd=$tol")
    }
    // tiny cardinalities stay in the coupon regime, where merge IS exact
    assert(em.contains("t9") && em("t9") == 2L) // day-2-only key survives
    // and the estimates are near truth: k = i%2 makes u share i's
    // parity (900 and 1100 are even), so t0 sees the evens of
    // [0,900) ∪ [500,1599] → 800 true distinct
    assert(math.abs(em("t0") - 800L) <= 800 * 0.06, em.toString)
  }

  test("quantileSketch: merged day-batches read quantiles within the KLL rank bound; exact on small sketches") {
    import graft.operators.CorpusStats
    val day1 = (0 until 20000).map(i => ("k", (i % 10000).toDouble))
      .toDF("k", "v")
    val day2 = (0 until 20000).map(i => ("k", (i % 10000 + 5000).toDouble))
      .toDF("k", "v")
    val merged = CorpusStats.mergeQuantileSketches(
      CorpusStats.quantileSketch(day1, Seq("k"), col("v"))
        .unionAll(CorpusStats.quantileSketch(day2, Seq("k"), col("v"))),
      Seq("k"))
    val p = merged.select(
      CorpusStats.sketchQuantile(col("qsketch"), 0.5),
      CorpusStats.sketchQuantile(col("qsketch"), 0.99)).head()
    // union of [0,10000)×2 and [5000,15000)×2: true p50 = 7500,
    // p99 = 14800; default-k KLL rank error ~1.7% → generous bounds
    assert(math.abs(p.getDouble(0) - 7500.0) < 600.0, p.toString)
    assert(math.abs(p.getDouble(1) - 14800.0) < 600.0, p.toString)

    // tiny input: the sketch holds everything — quantiles are EXACT
    val tiny = (1 to 100).map(i => ("t", i.toDouble)).toDF("k", "v")
    val q = CorpusStats.quantileSketch(tiny, Seq("k"), col("v"))
      .select(CorpusStats.sketchQuantile(col("qsketch"), 0.5)).head()
    assert(q.getDouble(0) === 50.0)
  }

  test("thetaSketch set algebra: exact intersection/difference under the entry budget") {
    import graft.operators.CorpusStats
    val a = (0 until 3000).map(i => ("s", i.toLong)).toDF("k", "u")
    val b = (2000 until 3500).map(i => ("s", i.toLong)).toDF("k", "u")
    val sa = CorpusStats.thetaSketch(a, Seq("k"), col("u"))
      .withColumnRenamed("tsketch", "ta")
    val sb = CorpusStats.thetaSketch(b, Seq("k"), col("u"))
      .withColumnRenamed("tsketch", "tb")
    val r = sa.join(sb, "k").select(
      CorpusStats.thetaIntersectEstimate(col("ta"), col("tb")),
      CorpusStats.thetaDifferenceEstimate(col("ta"), col("tb"))).head()
    // |A∩B| = [2000,3000) = 1000; |A∖B| = [0,2000) = 2000 — both sets
    // under 2^12 distinct, so the sketches are in exact mode (estimate
    // returns a LONG count)
    assert(r.getLong(0) === 1000L, r.toString)
    assert(r.getLong(1) === 2000L, r.toString)
  }

  // ── z-order layout ─────────────────────────────────────────────

  test("zValue interleaves bits (golden + inverse-locality property)") {
    import graft.io.ZOrder
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (7L, 7L), (8L, 0L))
      .toDF("x", "y")
    val z = df.select(ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // (x,y) → interleave: (1,0)→1, (0,1)→2, (1,1)→3, (7,7)→63, (8,0)→64
    assert(z == Seq(0L, 1L, 2L, 3L, 63L, 64L))
  }

  test("zValueN: 3-D golden values; k=2 layout identical to zValue; 3-D box locality beats 1-D sort") {
    import graft.io.ZOrder
    // golden: (x,y,z) bit i of col j lands at i*3+j
    val df = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (1L, 1L, 1L),
      (2L, 0L, 0L), (3L, 3L, 3L)).toDF("x", "y", "z")
    val got = df.select(ZOrder.zValueN(
      Seq(col("x"), col("y"), col("z"))).as("v")).as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 4L, 7L, 8L, 63L))
    // k = 2 degenerates to exactly zValue's layout
    val pairs = Seq((5L, 9L), (1023L, 0L), (0L, 1023L), (77L, 41L))
      .toDF("x", "y")
    val a = pairs.select(ZOrder.zValueN(Seq(col("x"), col("y")), 21).as("v"))
      .as[Long].collect().toSeq
    val b = pairs.select(ZOrder.zValue(col("x"), col("y")).as("v"))
      .as[Long].collect().toSeq
    assert(a == b)
    // locality: sort 16^3 grid by 3-D z-value; an axis-aligned 3-D box
    // touches fewer sort-order "files" (contiguous chunks) than a 1-D
    // sort's worst dimension
    val grid = spark.range(16L * 16L * 16L).select(
      pmod(col("id"), lit(16)).as("x"),
      pmod((col("id") / 16).cast("long"), lit(16)).as("y"),
      (col("id") / 256).cast("long").as("z"))
    def worstChunks(key: org.apache.spark.sql.Column): Long = {
      val ranked = grid.withColumn("__k", key)
        .withColumn("__chunk", ntile(16).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("__k"))))
      Seq(col("x") < 4, col("y") < 4, col("z") < 4).map(p =>
        ranked.filter(p).select("__chunk").distinct().count()).max
    }
    val zw = worstChunks(ZOrder.zValueN(
      Seq(col("x"), col("y"), col("z")), bits = 4))
    val xw = worstChunks(col("x") * 256 + col("y") * 16 + col("z"))
    assert(zw < xw, s"z-order worst=$zw vs lexicographic worst=$xw")
  }

  test("z-ordered files bound the worst query dimension; 1-D sort does not") {
    import graft.io.ZOrder
    val grid = spark.range(64L * 64L).select(
      pmod(col("id"), lit(64)).as("x"),
      (col("id") / 64).cast("long").as("y"), col("id"))
    val zp = "/tmp/graft_ztest_z"
    val xp = "/tmp/graft_ztest_x"
    ZOrder.writeZOrdered(grid, zp, col("x"), col("y"), numFiles = 16, bits = 6)
    grid.repartitionByRange(16, col("x")).write.mode("overwrite").parquet(xp)
    def touched(p: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(p).filter(pred)
        .select(input_file_name()).distinct().count()
    val zWorst = math.max(touched(zp, col("x") < 8), touched(zp, col("y") < 8))
    val xWorst = math.max(touched(xp, col("x") < 8), touched(xp, col("y") < 8))
    assert(zWorst < xWorst, s"z=$zWorst xsort=$xWorst")
    // a true 2-D box is one compact z-range
    assert(touched(zp, col("x") < 8 && col("y") < 8) <= 2)
  }

  // ── interpolation ──────────────────────────────────────────────

  test("interpolate fills interior gaps linearly, leaves edges null") {
    val series = Seq(
      (0L, None), (1L, Some(1.0)), (2L, None), (3L, None),
      (4L, Some(4.0)), (5L, None))
      .toDF("bucket", "v")
    val out = Temporal.interpolate(series, Nil, "bucket", "v")
      .orderBy("bucket").select("v").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(None, Some(1.0), Some(2.0), Some(3.0),
      Some(4.0), None))
  }

  test("interpolate respects uneven bucket spacing and keys") {
    val series = Seq(
      ("a", 0L, Some(0.0)), ("a", 10L, None), ("a", 40L, Some(8.0)),
      ("b", 0L, Some(5.0)), ("b", 10L, None))
      .toDF("k", "bucket", "v")
    val out = Temporal.interpolate(series, Seq("k"), "bucket", "v")
      .orderBy("k", "bucket").select("v").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // a@10 = 0 + (8-0) * (10/40) = 2.0 ; b@10 has no next → null
    assert(out.toSeq == Seq(Some(0.0), Some(2.0), Some(8.0),
      Some(5.0), None))
  }
}
