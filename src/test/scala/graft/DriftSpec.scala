package graft

import org.apache.spark.sql.functions._

import graft.operators.{Drift, Temporal}

/** Unit coverage for the drift/association/eval audits: KS distance,
  * PSI, mutual information + χ², OLS trend, and the seasonal-naive
  * forecast baseline. Each test pins a case with a hand-derivable
  * closed-form answer. */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  // ── KS ───────────────────────────────────────────────────────────────

  test("ksDrift: identical slices → 0; disjoint supports → 1") {
    val same = Seq.tabulate(40)(i => (if (i % 2 == 0) "a" else "b", i % 5))
      .toDF("src", "v") // both slices hold each value 0..4 exactly 4×
    val ks0 = Drift.ksDrift(same, "src", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(ks0("a") === 0.0 && ks0("b") === 0.0)
    val split = (Seq.fill(10)(("lo", 1)) ++ Seq.fill(10)(("hi", 9)))
      .toDF("src", "v") // disjoint: every lo value < every hi value
    val ks1 = Drift.ksDrift(split, "src", "v").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(ks1("lo") === ((10L, 10L, 1.0)))
    assert(ks1("hi") === ((10L, 10L, 1.0)))
  }

  // ── PSI ──────────────────────────────────────────────────────────────

  test("psi: single slice ≡ corpus → exactly 0; a shifted slice scores high") {
    val one = Seq.tabulate(50)(i => ("only", i)).toDF("src", "v")
    val z = Drift.psi(one, "src", "v", bins = 10).collect().head
    assert(z.getDouble(2) === 0.0) // a_b == e_b bin-for-bin
    // slice 'x' lives in the low half, 'y' in the high half
    val moved = (Seq.tabulate(30)(i => ("x", i % 10)) ++
      Seq.tabulate(30)(i => ("y", 90 + i % 10))).toDF("src", "v")
    val m = Drift.psi(moved, "src", "v", bins = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m("x") > 0.25 && m("y") > 0.25) // far past the 'shifted' bar
  }

  test("psi: corpus-empty middle bins still enter via the explicit spine") {
    // all mass in bins 0 and 9 — bins 1..8 have zero corpus-wide count
    val gap = (Seq.fill(20)(("a", 0)) ++ Seq.fill(20)(("b", 99)))
      .toDF("src", "v")
    val out = Drift.psi(gap, "src", "v", bins = 10).collect()
    assert(out.length === 2 && out.forall(r => !r.getDouble(2).isNaN))
  }

  test("gini: 0 for a uniform corpus, → 1 as one key takes everything; " +
      "textbook value on a known split") {
    import graft.operators.Drift
    val even = (1 to 4).flatMap(k => Seq.fill(10)(s"k$k")).toDF("k")
    val g0 = Drift.gini(even, "k").collect().head
    assert(g0.getLong(0) === 4L && g0.getLong(1) === 40L)
    assert(math.abs(g0.getDouble(2)) < 1e-12)
    // counts (1, 1, 1, 97): G = 2·(1+2+3+4·97)/(4·100) − 5/4 = 0.72
    val skewed = (Seq.fill(97)("hot") ++ Seq("a", "b", "c")).toDF("k")
    val g1 = Drift.gini(skewed, "k").collect().head
    assert(math.abs(g1.getDouble(2) - 0.72) < 1e-12)
  }

  test("gini: frequency-of-frequency rank ≡ per-key brute-force rank " +
      "on a ragged multiset; every-key-count-1 degenerate is exactly 0") {
    import graft.operators.Drift
    // ragged counts with heavy ties: 7×1, 3×2, 2×5, 1×11
    val counts = Seq.fill(7)(1) ++ Seq.fill(3)(2) ++ Seq.fill(2)(5) ++ Seq(11)
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)(f"k$i%02d")
    }
    val g = Drift.gini(rows.toDF("k").repartition(7), "k").collect().head
    // brute force: ranks over counts sorted asc (tie order irrelevant)
    val sorted = counts.sorted
    val n = sorted.length.toDouble
    val tot = sorted.sum.toDouble
    val s1 = sorted.zipWithIndex.map { case (x, i) => (i + 1.0) * x }.sum
    val want = 2.0 * s1 / (n * tot) - (n + 1.0) / n
    assert(g.getLong(0) === counts.length.toLong)
    assert(g.getLong(1) === counts.sum.toLong)
    assert(math.abs(g.getDouble(2) - want) < 1e-12)
    // doc_id shape (the old one-partition funnel case): every key once
    val ids = (1 to 100).map(i => f"d$i%03d").toDF("k")
    assert(Drift.gini(ids, "k").collect().head.getDouble(2) === 0.0)
  }

  test("theilSen: the keyless form fail-fasts past the point budget " +
      "with a message pointing at trendOls; keyed is hot-key guarded") {
    import graft.operators.Temporal
    val long = (0L until 50L).map(t => (t, t * 2.0)).toDF("t", "v")
    val e = intercept[IllegalArgumentException] {
      Temporal.theilSen(long, Nil, "t", "v", maxKeylessPoints = 49)
    }
    assert(e.getMessage.contains("trendOls"))
    // under the budget the keyless slope is exact
    val ok = Temporal.theilSen(long, Nil, "t", "v", maxKeylessPoints = 50)
      .collect().head
    assert(ok.getDouble(1) === 2.0)
    // the keyed form ignores the keyless point budget…
    val keyed = (0L until 50L).map(t => ("k", t, t * 2.0)).toDF("g", "t", "v")
    assert(Temporal.theilSen(keyed, Seq("g"), "t", "v",
      maxKeylessPoints = 1).collect().head.getDouble(2) === 2.0)
    // …but carries its own per-key pair budget: the hottest key's
    // n·(n−1)/2 gates the plan BEFORE the quadratic join launches
    val ke = intercept[IllegalStateException] {
      Temporal.theilSen(keyed, Seq("g"), "t", "v",
        maxPairsPerKey = 50L * 49 / 2 - 1)
    }
    assert(ke.getMessage.contains("trendOls") &&
      ke.getMessage.contains("maxPairsPerKey"))
    // exactly at the budget it runs (inclusive bound), slope exact;
    // a cold second key must not change the hottest-key verdict
    val two = keyed.unionByName(
      Seq(("cold", 0L, 1.0), ("cold", 1L, 9.0)).toDF("g", "t", "v"))
    val atCap = Temporal.theilSen(two, Seq("g"), "t", "v",
        maxPairsPerKey = 50L * 49 / 2).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(atCap("k") === 2.0 && atCap("cold") === 8.0)
    // maxPairsPerKey = 0 disables the pre-pass (priced-in opt-out)
    assert(Temporal.theilSen(keyed, Seq("g"), "t", "v",
      maxPairsPerKey = 0L).collect().head.getDouble(2) === 2.0)
    // empty keyed input: the guard's max-over-zero-keys must coalesce,
    // not NPE
    assert(Temporal.theilSen(keyed.filter(lit(false)), Seq("g"), "t", "v")
      .collect().isEmpty)
  }

  test("theilSenApprox: EXACTLY theilSen when n <= maxLag+1; still " +
      "robust to an outlier on a long series; gaps don't widen the " +
      "rank window") {
    import graft.operators.Temporal
    // n = 10 <= 16+1: every pair is inside the lag window → identical
    // n_pairs AND slope (seeded pseudo-random series, two keys)
    val rnd = new scala.util.Random(7)
    val small = (for (k <- Seq("a", "b"); t <- 0L until 10L)
      yield (k, t * 7, rnd.nextDouble() * 10)).toDF("g", "t", "v")
    val exact = Temporal.theilSen(small, Seq("g"), "t", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val approx = Temporal.theilSenApprox(small, Seq("g"), "t", "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(approx === exact)
    // long series, slope 2, one wild spike: the bounded-lag median
    // cannot be moved (the spike taints <= 2L of ~nL slopes)
    val long = (0L until 500L)
      .map(t => ("k", t, if (t == 250L) 1e6 else t * 2.0))
      .toDF("g", "t", "v")
    val r = Temporal.theilSenApprox(long, Seq("g"), "t", "v").collect().head
    assert(r.getDouble(2) === 2.0)
    // and it needs no pair budget: the same series trips exact theilSen
    intercept[IllegalStateException] {
      Temporal.theilSen(long, Seq("g"), "t", "v", maxPairsPerKey = 1000L)
    }
    // a data gap does not widen the window (ranks, not bucket deltas):
    // points at buckets 0..4 and 1000..1004 still pair across the gap
    // at rank distance <= 16 — 45 pairs for 10 points
    val gap = ((0L until 5L) ++ (1000L until 1005L))
      .map(t => ("k", t, t * 1.5)).toDF("g", "t", "v")
    val g = Temporal.theilSenApprox(gap, Seq("g"), "t", "v").collect().head
    assert(g.getLong(1) === 45L && g.getDouble(2) === 1.5)
  }

  test("jsDivergence: 0 for identical halves, near ln 2 for disjoint " +
      "supports, always within the bound") {
    val same = Seq.tabulate(40)(i => (if (i % 2 == 0) "a" else "b", i % 5))
      .toDF("src", "v")
    val j0 = Drift.jsDivergence(same, "src", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(j0.values.forall(v => math.abs(v) < 1e-12))
    val split = (Seq.fill(50)(("lo", 1)) ++ Seq.fill(50)(("hi", 99)))
      .toDF("src", "v")
    val j1 = Drift.jsDivergence(split, "src", "v").collect()
      .map(_.getDouble(2))
    assert(j1.forall(v => v > 0.5 && v <= math.log(2.0) + 1e-12))
  }

  test("psiBetween: batch ≡ itself → 0; a shifted batch scores loud") {
    val base = Seq.tabulate(60)(i => i % 100).toDF("v")
    val self = Drift.psiBetween(base, base, "v").collect().head
    assert(self.getLong(0) === 60L && self.getLong(1) === 60L)
    assert(self.getDouble(2) === 0.0) // identical smoothed fractions
    val shifted = Seq.tabulate(60)(i => 90 + i % 10).toDF("v")
    assert(Drift.psiBetween(shifted, base, "v").collect()
      .head.getDouble(2) > 0.25)
  }

  // ── MI / χ² ──────────────────────────────────────────────────────────

  test("mutualInfo: independence → mi = 0, χ² = 0; identity → ln|X| and n(k−1)") {
    // independent: all 4 combos equally likely
    val ind = Seq(("a","p"),("a","q"),("b","p"),("b","q"))
      .flatMap(Seq.fill(5)(_)).toDF("x", "y")
    val ri = Drift.mutualInfo(ind, "x", "y").collect().head
    assert(ri.getLong(0) === 20L && ri.getLong(1) === 4L)
    assert(math.abs(ri.getDouble(2)) < 1e-12)
    assert(math.abs(ri.getDouble(3)) < 1e-12)
    // identity mapping, uniform: mi = ln 2, χ² = n·(k−1) = 20
    val dep = Seq(("a","p"),("b","q")).flatMap(Seq.fill(10)(_)).toDF("x", "y")
    val rd = Drift.mutualInfo(dep, "x", "y").collect().head
    assert(math.abs(rd.getDouble(2) - math.log(2.0)) < 1e-12)
    assert(math.abs(rd.getDouble(3) - 20.0) < 1e-9)
  }

  // ── OLS trend ────────────────────────────────────────────────────────

  test("trendOls: degenerate x (one point) → NULL fit, never a 0/0 NaN") {
    import graft.operators.Temporal
    val one = Seq(("k", 5L, 3.0)).toDF("g", "x", "y")
    val r = Temporal.trendOls(one, Seq("g"), "x", "y").collect().head
    assert(r.getLong(1) === 1L)
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("theilSen / acf: a single-point series simply yields no row " +
      "for that key (no pairs, no crash)") {
    import graft.operators.Temporal
    val mixed = Seq(("solo", 0L, 1.0), ("pair", 0L, 1.0),
      ("pair", 1L, 2.0)).toDF("g", "t", "v")
    val ts = Temporal.theilSen(mixed, Seq("g"), "t", "v").collect()
      .map(_.getString(0)).toSet
    assert(ts === Set("pair"))
    val ac = Temporal.acf(mixed, Seq("g"), "t", "v", 2, 1L).collect()
      .map(_.getString(0)).toSet
    assert(ac === Set("pair"))
  }

  test("trendOls: exact fit on a perfect line; r2 NULL for constant y") {
    val line = (0L to 9L).map(t => ("k", t, 3.0 * t + 7.0))
      .toDF("g", "x", "y")
    val r = Temporal.trendOls(line, Seq("g"), "x", "y").collect().head
    assert(r.getLong(1) === 10L)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - 7.0) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
    val flat = (0L to 9L).map(t => ("k", t, 5.0)).toDF("g", "x", "y")
    assert(Temporal.trendOls(flat, Seq("g"), "x", "y")
      .collect().head.isNullAt(4))
  }

  // ── class balancing ──────────────────────────────────────────────────

  test("balanceClasses: every class lands exactly at the minority " +
      "count, deterministically; single class refused") {
    import graft.operators.Sampling
    val df = ((1L to 50L).map(i => ("big", i)) ++
      (100L to 107L).map(i => ("small", i))).toDF("c", "id")
    val out = Sampling.balanceClasses(df, "c", "id")
    val sizes = out.groupBy("c").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes === Map("big" -> 8L, "small" -> 8L))
    // deterministic: a re-run selects the identical ids
    val a = out.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.balanceClasses(df, "c", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    intercept[IllegalArgumentException] {
      Sampling.balanceClasses(df.filter(col("c") === "big"), "c", "id")
    }
  }

  // ── sigma clip ───────────────────────────────────────────────────────

  test("sigmaClip: re-estimation unmasks the spike a one-shot z-test " +
      "misses; maxIter truncates honestly") {
    import graft.operators.Temporal
    // 18 zeros + spikes 100 and 60: pass 1 removes only the 100 (the
    // spikes inflate σ enough to shield the 60); pass 2 catches the 60
    val pts = ((0 until 18).map(i => ("k", i.toLong, 0.0)) ++
      Seq(("k", 18L, 100.0), ("k", 19L, 60.0))).toDF("g", "t", "v")
    val flags = Temporal.sigmaClip(pts, Seq("g"), "t", "v",
        k = 2.5, maxIter = 5)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(flags(18L) && flags(19L))
    assert((0 until 18).forall(i => !flags(i.toLong)))
    // with maxIter = 1 the masked spike survives — the truncation is real
    val one = Temporal.sigmaClip(pts, Seq("g"), "t", "v",
        k = 2.5, maxIter = 1)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(one(18L) && !one(19L))
  }

  test("sigmaClip ≡ a brute-force Scala replay of the loop on a " +
      "random series") {
    import graft.operators.Temporal
    val rnd = new scala.util.Random(53)
    val ys = Vector.fill(60)(
      if (rnd.nextInt(10) == 0) rnd.nextDouble() * 500
      else rnd.nextDouble() * 10)
    val pts = ys.zipWithIndex.map { case (y, t) => ("k", t.toLong, y) }
    val got = Temporal.sigmaClip(pts.toDF("g", "t", "v"), Seq("g"),
        "t", "v", k = 2.0, maxIter = 10)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    // brute force (plain double math: removal decisions sit far from
    // the decimal routing's 1e-12 quantization on this data)
    var surv = ys.zipWithIndex.map { case (y, t) => t.toLong -> y }
    var it = 0
    var changed = true
    while (it < 10 && changed) {
      val mu = surv.map(_._2).sum / surv.size
      val m2 = surv.map(p => p._2 * p._2).sum / surv.size
      val sigma = math.sqrt(math.max(0.0, m2 - mu * mu))
      val next = surv.filter(p => math.abs(p._2 - mu) <= 2.0 * sigma)
      changed = next.size != surv.size
      surv = next; it += 1
    }
    val kept = surv.map(_._1).toSet
    ys.indices.foreach(t =>
      assert(got(t.toLong) === !kept.contains(t.toLong), s"t=$t"))
  }

  // ── skew report ──────────────────────────────────────────────────────

  test("skewReport: hot key surfaces with share and a mean-multiples " +
      "salt hint; ties break key-asc at the top-N edge") {
    import graft.operators.Skew
    // key 7 holds 12 of 20 rows over 5 distinct keys: share 0.6,
    // salts_hint = ceil(12·5/20) = 3; the other keys hold 2 each
    val df = (Seq.fill(12)(7L) ++ Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L))
      .toDF("k")
    val rows = Skew.skewReport(df, Seq("k"), topN = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.head === ((7L, 12L, 0.6, 3L)))
    // remaining slots: equal counts → smallest keys first
    assert(rows.map(_._1).toSeq === Seq(7L, 1L, 2L))
    assert(rows.tail.forall(r => r._2 == 2L && r._4 == 1L))
  }

  // ── seasonal-naive eval ──────────────────────────────────────────────

  test("seasonalNaiveEval: hand-computed MAE/RMSE/sMAPE; eval-window and " +
      "missing-baseline filters") {
    // period 10; history t=0,10,20 values 10,20,40; eval from t=20
    // → only t=20 scores (ŷ=20, y=40): e=20; t=30 absent (no actual)
    val s = Seq(("k", 0L, 10.0), ("k", 10L, 20.0), ("k", 20L, 40.0))
      .toDF("g", "t", "v")
    val r = Temporal.seasonalNaiveEval(s, Seq("g"), "t", "v",
      period = 10L, evalFrom = 20L).collect().head
    assert(r.getLong(1) === 1L)
    assert(math.abs(r.getDouble(2) - 20.0) < 1e-12)        // mae
    assert(math.abs(r.getDouble(3) - 20.0) < 1e-12)        // rmse
    assert(math.abs(r.getDouble(4) - 2.0 * 20 / 60) < 1e-12) // smape
    // a bucket whose t-period baseline is missing contributes nothing
    val gappy = s.union(Seq(("k", 35L, 9.9)).toDF("g", "t", "v"))
    assert(Temporal.seasonalNaiveEval(gappy, Seq("g"), "t", "v", 10L, 20L)
      .collect().head.getLong(1) === 1L)
  }
}
