package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift and association audits over corpus slices — the
  * "did this crawl batch change under me" checks a 100 TB ingest
  * pipeline runs between batches, and the slice-vs-slice comparisons a
  * curation report is built from. Extends the reference's per-series
  * anomaly surface (loudml/model.py threshold scans) with the
  * corpus-level statistical tests that operate on DISTRIBUTIONS, not
  * points.
  *
  * All three are exact, one-to-two-aggregation plans whose exchanges are
  * bounded by CARDINALITY (distinct values, bins, contingency cells) —
  * never by corpus size — and every mean/sum routes through
  * decimal(30,12) (house rule: order-independent, engine-reproducible).
  */
object Drift {

  /** Two-sample Kolmogorov–Smirnov distance of `vCol`, each `sliceCol`
    * group vs THE REST of the corpus: `D = max_v |F_g(v) − F_rest(v)|`
    * over the observed value grid. Returns `(slice, n_slice, n_rest,
    * ks)` — the standard "is this source/shard drawn from the same
    * distribution as everything else" audit.
    *
    * Exactness bound: the plan materializes the slice × distinct-value
    * grid, so this is for NUMERIC-BUT-DISCRETE columns (lengths, scores
    * rounded to fixed precision, counts) where |grid| = slices ×
    * distinct values stays table-shaped. For continuous high-cardinality
    * values at 100 TB, bin first and use [[psi]] — that's the scale
    * path, stated contract, same decision as exact-vs-LSH dedup.
    *
    * Needs ≥ 2 slices by construction: with one slice "the rest" is
    * empty and its CDF is 0/0 — the slice's `ks` comes back NaN, the
    * honest IEEE answer to an undefined comparison (kept rather than
    * masked; filter or validate upstream). */
  def ksDrift(df: DataFrame, sliceCol: String, vCol: String): DataFrame = {
    val cnt = df.groupBy(col(sliceCol).as("__s"), col(vCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    // full slice × value grid (missing cells = 0) via cross of the two
    // marginal dictionaries — both cardinality-bounded
    val slices = df.groupBy(col(sliceCol).as("__s"))
      .agg(count(lit(1)).as("__ns"))
    val values = df.select(col(vCol).as("__v")).distinct()
    val total = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("__s").orderBy("__v")
    slices.crossJoin(values)
      .join(cnt, Seq("__s", "__v"), "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(total))
      // per-value total count rides in via a value-keyed window over the
      // grid itself (grid has every (slice, value) cell, so a sum over
      // the value partition = the marginal count)
      .withColumn("__cv", sum(col("__c")).over(Window.partitionBy("__v")))
      .withColumn("__cumS", sum(col("__c")).over(w))
      .withColumn("__cumAll", sum(col("__cv")).over(w))
      .withColumn("__d",
        abs(col("__cumS").cast("double") / col("__ns").cast("double") -
          (col("__cumAll") - col("__cumS")).cast("double") /
            (col("__n") - col("__ns")).cast("double")))
      .groupBy(col("__s").as(sliceCol))
      .agg(first(col("__ns")).as("n_slice"),
        first(col("__n") - col("__ns")).as("n_rest"),
        max(col("__d")).as("ks"))
  }

  /** Population Stability Index of `vCol` per `sliceCol` group vs the
    * whole corpus, over `bins` equal-WIDTH bins of the global
    * [min, max] range (integer bin arithmetic — no percentile-edge
    * interpolation to disagree across engines), add-one smoothed so
    * empty bins stay finite:
    *
    *   psi = Σ_b (a_b − e_b) · ln(a_b / e_b),
    *   a_b = (c_slice,b + 1)/(n_slice + bins),  e_b analogously corpus-wide.
    *
    * The binned, streaming-friendly drift score (industry rule of thumb:
    * < 0.1 stable, > 0.25 shifted). This is the 100 TB path: two
    * cardinality-bounded aggs (slice × bins cells), no value grid. */
  def psi(df: DataFrame, sliceCol: String, vCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    binGrid(df, sliceCol, vCol, bins)
      .withColumn("__a",
        (col("__c") + 1).cast("double") / (col("__ns") + bins).cast("double"))
      .withColumn("__e",
        (col("__ct") + 1).cast("double") / (col("__n") + bins).cast("double"))
      .groupBy(col("__s").as(sliceCol))
      .agg(first(col("__ns")).as("n_slice"),
        dsum((col("__a") - col("__e")) * log(col("__a") / col("__e")))
          .as("psi"))
  }

  /** Gini concentration of row mass across `keyCol` groups (0 =
    * perfectly even, → 1 = one group owns everything) — the
    * domain-diversity audit a crawl report leads with (a corpus whose
    * token mass is 0.9-Gini concentrated in a handful of domains is a
    * memorization farm, whatever its size says). One row:
    * `(n_keys, total, gini)` via the rank formulation
    * `G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n` over counts sorted
    * ascending (ties contribute identically under any order, so the
    * key tie-break is for plan determinism, not the value).
    *
    * Scale: one keyed count agg, then the rank window runs over the
    * FREQUENCY-OF-FREQUENCY frame (one row per DISTINCT count value) —
    * ties all share a count, and Σ rank·x over a tie block has the
    * closed form x·(m·off + m(m+1)/2), so per-key ranking never
    * happens. Real count distributions have O(√tokens) distinct values;
    * the degenerate every-key-count-1 case (doc_id) — which used to
    * funnel the whole dictionary through one rank partition — is ONE
    * row. Every sum is exact integers through decimal, and the result
    * is bit-identical to the per-key rank formulation (ties contribute
    * identically under any order). */
  def gini(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__x"))
    val fof = counts.groupBy(col("__x")).agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // ranks off+1 .. off+m inside a tie block: Σ i·x = x·(m·off + T(m)),
    // T(m) = m(m+1)/2 — exact through decimal (m(m+1) is even, so the
    // division by 2 is lossless at any scale)
    val md = col("__m").cast("decimal(19,0)")
    val term = col("__x").cast("decimal(30,0)") *
      (md * col("__off").cast("decimal(19,0)") + md * (md + 1) / 2)
    fof.withColumn("__off", coalesce(sum(col("__m")).over(w), lit(0L)))
      .agg(
        sum(col("__m")).as("n_keys"),
        sum(col("__x") * col("__m")).as("total"),
        sum(term).cast("double").as("__s1"))
      .select(col("n_keys"), col("total"),
        ((lit(2.0) * col("__s1")) /
          (col("n_keys").cast("double") * col("total").cast("double")) -
          (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
          .as("gini"))
  }

  /** Jensen–Shannon divergence (nats, bounded [0, ln 2]) of `vCol` per
    * slice vs THE REST, over the same smoothed equal-width bins as
    * [[psi]]:
    *
    *   jsd = ½·Σ a·ln(a/m) + ½·Σ r·ln(r/m),  m = (a + r)/2
    *
    * PSI is unbounded and blows up on near-empty reference bins; JSD is
    * the bounded, symmetric companion a dashboard can threshold
    * globally. Same plan shape: cardinality-bounded aggs + the explicit
    * bin spine. */
  def jsDivergence(df: DataFrame, sliceCol: String, vCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val g = binGrid(df, sliceCol, vCol, bins)
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val a = (col("__c") + 1).cast("double") /
      (col("__ns") + bins).cast("double")
    val r = (col("__ct") - col("__c") + 1).cast("double") /
      (col("__n") - col("__ns") + bins).cast("double")
    val m = (a + r) / 2
    g.groupBy(col("__s").as(sliceCol))
      .agg(first(col("__ns")).as("n_slice"),
        ((dsum(a * log(a / m)) + dsum(r * log(r / m))) / 2).as("jsd"))
  }

  /** PSI of corpus `a` ("actual": the incoming crawl batch) against
    * corpus `b` ("expected": the standing corpus) — the TWO-FRAME form
    * of [[psi]] for batch-over-batch ingest monitoring. Bins are
    * equal-width over the UNION's [min, max] (both batches binned
    * identically), add-one smoothed, explicit spine. One row:
    * `(n_actual, n_expected, psi)`. */
  def psiBetween(a: DataFrame, b: DataFrame, vCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val tagged = a.select(lit("a").as("__s"), col(vCol))
      .unionByName(b.select(lit("b").as("__s"), col(vCol)))
    val g = binGrid(tagged, "__s", vCol, bins)
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    // per (bin): actual = the 'a' row's smoothed slice fraction;
    // expected = the 'b' row's. The grid carries both slices per bin.
    val act = g.filter(col("__s") === "a").select(col("__b"),
      col("__ns").as("__na"),
      ((col("__c") + 1).cast("double") /
        (col("__ns") + bins).cast("double")).as("__fa"))
    val exp = g.filter(col("__s") === "b").select(col("__b"),
      col("__ns").as("__nb"),
      ((col("__c") + 1).cast("double") /
        (col("__ns") + bins).cast("double")).as("__fb"))
    act.join(exp, "__b")
      .agg(first(col("__na")).as("n_actual"),
        first(col("__nb")).as("n_expected"),
        dsum((col("__fa") - col("__fb")) *
          log(col("__fa") / col("__fb"))).as("psi"))
  }

  /** Shared slice × bin grid with smoothing inputs: one row per
    * (slice, bin 0..bins-1) carrying `__c` (slice count in bin), `__ns`
    * (slice total), `__ct` (corpus count in bin), `__n` (corpus total).
    * Equal-width integer bins over the global [min, max]; explicit
    * spine keeps corpus-empty bins present. */
  private def binGrid(df: DataFrame, sliceCol: String, vCol: String,
      bins: Int): DataFrame = {
    val mm = df.agg(min(col(vCol)).cast("double").as("__lo"),
      max(col(vCol)).cast("double").as("__hi"))
    val binned = df.crossJoin(broadcast(mm))
      .withColumn("__b",
        least(lit(bins - 1), greatest(lit(0),
          floor((col(vCol).cast("double") - col("__lo")) * bins /
            (col("__hi") - col("__lo") + lit(1.0))).cast("int"))))
    val sliceBins = binned
      .groupBy(col(sliceCol).as("__s"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val sliceTot = binned.groupBy(col(sliceCol).as("__s"))
      .agg(count(lit(1)).as("__ns"))
    val corpusBins = binned.groupBy(col("__b"))
      .agg(count(lit(1)).as("__ct"))
    val total = binned.agg(count(lit(1)).as("__n"))
    val spine = total.select(col("__n"),
      explode(sequence(lit(0), lit(bins - 1))).as("__b"))
    sliceTot.crossJoin(broadcast(
      spine.join(corpusBins, Seq("__b"), "left").na.fill(0L, Seq("__ct"))))
      .join(sliceBins, Seq("__s", "__b"), "left")
      .na.fill(0L, Seq("__c"))
  }

  /** Smoothed reference bin fractions for [[psi]]-style comparisons
    * (and [[graft.streaming.StreamingDrift.psiStream]]'s `refFracs`):
    * add-one-smoothed corpus-wide fractions `(c_b + 1) / (n + bins)`
    * over the same equal-width binning, every bin present (empty bins
    * carry their smoothed floor). The collect is `bins`-sized —
    * index-scale, never data-scale. */
  def binFractions(df: DataFrame, vCol: String, lo: Double, hi: Double,
      bins: Int): Seq[Double] = {
    require(bins >= 2, "bins must be >= 2")
    val bin = least(lit(bins - 1), greatest(lit(0),
      floor((col(vCol).cast("double") - lit(lo)) * bins /
        lit(hi - lo + 1.0)).cast("int")))
    val counts = df.select(bin.as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    (0 until bins).map(b =>
      (counts.getOrElse(b, 0L) + 1).toDouble / (n + bins).toDouble)
  }

  /** Mutual information (nats) and Pearson χ² between two categorical
    * columns, one row out: `(n, cells, mi, chi2)` — "is lang independent
    * of source" style association audits over contingency tables.
    *
    *   mi  = Σ_xy (c_xy/n) · ln(n·c_xy / (c_x·c_y))   (observed cells)
    *   χ²  = Σ_xy (c_xy − E_xy)² / E_xy, E_xy = c_x·c_y/n  (ALL cells —
    *         zero-observation cells contribute E_xy, via the marginal
    *         cross grid)
    *
    * Everything inside ln is a ratio of exact integers; sums route
    * through decimal(30,12). Exchanges bounded by |X|·|Y| cells. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__cxy"))
    val mx = df.groupBy(col(xCol).as("__x")).agg(count(lit(1)).as("__cx"))
    val my = df.groupBy(col(yCol).as("__y")).agg(count(lit(1)).as("__cy"))
    val total = df.agg(count(lit(1)).as("__n"))
    val grid = mx.crossJoin(my).crossJoin(broadcast(total))
      .join(cells, Seq("__x", "__y"), "left")
      .na.fill(0L, Seq("__cxy"))
      .withColumn("__exp", // counts cast to double BEFORE multiplying —
        // long·long overflows at 100 TB marginal sizes
        (col("__cx").cast("double") * col("__cy").cast("double")) /
          col("__n").cast("double"))
    grid.agg(
      first(col("__n")).as("n"),
      count(lit(1)).as("cells"),
      dsum(when(col("__cxy") > 0,
        (col("__cxy").cast("double") / col("__n").cast("double")) *
          log((col("__n").cast("double") * col("__cxy").cast("double")) /
            (col("__cx").cast("double") * col("__cy").cast("double"))))
        .otherwise(lit(0.0))).as("mi"),
      dsum(((col("__cxy").cast("double") - col("__exp")) *
        (col("__cxy").cast("double") - col("__exp"))) / col("__exp"))
        .as("chi2"))
  }
}
