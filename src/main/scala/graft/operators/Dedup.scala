package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora — the
  * training-data-pipeline extension mandated by BASELINE.json's north star
  * (beyond the reference's surface; the reference's only dedup is ES
  * doc-id = sha1(json) content hashing, /root/reference/loudml/elastic.py:398-401).
  *
  * Scale design:
  *  - exact dedup = one hash-partitioned window (or groupBy+join), shuffle
  *    keyed on the content hash → perfectly balanced unless one text
  *    dominates;
  *  - MinHash = explode(shingles) → ONE groupBy(doc) computing all H
  *    signature mins at once (map-side partial min, shuffle O(docs·H));
  *  - LSH banding turns all-pairs O(n²) into per-bucket candidate joins;
  *  - SimHash = 60 conditional-sum aggregates in one pass, near-dup =
  *    Hamming distance on 60-bit longs (bit_count(xor)) — cheap block join.
  *
  * Hashes that REACH AN OUTPUT or the oracle derive from md5 (not
  * Spark's murmur/xxhash) so results are engine-independent and
  * oracle-checkable in DuckDB. Purely INTERNAL keys — group/join keys
  * that never leave the operator, like the r14 ppjoin shingle hashes and
  * the n-gram span/coverage/novelty keys — may use xxhash64 (cheaper
  * codegen, no cross-engine replay needed); see README's guarantees
  * section for the shared ~2⁻⁶⁴-collision trust model.
  */
object Dedup {

  /** Content key for exact dedup (md5 of raw text). */
  def contentKey(c: Column): Column = md5(c)

  /** Exact dedup: keep the row with the smallest `tieBreak` per identical
    * `textCol`. One shuffle on the content hash. */
  def exact(df: DataFrame, textCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(contentKey(col(textCol))).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-group exact-duplication audit — the dedup REPORT a curation
    * run ships alongside its dedup pass: for each `groupCol` (source /
    * domain / shard), how many docs, how many distinct contents, the
    * duplicate ratio, and the worst single content's copy count.
    * Reading it answers "which domain is a mirror farm" before anyone
    * pays for a near-dup pass there.
    *
    * `dup_ratio = (n_docs − n_unique) / n_docs` — one exact-integer
    * division (engine-reproducible by construction).
    *
    * Scale shape: two stacked aggregations — (group, content-hash)
    * counts (map-side partials; a hash bounds its own copies), then a
    * group-keyed rollup whose exchange carries one row per DISTINCT
    * CONTENT, never per doc. No windows, no joins. */
  def dedupReport(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val perHash = df
      .groupBy(col(groupCol), contentKey(col(textCol)).as("__ck"))
      .agg(count(lit(1)).as("__copies"))
    perHash.groupBy(col(groupCol))
      .agg(sum(col("__copies")).cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        max(col("__copies")).cast("long").as("max_copies"))
      .withColumn("dup_ratio",
        (col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs").cast("double"))
  }

  /** Canonical-document selection: keep ONE representative per cluster,
    * chosen by the caller's preference order (e.g. quality DESC, id ASC —
    * always end with a unique column so the choice is total). The exact
    * keep-min policy ([[exact]], [[lshDedup]]) is this with `order =
    * Seq(col(id))`; real curation pipelines instead keep the LONGEST or
    * HIGHEST-QUALITY member of each near-dup family and drop the rest.
    *
    * `clusters` is any `(idCol, cluster_id)` labeling ([[nearDupClusters]],
    * [[connectedComponentsStar]], or an exact-hash grouping). Output: the
    * representative's full row plus `cluster_id` and `cluster_size`.
    *
    * Scale shape: one equi-join on the id (both sides pre-hashed on it)
    * and one window partitioned by `cluster_id` — the ranked and counted
    * frames share a single shuffle+sort (same partition spec). Cluster
    * skew bounds the partition, and near-dup clusters are small by
    * construction (a giant cluster means the corpus is one template —
    * that's a boilerplate problem upstream, not a layout problem here).
    */
  def selectRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String, order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "need at least one preference column")
    val joined = docs.join(clusters, idCol)
    val part = Window.partitionBy(col("cluster_id"))
    joined
      .withColumn("cluster_size", count(lit(1)).over(part))
      .withColumn("__rn", row_number().over(part.orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word n-gram shingles of a whitespace-tokenized text column — the
    * native one-pass kernel ([[graft.functions.WordShingles]]; history:
    * a `transform(sequence, i -> element_at(split(text), i)...)` lambda
    * re-evaluates the split per element (O(words²) per doc, 3-5× slower
    * at sf0.1); zipping n shifted `slice`s fixed that but still paid
    * per-shingle lambda binds and boxing outside whole-stage codegen —
    * shingling is the hottest kernel in the text-dedup family, so it
    * follows [[graft.functions.DotProduct]] into a native expression).
    *
    * Guarded: texts shorter than n tokens yield an empty array. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** Engine-independent 60-bit hash of a string: first 15 hex chars of md5
    * as a (positive) long. 60 bits keeps every bit op in signed-long-safe
    * territory in both Spark and DuckDB. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash signatures: one row per doc, columns sig_0..sig_{h-1}, where
    * sig_i = min over shingles of hash60(i || ':' || shingle).
    *
    * A signature is a PURE PER-ROW function of the text (min over the
    * shingle multiset ≡ min over the set), so this is a narrow map with
    * ZERO shuffles — the one-pass native kernel
    * [[graft.functions.MinHashSigs]] computes all h mins per row inside
    * whole-stage codegen. History: an explode(shingles) → groupBy(doc)
    * plan paid a full O(docs·h)-long exchange (map-side partial mins,
    * still an Exchange over every doc) for what never needed to leave
    * its input partition; at 100 TB that exchange was the largest cost
    * in the signature family. Docs with fewer than `shingleN` tokens
    * have no shingles and are dropped (groupBy-form parity). */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleN: Int = 3,
      extraCols: Seq[String] = Nil): DataFrame = {
    val sigs = graft.functions.MinHashSigs(col(textCol), shingleN, numHashes)
    // Generate barrier (explode of a 1-element array): the null filter
    // and the h element_at extracts must reference the kernel's OUTPUT
    // attribute, not the kernel expression — a plain select+filter
    // evaluates the kernel once in the Filter and once in the Project
    // (codegen CSE does not span operators), doubling the md5 work of
    // the whole signature family (measured ~2× per row at sf1)
    df.select(col(idCol) +: explode(array(sigs)).as("__sigs") +:
        extraCols.map(col): _*)
      .filter(col("__sigs").isNotNull)
      .select(col(idCol) +: ((0 until numHashes).map(i =>
        element_at(col("__sigs"), i + 1).as(s"sig_$i")) ++
        extraCols.map(col)): _*)
  }

  /** SimHash (60-bit) per doc over whitespace tokens (with multiplicity):
    * bit b of the signature is 1 iff Σ_tokens (±1 by bit b of hash60(tok))
    * is positive. Like [[minHashSignatures]], a pure per-row fold — the
    * native [[graft.functions.SimHash64]] kernel replaces the old
    * explode(tokens) → groupBy(doc).agg(60 conditional sums) plan (a full
    * token-level exchange) with a zero-shuffle narrow map. Null texts are
    * dropped (explode-form parity: explode of a null array emits no row). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.SimHash64(col(textCol)).as("simhash"))

  /** Near-duplicate pairs for ANY 64-bit Hamming-space signature column
    * (perceptual image dHash, audio sample-stream hash, SimHash),
    * ADAPTIVELY banded multi-index-hashing style: the hash is split
    * into the FEWEST bands that keep exact pigeonhole recall for the
    * requested radius — `b` bands guarantee two hashes within Hamming
    * distance ≤ b−1 agree on at least one whole band, so `maxHamming
    * ≤ 3` runs 4×16-bit bands (65,536 buckets/band), ≤ 1 runs 2×32,
    * 0 runs 1×64 (exact equality) and only the opt-in radius-[4,7]
    * mode pays the 8×8-bit split. Candidates come from band
    * equi-joins; verification is one codegen'd `bit_count(a XOR b)`
    * per candidate. Returns `(id_a, id_b, hamming)`, `id_a < id_b`.
    *
    * A band self-join on uniformly-distributed hashes has expected
    * candidate count b·N²/2^width/2 — quadratic in corpus size at any
    * fixed width — so the same two guards as [[ngramJaccardPairs]] and
    * `Similarity.cosineDedup` apply: `maxBucket` anti-joins hot
    * buckets out before the self-join (per-(band, key) counts
    * aggregated map-side, over-cap set broadcast), and
    * `maxCandidatePairs` fails fast with a remedy pointer when the
    * post-cap Σ C(bucket, 2) estimate exceeds the budget (ONE
    * checkpointed histogram pass serves both guards; pass ≤ 0 to skip
    * the eager job).
    *
    * `hashed` must be two columns (idCol, hashCol) with non-null
    * hashes; callers with an expensive upstream kernel should
    * materialize it first (the media tier localCheckpoints its decode
    * so the guard job and the two join sides never re-run it). */
  def hammingNearDups(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100000,
      maxCandidatePairs: Long = 100000000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "banding guarantees exact recall only for maxHamming <= 7 " +
        "(8 bands of 8 bits); use a coarser tier for larger radii")
    val nBands =
      if (maxHamming == 0) 1
      else if (maxHamming <= 1) 2
      else if (maxHamming <= 3) 4
      else 8
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val base = hashed.select(col(idCol).as("__id"),
      col(hashCol).as("__h"))
    val bands = base.select(col("__id"), col("__h"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("key",
        expr(s"(__h >> (band * $width)) & $mask"))
    val guarded =
      if (maxBucket == Int.MaxValue && maxCandidatePairs <= 0L) bands
      else {
        // ONE histogram pass serves both guards: map-side partial
        // counts collapse each task's band keys to one long per
        // (band, key); the checkpoint pins the counts so the over-cap
        // set below is no extra scan
        val counts = bands.groupBy("band", "key")
          .agg(count(lit(1)).as("__cnt"))
          .localCheckpoint(true)
        if (maxCandidatePairs > 0L) {
          // sum n·(n−1) as LONG (SQL `/` would widen to double) and
          // halve on the driver — n·(n−1) is always even; coalesce
          // because sum over ZERO buckets (empty input) is NULL
          val est = counts
            .agg(coalesce(sum(when(col("__cnt") <= maxBucket,
                col("__cnt") * (col("__cnt") - 1))
              .otherwise(lit(0L))), lit(0L)).as("est"))
            .head().getLong(0) / 2
          if (est > maxCandidatePairs) throw new IllegalStateException(
            s"hammingNearDups: estimated post-cap candidate volume $est " +
              s"exceeds maxCandidatePairs=$maxCandidatePairs at " +
              s"$nBands x $width-bit bands. Remedies: lower maxHamming " +
              "(wider bands => 2^width more buckets), lower maxBucket " +
              "(drops hot buckets before the join), or raise " +
              "maxCandidatePairs if the volume is priced in.")
        }
        if (maxBucket == Int.MaxValue) bands
        else {
          val overCap = counts.filter(col("__cnt") > maxBucket)
            .select("band", "key")
          bands.join(broadcast(overCap), Seq("band", "key"), "left_anti")
        }
      }
    val a = guarded.select(col("band"), col("key"),
      col("__id").as("id_a"), col("__h").as("__ha"))
    val b = guarded.select(col("band"), col("key"),
      col("__id").as("id_b"), col("__h").as("__hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs that share ≥1 shingle.
    * Blocking join on the shingle (set semantics), then
    * J = |A∩B| / (|A|+|B|−|A∩B|). `maxPerShingle` caps fan-out on
    * super-common shingles (the skew guard at 100 TB — a stop-phrase
    * shared by millions of docs must not produce a quadratic bucket).
    *
    * The guard itself must not be the skew: over-cap shingles are found
    * with a `groupBy(sh).count` over the RAW (pre-distinct) explode —
    * map-side partial counts, so a hot shingle contributes one long per
    * task, never one task holding every occurrence, and the counting pass
    * needs no `(id, shingle)` shuffle at all — and removed with a
    * broadcast anti-join of that tiny over-cap set. The cap therefore
    * bounds shingle OCCURRENCES, an upper bound on the per-shingle doc
    * list the next stage assembles — same guard, strictly more
    * conservative, and half the passes' shuffle cost. A `count().over(
    * Window.partitionBy(sh))` here would ship every occurrence of the hot
    * shingle to a single task BEFORE the filter could drop it.
    *
    * Approximation note: `sizes` uses UNCAPPED shingle sets while `inter`
    * counts only capped shingles, so J is undercounted for docs containing
    * over-cap shingles — a deliberate bias (pairs held together only by
    * stop-phrases shouldn't match) shared by the DuckDB oracle.
    *
    * Candidate-volume guard: the exact tier's cost is Σ_sh C(occ_sh, 2)
    * — quadratic in per-shingle density, so a clone-dense corpus (every
    * doc duplicated 10×) multiplies it 100× while leaving row counts
    * only 10× (measured: ~24 min at sf1 clone density vs 2.4 s at
    * sf0.1). Before building the pair plan, ONE cheap eager job (scan +
    * map-side partial counts, cached + 1-row agg of sums) estimates the
    * post-cap candidate volume from OCCURRENCE counts (≥ distinct-doc
    * counts, so the estimate is a sound upper trigger) and counts the
    * over-cap shingles. The over-cap SET is never collected to the
    * driver — est excludes over-cap shingles, so it does not bound that
    * set's size; instead the set is materialized from the cached counts
    * (no corpus re-scan) and anti-joined, broadcast only when its
    * counted size is driver/executor-safe. Above
    * `maxCandidatePairs` the call fails fast with a pointer to the
    * scale tiers ([[lshVerifiedPairs]] for all near-dup pairs,
    * [[topKJaccardPairs]] for the top pairs) instead of grinding out a
    * shuffle that is quadratically past its design point.
    *
    * Behavior note (guard added r6, single-job form r7): callers gain
    * one eager aggregation job per call and a new `IllegalStateException`
    * failure mode on corpora that previously (slowly) completed. Pass
    * `maxCandidatePairs <= 0` to keep the pre-guard behavior — no eager
    * job, no failure mode, over-cap set computed lazily (callers that
    * have already sized the corpus). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxPerShingle: Int = 1000,
      maxCandidatePairs: Long = 100000000L): DataFrame = {
    val raw = df.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleN)).as("sh"))
    // set semantics per doc WITHOUT a shuffle: a (id, sh) distinct can
    // only dedupe within one doc (id is part of the key), so
    // array_distinct before the explode — a narrow per-row op — is
    // equivalent to `.distinct()` and removes the widest exchange in the
    // plan entirely
    val sh = df.select(col(idCol).as("id"),
      explode(array_distinct(wordShingles(col(textCol), shingleN))).as("sh"))
    // |A| per doc = distinct shingle count, computed per ROW on the doc
    // scan (size∘array_distinct) — same value as counting the exploded
    // distinct frame, but with no shuffle and no recompute of the
    // explode+distinct subtree
    val sizes = df.select(col(idCol).as("id"),
      size(array_distinct(wordShingles(col(textCol), shingleN)))
        .cast("long").as("sz"))
    // intersections by inverting: group docs per shingle, then emit
    // in-list pairs and count per pair. The skew guard is TWO-PASS so the
    // guard itself never assembles the hot list it exists to drop:
    //   pass 1: groupBy(sh).count() on the RAW explode (no distinct!) —
    //           map-side partial counts collapse each task's occurrences
    //           to one long per shingle, so pass 1 is scan + tiny
    //           shuffle; occurrence count ≥ distinct-doc count, so the
    //           cap stays a sound bound on the stage-2 list;
    //   pass 2: broadcast anti-join the (tiny) over-cap shingle set out,
    //           THEN collect_list — every surviving per-shingle doc list
    //           is ≤ maxPerShingle by construction, so no aggregation
    //           buffer can exceed maxPerShingle ids.
    // A single-pass `collect_list → filter(size ≤ cap)` would merge every
    // occurrence of a stop-phrase into ONE reducer's buffer before the
    // filter could discard it (~800 MB for a shingle shared by 100M docs).
    // Guarded path: the per-shingle counts frame is persisted
    // (MEMORY_AND_DISK — O(vocabulary), distributed, spillable) and ONE
    // eager 1-row agg over it returns the candidate estimate AND the
    // over-cap shingle COUNT — sums only, nothing data-sized touches an
    // aggregation buffer or the driver. Note est alone does NOT bound
    // the over-cap set: over-cap shingles contribute 0 to est, so a
    // clone/stop-phrase-dense corpus can pass the guard with est=0
    // while its over-cap set is huge — which is why the set is never
    // collected. When the count is non-zero the set is materialized off
    // the CACHED counts via localCheckpoint (no second corpus scan) and
    // anti-joined — broadcast when small, shuffle anti-join when not —
    // then the cache is released. With the guard disabled (≤ 0) nothing
    // runs eagerly and the over-cap set is computed lazily as before.
    val capped: DataFrame =
      if (maxCandidatePairs > 0) {
        val counts = raw.groupBy("sh").agg(count(lit(1)).as("__cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // DIV keeps the per-shingle term integral; cnt ≤ corpus rows and
          // the cap bounds each term by C(cap,2), so the long sum can't
          // overflow for any corpus this JVM could enumerate pairs for
          val g = counts.agg(
            coalesce(sum(when(col("__cnt") <= maxPerShingle,
              expr("__cnt * (__cnt - 1) DIV 2")).otherwise(lit(0L))),
              lit(0L)).as("__est"),
            count(when(col("__cnt") > maxPerShingle, lit(1))).as("__overCnt"))
            .head()
          val est = g.getLong(0)
          val overCnt = g.getLong(1)
          if (est > maxCandidatePairs)
            throw new IllegalStateException(
              s"ngramJaccardPairs: estimated candidate volume $est exceeds " +
                s"maxCandidatePairs=$maxCandidatePairs — the exact all-pairs " +
                "tier is quadratically past its design point on this corpus. " +
                "Use Dedup.lshVerifiedPairs (banded LSH + exact verify) for " +
                "near-dup pairs, Dedup.topKJaccardPairs for the top pairs, " +
                "or raise/disable maxCandidatePairs if the cost is intended.")
          if (overCnt == 0L) sh
          else {
            // materialized eagerly so unpersisting the counts cache below
            // cannot trigger a corpus re-scan when the pair plan executes
            val over = counts.filter(col("__cnt") > maxPerShingle)
              .select("sh").localCheckpoint(true)
            val overSide =
              if (overCnt <= 1000000L) broadcast(over) else over
            sh.join(overSide, Seq("sh"), "left_anti")
          }
        } finally counts.unpersist(false)
      } else {
        val overCap = raw.groupBy("sh").agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > maxPerShingle)
          .select("sh")
        sh.join(broadcast(overCap), Seq("sh"), "left_anti")
      }
    val inter = capped
      .groupBy("sh").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> " +
          "struct(a AS id_a, b AS id_b)))), p -> p.id_a < p.id_b)")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
  }

  /** Benchmark-contamination check — the train/test-overlap audit every
    * large-scale training pipeline needs before trusting an eval score:
    * for each probe (benchmark) document, the fraction of its distinct
    * word n-gram shingles that appear ANYWHERE in the training corpus.
    * `containment` near 1 ⇒ the benchmark doc leaked into training data
    * (the n-gram-overlap decontamination rule popularized by the GPT-3 /
    * C4 dataset reports).
    *
    * Scale shape: the corpus collapses to its DISTINCT shingle set (one
    * groupBy, map-side partials; the set is bounded by vocabulary, not
    * corpus row count) and the probe side left-semi joins it keyed on the
    * shingle — never a doc×doc product, and the build side carries each
    * shingle once so a stop-phrase cannot fan out. Probe sizes are
    * computed per ROW on the probe scan (size∘array_distinct), no second
    * aggregation. */
  def contamination(
      probe: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    // probe set semantics are per doc → array_distinct (narrow), no
    // shuffle; the corpus distinct is genuinely cross-doc (one shingle
    // column), kept — map-side partial dedup bounds its exchange by
    // vocabulary, and array_distinct first shrinks the explode
    val p = probe.select(col(idCol).as("probe_id"),
      explode(array_distinct(wordShingles(col(textCol), shingleN))).as("sh"))
    val c = corpus
      .select(explode(array_distinct(wordShingles(col(textCol), shingleN)))
        .as("sh")).distinct()
    val hits = p.join(c, Seq("sh"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    val sizes = probe.select(col(idCol).as("probe_id"),
      size(array_distinct(wordShingles(col(textCol), shingleN)))
        .cast("long").as("n_sh"))
    sizes.join(hits, Seq("probe_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("containment",
        when(col("n_sh") > 0, col("n_hit").cast("double") / col("n_sh"))
          .otherwise(lit(0.0)))
  }

  /** LSH band keys from a signature frame: one row per (doc, band), key =
    * md5 of the concatenated band slice. GroupBy bandKey gives candidate
    * buckets; docs sharing any band key are near-dup candidates. */
  /** Band-count planner for the LSH tier: choose `(bands, rowsPerBand)`
    * with bands·rows = `numHashes` so the S-curve
    * `P(match | similarity s) = 1 − (1 − s^rows)^bands` steps as close
    * to the target τ as possible (the MMDS ch.3 tuning recipe, public).
    *
    * The error integrates the curve's miss mass ABOVE τ (false
    * negatives — a missed near-dup stays in the corpus forever) and its
    * catch mass BELOW τ (false positives — only wasted verify work,
    * since the verify step is exact), with FNs weighted `fnWeight`×
    * because the two costs are not symmetric. Deterministic midpoint
    * quadrature; ties prefer fewer rows per band (cheaper band keys).
    *
    * Driver-side pure math over ≤ numHashes divisor pairs — nothing
    * distributed; feed the result straight to [[lshBandKeys]] /
    * [[lshDedup]]. */
  def lshPlan(numHashes: Int, tau: Double,
      fnWeight: Double = 10.0): (Int, Int) = {
    require(numHashes >= 1, "numHashes must be >= 1")
    require(tau > 0.0 && tau < 1.0, "tau must be in (0,1)")
    val pairs = (1 to numHashes)
      .filter(numHashes % _ == 0).map(r => (numHashes / r, r))
    def err(b: Int, r: Int): Double = {
      val n = 400
      var e = 0.0
      var i = 0
      while (i < n) {
        val s = (i + 0.5) / n
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        e += (if (s >= tau) fnWeight * (1.0 - p) else p)
        i += 1
      }
      e / n
    }
    pairs.minBy { case (b, r) => (err(b, r), r) }
  }

  def lshBandKeys(sigs: DataFrame, idCol: String, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPer = numHashes / bands
    require(rowsPer * bands == numHashes, "bands must divide numHashes")
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPer).map(r => col(s"sig_${b * rowsPer + r}"))
      struct(lit(b).as("band"),
        md5(concat_ws("_", slice: _*)).as("key"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("band_key"))
  }

  /** End-to-end LSH dedup — the 100 TB near-dup path: MinHash signatures
    * → band keys → candidate pairs (docs sharing any band bucket; a
    * bucket join, never all-pairs) → verify candidates by estimated
    * Jaccard (signature agreement ≥ τ) → survivor set by the keep-min
    * rule (a doc is dropped iff it has a verified neighbor with a smaller
    * id — one pass, no connected components; transitive chains collapse
    * to their minimum over repeated application, which single-pass
    * approximates from the min side).
    *
    * Shuffles: explode/distinct on shingles, one groupBy for signatures,
    * one self-join keyed on (band, band_key) — bucket sizes are n/2^bits
    * expected, and a hot bucket is bounded by banding width, not corpus
    * size. The final filter is a broadcast anti-join of the removed-id
    * set when it is small, a shuffled anti-join otherwise (left to AQE).
    *
    * `maxBucket` (off by default) is the belt-and-braces skew guard for
    * template-heavy corpora where one band key collects millions of
    * near-identical docs: same two-pass shape as [[ngramJaccardPairs]]'s
    * `maxPerShingle` — per-(band, band_key) counts first (map-side
    * partials), then a broadcast anti-join of the tiny over-cap key set
    * BEFORE the candidate self-join, so one hot bucket can never emit a
    * quadratic pair list. Docs whose EVERY band is over-cap escape dedup
    * (recall sacrificed by the guard, never memory).
    */
  def lshDedup(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucket: Int = Int.MaxValue): DataFrame = {
    val removed = lshVerifiedPairs(
      df, idCol, textCol, numHashes, bands, shingleN, tau, maxBucket)
      .select(col("id_b").as(idCol))
      .distinct()
    df.join(removed, Seq(idCol), "left_anti")
  }

  /** Verified near-dup pairs `(id_a < id_b)` from the banded-LSH pipeline
    * — the shared candidate stage of [[lshDedup]] (keep-min survivor set)
    * and [[nearDupClusters]] (connected components). Multiplicity: the
    * capped path emits a pair once PER AGREEING BAND (≤ bands); the
    * uncapped (collapsed) path emits expansion pairs once, with rep
    * pairs still band-multiplied. Consumers dedupe on the projection
    * they need — keep-min needs only `distinct(id_b)`, cheaper than
    * deduping full pairs first. */
  def lshVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucket: Int = Int.MaxValue): DataFrame = {
    if (maxBucket != Int.MaxValue)
      // capped path: the bucket cap deliberately trades recall on hot
      // buckets, and a duplicate group of size m occupies every one of
      // its band buckets m-fold — collapsing first would resurrect
      // pairs the cap contract drops, so the capped path stays
      // collapse-free (specs pin the cap behavior)
      return rawVerifiedPairs(df, idCol, textCol, numHashes, bands,
        shingleN, tau, maxBucket)
    // EXACT-DUP PRE-COLLAPSE (the jaccardJoin argument, sig-tier):
    // identical texts have identical signatures, so clone cliques make
    // every band bucket quadratic in duplicity. Band one representative
    // per distinct text, expand pairs back through the groups —
    // output-sized keyed joins, exact (agreement(identical) = 1 ≥ τ).
    // columnar persist + eager result checkpoint + finally-release
    // (see the cache-protocol note in jaccardJoin): the persisted
    // frames feed several consumers with PRUNED scans, and no
    // CacheManager entry outlives the call.
    val hashed = df.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .withColumn("__h", md5(col(textCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first(text) grouped on md5(text) is deterministic BY VALUE —
    // every row in the group carries the identical string
    val reps = hashed.groupBy("__h")
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol),
        count(lit(1)).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // group sizes ride the band-join payload (+1 long per row), so rep
    // pairs come out with __ma/__mb attached at zero extra joins and
    // [[expandRepPairs]] can route singleton-only pairs straight through
    val repPairs = rawVerifiedPairs(reps, idCol, textCol, numHashes,
      bands, shingleN, tau, maxBucket, carry = Seq("__m"))
    expandRepPairs(repPairs, hashed, reps, idCol, payload = Nil,
        directional = false)
      .unionByName(withinGroupPairs(hashed, reps, idCol, textCol,
        shingleN, payload = None, directional = false))
      .localCheckpoint(true)
    } finally {
      reps.unpersist(false); hashed.unpersist(false)
    }
  }

  /** `carry`: extra per-doc columns threaded through the band join and
    * emitted as `<name minus leading "__">a/b`-style `__{c}a`…: each
    * carried column `__m` appears on the output as `__ma` / `__mb` —
    * +8 bytes of join payload instead of two corpus-scale attach joins
    * downstream (the collapse path's group sizes). */
  private def rawVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleN: Int,
      tau: Double, maxBucket: Int, carry: Seq[String] = Nil): DataFrame = {
    val allKeyed = bandKeyedSigs(df, idCol, textCol, numHashes, bands,
      shingleN, carry)
    val keyed =
      if (maxBucket == Int.MaxValue) allKeyed
      else allKeyed.join(
        broadcast(overCapKeys(allKeyed, maxBucket)),
        Seq("band", "band_key"), "left_anti")
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(sigAgreement(numHashes) >= tau)
      .select(col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}a"),
          col(s"b.$c").as(s"${c}b"))): _*)
  }

  /** Band keys WITH the signature struct riding along: the verify stage
    * reads both sides' signatures straight off the candidate join, so the
    * shingle→signature pipeline appears exactly once per join side in the
    * plan (instead of once for the band join plus once per sig lookup).
    * Payload is numHashes longs per row — cheap shuffle. Shared by the
    * self-join ([[lshVerifiedPairs]]) and cross-corpus
    * ([[lshDedupAgainst]]) candidate stages. */
  private def bandKeyedSigs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleN: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleN,
      carry)
    val rowsPer = numHashes / bands
    require(rowsPer * bands == numHashes, "bands must divide numHashes")
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPer).map(r => col(s"sig_${b * rowsPer + r}"))
      struct(lit(b).as("band"), md5(concat_ws("_", slice: _*)).as("key"))
    }
    sigs.withColumn("bk", explode(array(bandCols: _*)))
      .select(col(idCol) +: col("bk.band").as("band") +:
        col("bk.key").as("band_key") +:
        struct((0 until numHashes).map(i => col(s"sig_$i")): _*).as("sig") +:
        carry.map(col): _*)
  }

  /** Fraction of agreeing signature rows between join sides `a`/`b`. */
  private def sigAgreement(numHashes: Int): Column =
    (0 until numHashes)
      .map(i => when(col(s"a.sig.sig_$i") === col(s"b.sig.sig_$i"), 1)
        .otherwise(0))
      .reduce(_ + _).cast("double") / lit(numHashes.toDouble)

  /** Tiny (band, band_key) set whose bucket exceeds `maxBucket` rows. */
  private def overCapKeys(keyed: DataFrame, maxBucket: Int): DataFrame =
    keyed.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxBucket)
      .select("band", "band_key")

  /** Incremental (cross-corpus) LSH dedup — the "today's crawl vs the
    * existing corpus" shape: drop from `incoming` every doc whose
    * estimated Jaccard (signature agreement) against ANY `corpus` doc
    * reaches `tau`. Same banding/verify machinery as [[lshDedup]], but the
    * candidate stage is an equi-join BETWEEN the two corpora's band keys,
    * so cost is |incoming|·(hits per band bucket), never |corpus|².
    *
    * Scale shape: the corpus side's band-keyed signatures are a pure
    * per-row projection of the corpus (zero-shuffle signatures), so the
    * only exchanges are the candidate equi-join's two hash partitions and
    * the final anti-join — identical to appending the crawl to the corpus
    * and re-running full dedup, minus the corpus×corpus quadrant it would
    * redundantly re-verify. The bucket cap is measured on the CORPUS side
    * (the big side — a hot template bucket there is what explodes the
    * join) and removes that key from both sides; per surviving incoming
    * row the join fan-out is then ≤ bands·maxBucket.
    */
  def lshDedupAgainst(
      incoming: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucket: Int = Int.MaxValue): DataFrame = {
    val inKeyed = bandKeyedSigs(incoming, idCol, textCol,
      numHashes, bands, shingleN)
    val corpKeyed = bandKeyedSigs(corpus, idCol, textCol,
      numHashes, bands, shingleN)
    val (inSide, corpSide) =
      if (maxBucket == Int.MaxValue) (inKeyed, corpKeyed)
      else {
        val overCap = broadcast(overCapKeys(corpKeyed, maxBucket))
        (inKeyed.join(overCap, Seq("band", "band_key"), "left_anti"),
          corpKeyed.join(overCap, Seq("band", "band_key"), "left_anti"))
      }
    val matched = inSide.as("a")
      .join(corpSide.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key"))
      .filter(sigAgreement(numHashes) >= tau)
      .select(col(s"a.$idCol").as(idCol))
      .distinct()
    incoming.join(matched, Seq(idCol), "left_anti")
  }

  /** Exact anti-join with a Bloom prefilter — membership against a key
    * set too large to broadcast (corpus content fingerprints, seen-URL
    * tables). A Bloom "no" is definitive, so only the tiny might-contain
    * fraction (true matches + fpp of the rest) pays the exact shuffled
    * anti-join; everything else passes with a narrow codegen'd filter.
    * Result is EXACT (the filter never decides membership alone):
    * bloom-negatives ∪ (bloom-positives anti-join keys).
    *
    * The built filter is driver-materialized and rides the probe plan as
    * a literal — same tradeoff as any broadcast build side (sized by
    * `numBits`, e.g. 1e9 keys @1% ≈ 1.2 GB; size to the real key count).
    */
  def bloomAntiJoin(df: DataFrame, keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomExprs
    val bloomRow = keys
      .agg(BloomExprs.bloomAgg(col(keyCol), expectedItems, fpp).as("bf"))
      .head()
    if (bloomRow.isNullAt(0)) df // empty key set: nothing to remove
    else {
      val bytes = bloomRow.getAs[Array[Byte]](0)
      val maybe = df.filter(BloomExprs.mightContain(bytes, col(keyCol)))
      val clear = df.filter(!BloomExprs.mightContain(bytes, col(keyCol)))
      clear.unionByName(maybe.join(keys, Seq(keyCol), "left_anti"))
    }
  }

  /** Incremental EXACT dedup: drop incoming docs whose content hash
    * already exists in the corpus, via [[bloomAntiJoin]] on the md5
    * content key — so at 100 TB the corpus fingerprint set is consulted
    * by a narrow filter and only candidate rows shuffle. */
  def exactDedupAgainst(incoming: DataFrame, corpus: DataFrame,
      textCol: String, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val keyed = incoming.withColumn("__ck", contentKey(col(textCol)))
    val corpusKeys = corpus.select(contentKey(col(textCol)).as("__ck")).distinct()
    bloomAntiJoin(keyed, corpusKeys, "__ck", expectedItems, fpp).drop("__ck")
  }

  /** EXACT similarity self-join: every pair with shingle-set Jaccard
    * ≥ `tau`, with no recall loss — the deterministic complement to
    * [[lshVerifiedPairs]] (probabilistic recall) and
    * [[ngramJaccardPairs]] (whose per-shingle cap trades recall for
    * skew safety). Uses PPJoin-style prefix filtering (Xiao et al.,
    * WWW'08): order each doc's shingles by a global canonical order
    * (document frequency ascending, then shingle — rarest first); if
    * J(A,B) ≥ τ the two sets MUST share a token within each one's first
    * `|x| − ⌈τ·|x|⌉ + 1` tokens, so candidates come from an equi-join on
    * PREFIX tokens only, plus the length filter
    * `min(|A|,|B|) ≥ τ·max(|A|,|B|)`.
    *
    * Scale shape: candidate buckets are keyed by each doc's RAREST
    * shingles by construction (df-ascending prefix), so stop-phrase
    * buckets never form — the skew the inverted-index plan must cap away
    * is designed out, at the cost of one vocabulary-bounded df
    * aggregation and one per-doc window (partition = one doc's
    * vocabulary). The verify stage joins per-doc sorted shingle arrays
    * (buffer bounded by document length) and computes exact
    * intersection; every shuffle is keyed by doc id or shingle.
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      tau: Double, shingleN: Int = 3, maxDupGroup: Int = 100000)
      : DataFrame = {
    // EXACT-DUPLICATE PRE-COLLAPSE: real crawls (and the 10×-clone sf1
    // corpus) are full of byte-identical texts, and running the PPJoin
    // over every copy verifies each clone clique pairwise — quadratic
    // work for pairs whose jaccard is 1.0 by construction. Collapse to
    // one representative per distinct text, PPJoin the representatives,
    // then expand pairs back through the duplicate groups with keyed
    // joins — the expansion is OUTPUT-sized, never candidate-sized.
    // Identical texts have identical shingle sets, so a member pair's
    // true jaccard equals its representatives' — the expansion is
    // exact, not an approximation. Measured: 52.6 s → ~7 s on the
    // clone-dense sf1 corpus; no-dup corpora pay one md5 + one
    // hash-keyed agg.
    // Cache protocol (the r9 lesson, measured at sf0.1): Dataset.persist
    // keeps these multi-consumer intermediates as a COLUMNAR cache that
    // downstream scans prune (consumers of `hashed` that only read
    // (__h, id) never deserialize the text payload), where a
    // localCheckpoint stores full row blocks and walls off Catalyst —
    // swapping persist for checkpoints here cost 4.9× on q_edit_join.
    // The app-lifetime CacheManager leak is closed differently: the
    // RESULT (pair-sized) is eagerly checkpointed while the caches are
    // alive, and every intermediate is unpersisted in the finally — no
    // entry outlives the call.
    val hashed = df
      .select(col(idCol).as("__jid"), col(textCol).as("__jtext"))
      .filter(col("__jtext").isNotNull)
      .withColumn("__h", md5(col("__jtext")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first(text) under a groupBy on md5(text) is deterministic BY VALUE:
    // every row in the group carries the identical string (md5 collision
    // would be needed to break this — same assumption as contentKey)
    val reps = hashed.groupBy("__h")
      .agg(min(col("__jid")).as("__jid"),
        first(col("__jtext")).as("__jtext"), count(lit(1)).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ranked frame still materializes ONCE for both candidate-join
    // sides + verify sets (the exchange-reuse lesson documented at
    // ppjoinFromRanked); it is representative-sized
    val ranked = ppjoinRanked(reps, "__jid", "__jtext", shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // within-group output is C(m, 2) — quadratic in duplicity, so a
    // pathological corpus (10⁶ copies of one text) must fail fast with
    // the remedy, not emit 5·10¹¹ rows (one tiny job over the persisted
    // reps agg). max over zero rows is NULL — an empty/all-null-text
    // input flows through as the empty frame, not an NPE.
    val maxM = maxGroupSize(reps)
    if (maxM > maxDupGroup)
      throw new IllegalArgumentException(
        s"a text has $maxM exact copies (> maxDupGroup=$maxDupGroup): " +
          "the within-group pair output alone is quadratic — run " +
          "Dedup.exact first, or raise maxDupGroup deliberately")
    // group sizes attach to the PAIR-sized rep pairs (two pair×rep
    // joins), then [[expandRepPairs]] routes singleton-only pairs
    // straight through and expands only dup-touching ones — the old
    // shape ran every pair through 4 corpus-scale member joins
    val repPairs = attachGroupSizes(ppjoinFromRanked(ranked, tau),
      reps, "__jid")
    // within-group pairs: jaccard 1.0 by identity — but ONLY for texts
    // that shingle at all (sub-n-token docs have empty sets and never
    // pair in the uncollapsed plan or the oracle)
    // eager: the whole pipeline runs NOW, while the caches above are
    // alive; the returned frame reads its own pair-sized blocks
    expandRepPairs(repPairs, hashed, reps, "__jid",
        payload = Seq("jaccard"), directional = false)
      .unionByName(withinGroupPairs(hashed, reps, "__jid", "__jtext",
        shingleN, payload = Some(("jaccard", 1.0)), directional = false))
      .localCheckpoint(true)
    } finally {
      ranked.unpersist(false); reps.unpersist(false)
      hashed.unpersist(false)
    }
  }

  /** Directional set-containment self-join: every ORDERED pair
    * `(id_a, id_b)`, a ≠ b, with `|Sa ∩ Sb| / |Sa| ≥ τ` over the same
    * word-shingle sets as [[jaccardJoin]] — the asymmetric sibling the
    * symmetric join structurally misses: a short doc fully quoted
    * inside a long page has containment 1.0 but Jaccard ≈ |Sa|/|Sb|
    * (arbitrarily small), which is exactly the partial-scrape /
    * quotation / template-embedding case a crawl dedup needs.
    *
    * Scale shape (prefix filtering adapted to containment — the
    * SSJoin/ProbeCount line, Chaudhuri et al. ICDE'06, public
    * literature):
    *  - only the CONTAINED side carries a prefix: if containment ≥ τ
    *    then B misses at most |A| − ⌈τ|A|⌉ of A's shingles, so A's
    *    |A| − ⌈τ|A|⌉ + 1 rarest (global df-ascending — [[ppjoinRanked]]
    *    order) must hit B — candidates come from A.prefix ⋈ B.ALL
    *    postings; the container side has no prefix bound by nature of
    *    the predicate, but the probing side's tokens are rare by
    *    construction so posting lists stay short;
    *  - join-condition pruning: size bound |B| ≥ ⌈τ|A|⌉ (overlap can't
    *    exceed |B|) and the positional bound
    *    1 + min(|A|−rank_a, |B|−rank_b) ≥ ⌈τ|A|⌉ (canonical global
    *    order is shared, so the first common token's tail bounds the
    *    overlap — any-row-passes semantics keep it sound);
    *  - exact-duplicate pre-collapse exactly as [[jaccardJoin]]
    *    (identical texts ⇒ identical sets ⇒ member containment equals
    *    representative containment; expansion is DIRECTIONAL — no
    *    least/greatest canonicalization);
    *  - verify: exact codegen'd two-pointer intersect over sorted sets.
    * Cache protocol identical to [[jaccardJoin]] (persist columnar
    * intermediates, eager-checkpoint the pair-sized result, release in
    * `finally`). */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      tau: Double, shingleN: Int = 3, maxDupGroup: Int = 100000)
      : DataFrame = {
    val hashed = df
      .select(col(idCol).as("__jid"), col(textCol).as("__jtext"))
      .filter(col("__jtext").isNotNull)
      .withColumn("__h", md5(col("__jtext")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = hashed.groupBy("__h")
      .agg(min(col("__jid")).as("__jid"),
        first(col("__jtext")).as("__jtext"), count(lit(1)).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = ppjoinRanked(reps, "__jid", "__jtext", shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxM = maxGroupSize(reps)
      if (maxM > maxDupGroup)
        throw new IllegalArgumentException(
          s"a text has $maxM exact copies (> maxDupGroup=$maxDupGroup): " +
            "the within-group ORDERED pair output alone is quadratic — " +
            "run Dedup.exact first, or raise maxDupGroup deliberately")
      // directional expansion: (every member of A's group) contained in
      // (every member of B's group); groups are disjoint so ids differ.
      // Group sizes attach to the pair-sized rep pairs, then
      // [[expandRepPairs]] expands only dup-touching pairs (the old
      // shape ran every pair through 4 corpus-scale member joins)
      val repPairs = attachGroupSizes(containmentFromRanked(ranked, tau),
        reps, "__jid")
      // within-group: identical nonempty sets contain each other both
      // ways — m(m−1) ordered pairs at containment 1.0
      expandRepPairs(repPairs, hashed, reps, "__jid",
          payload = Seq("containment"), directional = true)
        .unionByName(withinGroupPairs(hashed, reps, "__jid", "__jtext",
          shingleN, payload = Some(("containment", 1.0)),
          directional = true))
        .localCheckpoint(true)
    } finally {
      ranked.unpersist(false); reps.unpersist(false)
      hashed.unpersist(false)
    }
  }

  /** Subset-document removal: drop every doc whose shingle set is
    * τ-contained in a STRICTLY LARGER doc's (or an equal-sized doc's
    * with a smaller id — the deterministic tie-break that keeps exactly
    * one of a mutually-contained pair, e.g. exact clones). The
    * keep-maximal filter a crawl runs after [[containmentJoin]]: quotes,
    * partial scrapes, and template-embedded copies collapse into their
    * containers while the containers survive.
    *
    * One containment join + one id-keyed anti-join — pair-sized work on
    * top of the join itself. Docs with no shingles (sub-n-token) never
    * pair, hence always survive, matching the join's semantics. */
  def dropContained(df: DataFrame, idCol: String, textCol: String,
      tau: Double, shingleN: Int = 3, maxDupGroup: Int = 100000)
      : DataFrame = {
    val pairs = containmentJoin(df, idCol, textCol, tau, shingleN,
      maxDupGroup)
    // r15 (guide §1.2): sizes are only ever consulted for PAIR
    // ENDPOINTS, but the old frame ran the shingling kernel over the
    // whole corpus again — semi-join df down to the (pair-sized,
    // already-checkpointed) endpoint id set BEFORE the kernel, so the
    // second shingling pass is pair-bounded at any scale
    val endpointIds = pairs.select(col("id_a").as("__id"))
      .unionByName(pairs.select(col("id_b").as("__id"))).distinct()
    val sizes = df
      .join(endpointIds, col(idCol) === col("__id"), "left_semi")
      .select(col(idCol).as("__id"),
        size(array_distinct(wordShingles(col(textCol), shingleN)))
          .as("__sz"))
    val dropped = pairs
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("__sza")),
        "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("__szb")),
        "id_b")
      .filter(col("__szb") > col("__sza") ||
        (col("__szb") === col("__sza") && col("id_b") < col("id_a")))
      .select(col("id_a").as("__drop"))
      .distinct()
    df.join(dropped, col(idCol) === col("__drop"), "left_anti")
  }

  /** The τ-dependent half of the containment join over a (persisted)
    * [[ppjoinRanked]] frame: contained-side prefix probe into full
    * postings, size + positional pruning in the join condition, exact
    * verify. Ordered output `(id_a contained-in id_b, containment)`. */
  private[graft] def containmentFromRanked(ranked: DataFrame,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0,1]")
    val prefix = ranked
      .filter(col("rank") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
    val need = ceil(lit(tau) * col("a.sz"))
    val cands = prefix.as("a").join(ranked.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id") &&
          col("b.sz") >= need &&
          (least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) +
            lit(1)) >= need)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = ranked.groupBy("id")
      .agg(sort_array(collect_list(col("sh"))).as("set"),
        count(lit(1)).as("sz"))
    cands
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")),
        "id_b")
      .withColumn("inter", graft.functions.ArrayExprs
        .sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** The τ-INDEPENDENT half of the PPJoin: `(id, sh, df, sz, rank)` —
    * shingles with document frequency, doc size, and ascending-df prefix
    * rank. [[topKJaccardPairs]] persists this ONCE and runs its whole
    * τ-ladder against it (every rung previously re-derived it).
    * Document frequency via agg+join (map-side partials — a window
    * partitioned by shingle would funnel a stop-phrase to one task);
    * sz as a window sharing the rank window's id exchange+sort. */
  private[graft] def ppjoinRanked(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    // r14 optimizations (guide §2.3):
    //  - shingles are hashed to 64-bit longs BEFORE any exchange — the
    //    freq aggregation, the rank window, the candidate join and the
    //    verify-side sorted sets all move/compare 8-byte longs instead
    //    of n-word strings (same trust model as [[contentKey]] /
    //    [[hash60]]: a collision merges two shingles, the assumption
    //    every signature tier here already makes; xxhash64 because the
    //    hash never reaches an output or the oracle — no cross-engine
    //    replay needed — and it codegens far cheaper than md5). The
    //    canonical prefix
    //    order becomes (df, hash) instead of (df, string) — a different
    //    but equally valid global total order, so the candidate SET can
    //    shift while the verified OUTPUT stays exact modulo 64-bit hash
    //    collisions (the verify intersect compares hashed sets — the
    //    same trust-model caveat as above, not a new one);
    //  - `sz` (distinct-shingle count) rides from the pre-explode array
    //    instead of a count-over-window pass — one window execution
    //    over the (id, shingle) frame instead of two. The 1-element
    //    explode is the [[minHashSignatures]] generate barrier: the
    //    shingling kernel runs once, size/explode read its attribute.
    val sh = df
      .select(col(idCol).as("id"),
        explode(array(array_distinct(wordShingles(col(textCol), shingleN))))
          .as("__arr"))
      .select(col("id"), size(col("__arr")).as("sz"),
        explode(col("__arr")).as("__s"))
      .select(col("id"), col("sz"), xxhash64(col("__s")).as("sh"))
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(freq, "sh")
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("sh"))))
  }

  /** The τ-dependent half: prefix filter → pruned candidate self-join →
    * exact verify, all reading the (ideally persisted) `ranked` frame. */
  private[graft] def ppjoinFromRanked(ranked: DataFrame,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0,1]")
    val prefix = ranked
      .filter(col("rank") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
    // candidate join prunes with (1) the length filter and (2) PPJoin's
    // positional bound: a shared token at canonical positions (i, j) can
    // witness at most 1 + min(|A|−i, |B|−j) overlapping tokens, and
    // J ≥ τ requires overlap ≥ τ/(1+τ)·(|A|+|B|) — without it every
    // near-dup cluster pair is verified through its FULL arrays and the
    // verify join payload (two ~doc-sized string arrays per candidate)
    // dominates the operator (measured 5-50× candidate inflation)
    val alpha = lit(tau / (1.0 + tau)) * (col("a.sz") + col("b.sz"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(tau) * greatest(col("a.sz"), col("b.sz")) &&
          (least(col("a.sz") - col("a.rank"), col("b.sz") - col("b.rank")) +
            lit(1)) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify-side sets from the SAME checkpointed frame (ranked carries
    // every (id, sh) row, so grouping it back reuses the materialization
    // instead of re-deriving the shingle explosion a third time)
    val sets = ranked.groupBy("id")
      .agg(sort_array(collect_list(col("sh"))).as("set"),
        count(lit(1)).as("sz"))
    cands
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
        col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b"),
        col("sz").as("sz_b")), "id_b")
      // codegen'd two-pointer merge over the sorted sets — no per-pair
      // hash set / result array like array_intersect (ArrayExprs doc)
      .withColumn("inter", graft.functions.ArrayExprs
        .sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Bounded edit-distance self-join: every pair with
    * levenshtein(a, b) ≤ `maxDist`, WITHOUT the all-pairs term — the
    * string-metric sibling of [[jaccardJoin]] for short fields (titles,
    * names, URLs, first-k-char document keys) where token-set similarity
    * is too coarse. Ed-Join-style count filtering (Gravano et al. 2001;
    * Xiao et al. Ed-Join 2008 — public literature):
    *
    *  - positional q-gram filtering (Gravano et al. 2001): ed(a,b) ≤ d
    *    requires an injective matching of ≥ max(|Ga|,|Gb|) − q·d
    *    positional grams where matched grams are EQUAL and their
    *    positions differ by at most d (unedited regions shift by ≤ d);
    *  - by Ed-Join's prefix lemma the q·d + 1 RAREST positional grams
    *    (global document-frequency order, the same df-ascending
    *    construction as [[ppjoinRanked]]) of both strings must contain
    *    such a proximate matched pair — candidates come from an
    *    equi-join on the gram with |pos_a − pos_b| ≤ d and the length
    *    filter |len(a) − len(b)| ≤ d in the join condition, never from
    *    a cross product;
    *  - SHORT strings (gram count ≤ q·d, where the required overlap
    *    bound degenerates to 0 and prefix filtering is unsound) instead
    *    emit catch-all length-band grams `S<l>` for l ∈ [len, len+d]:
    *    two short strings within d of each other always share one, and
    *    a short×long pair still needs a real shared gram (the bound
    *    uses max of the sizes). Real grams are exactly q characters of
    *    input text; band grams are longer than q — no collision.
    *
    * Verification is the codegen'd `levenshtein(a, b, maxDist)` with
    * Spark's built-in early-exit threshold (returns −1 past the bound —
    * O(len·d), not O(len²)); pair dedup happens AFTER it, where the
    * survivor set is match-density-sized, not candidate-sized.
    *
    * Scale shape: gram df is a vocabulary-keyed agg broadcast back; the
    * candidate join is equi on the gram with the position/length bands
    * pruning in-condition (a hot gram is an AQE-skew-splittable join
    * key, and prefixes keep each string's RAREST grams — the PPJoin
    * skew-by-design-out argument); the strings ride in the prefix
    * payload, so there are NO verify-side joins. Designed for SHORT
    * string keys (titles, names, URLs, fixed-width document keys) —
    * for long texts use [[jaccardJoin]], where payload-in-join would
    * be wrong. Never corpus². */
  def editDistanceJoin(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, q: Int = 3, maxDupGroup: Int = 100000): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(q >= 2, "q must be >= 2")
    // EXACT-DUP PRE-COLLAPSE (the jaccardJoin/lshVerifiedPairs
    // argument): identical strings share every gram, so clone groups
    // make the positional buckets quadratic in duplicity. Join one
    // representative per distinct string, expand back output-sized;
    // within-group pairs have dist 0 by identity, cross pairs inherit
    // their representatives' distance exactly.
    // columnar persist + result checkpoint + finally-release (see the
    // cache-protocol note in jaccardJoin — the same 4.9× measurement)
    val hashed = df.select(col(idCol).as("__eid"),
        col(textCol).as("__es"))
      .filter(col("__es").isNotNull)
      .withColumn("__h", md5(col("__es")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first(s) grouped on md5(s) is deterministic by value (see
    // jaccardJoin)
    val reps = hashed.groupBy("__h")
      .agg(min(col("__eid")).as("__eid"), first(col("__es")).as("__es"),
        count(lit(1)).as("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pair-plan construction happens INSIDE the try: an analysis error
    // raised while building it must still release hashed/reps, or the
    // CacheManager entries outlive the call (the leak class the
    // persist-release protocol exists to prevent)
    var keyed: DataFrame = null
    try {
    val repPairs = {
      val (p, k) = editPairsUncollapsed(reps, "__eid", "__es", maxDist, q)
      keyed = k
      p
    }
    val maxM = maxGroupSize(reps)
    if (maxM > maxDupGroup)
      throw new IllegalArgumentException(
        s"a string has $maxM exact copies (> maxDupGroup=$maxDupGroup):" +
          " the within-group pair output alone is quadratic — run " +
          "Dedup.exact first, or raise maxDupGroup deliberately")
    val members = hashed.select(col("__h"), col("__eid"))
    val repToH = reps.select(col("__eid").as("__rid"), col("__h"))
    val crossPairs = repPairs
      .join(repToH.select(col("__rid").as("id_a"), col("__h").as("__ha")),
        "id_a")
      .join(repToH.select(col("__rid").as("id_b"), col("__h").as("__hb")),
        "id_b")
      .join(members.select(col("__h").as("__ha"), col("__eid").as("__ma")),
        "__ha")
      .join(members.select(col("__h").as("__hb"), col("__eid").as("__mb")),
        "__hb")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("dist"))
    val withinPairs = members.as("a").join(members.as("b"),
        col("a.__h") === col("b.__h") && col("a.__eid") < col("b.__eid"))
      .select(col("a.__eid").as("id_a"), col("b.__eid").as("id_b"),
        lit(0).as("dist"))
    crossPairs.unionByName(withinPairs).localCheckpoint(true)
    } finally {
      if (keyed != null) keyed.unpersist(false)
      reps.unpersist(false)
      hashed.unpersist(false)
    }
  }

  /** Two-table bounded edit-distance join: every (probe, corpus) pair
    * with `levenshtein ≤ maxDist` — the crawl-vs-blocklist /
    * crawl-vs-standing-corpus fuzzy matcher completing the incremental
    * family ([[lshDedupAgainst]], [[exactDedupAgainst]]) for short
    * keys where token sets are too coarse. Output:
    * `(probe_id, corpus_id, dist)`.
    *
    * Same Ed-Join machinery as [[editDistanceJoin]] — positional
    * q-grams, rarest-first prefixes, position-in-key probing, length
    * band, short-string length-key tier — with ONE cross-table
    * requirement: the prefix lemma needs both strings' prefixes taken
    * under a SINGLE total gram order, so document frequency is counted
    * over the UNION of both sides' gram streams (per-side df would
    * rank the same gram differently on each side and break
    * completeness). No dedup collapse: probe batches are
    * crawl-sized and the corpus side is read once.
    *
    * Scale: candidates come from gram-key equality (never probe ×
    * corpus); the df-union agg's exchange carries distinct grams. */
  def editDistanceJoinAgainst(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, maxDist: Int, q: Int = 2)
      : DataFrame = {
    val (pairs, keyedP, keyedC) =
      editAgainstUnchecked(probe, corpus, idCol, textCol, maxDist, q)
    try pairs.localCheckpoint(true)
    finally { keyedP.unpersist(false); keyedC.unpersist(false) }
  }

  /** [[editDistanceJoinAgainst]] minus the eager checkpoint/release —
    * returns (pairs, keyedProbe, keyedCorpus) with the keyed frames
    * still persisted so the caller (the public wrapper; plan tests)
    * controls materialization and release. */
  private[graft] def editAgainstUnchecked(probe: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String, maxDist: Int,
      q: Int): (DataFrame, DataFrame, DataFrame) = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(q >= 1, "q must be >= 1")
    val prefixLen = q * maxDist + 1
    def baseOf(df: DataFrame) = df
      .select(col(idCol).as("id"), col(textCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
    def gramsOf(b: DataFrame) = b.filter(col("len") >= q)
      .select(col("id"), col("len"), col("s"),
        posexplode(expr(
          s"transform(sequence(1, len - $q + 1), " +
            s"i -> substring(s, i, $q))")).as(Seq("pos", "g")))
    val bp = baseOf(probe)
    val bc = baseOf(corpus)
    val gp = gramsOf(bp)
    val gc = gramsOf(bc)
    val freq = gp.select("g").unionAll(gc.select("g"))
      .groupBy("g").agg(count(lit(1)).as("tf"))
    val shortLen = q * (maxDist + 1) - 1
    def keyedOf(g: DataFrame, b: DataFrame) = {
      val prefix = g.join(freq, "g")
        .withColumn("rank", row_number().over(
          Window.partitionBy("id").orderBy(col("tf"), col("g"), col("pos"))))
        .filter(col("rank") <= prefixLen)
        .select("id", "len", "s", "g", "pos")
      val shorts = b.filter(col("len") <= shortLen)
        .select(col("id"), col("len"), col("s"),
          explode(expr(s"transform(sequence(0, $maxDist), " +
            "i -> concat('S', len + i))")).as("g"),
          lit(0).as("pos"))
      prefix.unionByName(shorts)
    }
    val keyedC = keyedOf(gc, bc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyedP = keyedOf(gp, bp)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = keyedP.select(col("id"), col("len"), col("s"),
      col("g"),
      explode(sequence(col("pos") - maxDist, col("pos") + maxDist))
        .as("pp"))
    val pairs = probes.as("a").join(keyedC.as("b"),
        col("a.g") === col("b.g") && col("a.pp") === col("b.pos") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.s"), col("b.s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("probe_id"), col("b.id").as("corpus_id"),
        col("dist"))
      .distinct()
    (pairs, keyedP, keyedC)
  }

  /** Expand representative-level pairs back to member-level pairs —
    * the shared tail of the exact-dup pre-collapse ([[jaccardJoin]] /
    * [[containmentJoin]] / [[lshVerifiedPairs]]). `repPairs` must carry
    * the group sizes as `__ma` / `__mb` (the callers thread them
    * through for free: the LSH path carries `__m` through the band
    * join payload, the PPJoin paths through the verify-side `sets`
    * aggregation).
    *
    * Data-adaptive (r14 optimization, guide §2.3 "shuffle fewer
    * bytes"): a pair between two SINGLETON groups (the overwhelming
    * case on any non-clone corpus) is already member-level — it passes
    * through with ZERO joins. Only pairs touching a dup group (`__m >
    * 1`) pay expansion, and they join against `dupMembers` — the
    * members of dup groups ONLY (dup-mass-sized, not corpus-sized; the
    * old shape joined every pair through two corpus-sized member
    * projections plus two rep→hash hops: 4 corpus-scale joins per
    * call, all pure overhead when dup groups are rare). Within-group
    * pairs are likewise built from dup groups only — singleton groups
    * never self-pair. The expansion output is exactly the old one:
    * every (member_a, member_b) combination per rep pair, with the
    * payload column riding along.
    *
    * `directional=false` restores the `id_a < id_b` contract with
    * least/greatest (group ids interleave); `true` keeps the ordered
    * (contained → container) orientation. */
  /** Attach the exact-dup group sizes to PAIR-sized rep pairs as
    * `__ma`/`__mb` (the [[expandRepPairs]] precondition) — the
    * PPJoin-family callers' shared attach; the LSH path instead carries
    * `__m` through its band-join payload for free. */
  private def attachGroupSizes(repPairs: DataFrame, reps: DataFrame,
      idCol: String): DataFrame = {
    val repM = reps.select(col(idCol).as("__rid"), col("__m"))
    repPairs
      .join(repM.withColumnRenamed("__rid", "id_a")
        .withColumnRenamed("__m", "__ma"), "id_a")
      .join(repM.withColumnRenamed("__rid", "id_b")
        .withColumnRenamed("__m", "__mb"), "id_b")
  }

  private def expandRepPairs(repPairs0: DataFrame, hashed: DataFrame,
      reps: DataFrame, idCol: String, payload: Seq[String],
      directional: Boolean): DataFrame = {
    // the direct/dup split below reads the pair frame TWICE — checkpoint
    // the pair-sized result so the candidate+verify pipeline behind it
    // runs once, not once per branch (measured 1.7× on the LSH path)
    val repPairs = repPairs0.localCheckpoint(true)
    val outCols = (Seq("id_a", "id_b") ++ payload).map(col)
    val direct = repPairs
      .filter(col("__ma") === 1 && col("__mb") === 1)
      .select(outCols: _*)
    val dupPairs = repPairs.filter(col("__ma") > 1 || col("__mb") > 1)
    // members of dup groups only: (rep id, member id) — dup-mass-sized
    val dupMembers = hashed.join(
        reps.filter(col("__m") > 1)
          .select(col("__h"), col(idCol).as("__rid")), "__h")
      .select(col("__rid"), col(idCol).as("__mid"))
    // LEFT joins: a singleton side has no dupMembers row and keeps its
    // rep id (which IS its only member) via coalesce
    val joined = dupPairs
      .join(dupMembers.select(col("__rid").as("id_a"),
        col("__mid").as("__xa")), Seq("id_a"), "left")
      .join(dupMembers.select(col("__rid").as("id_b"),
        col("__mid").as("__xb")), Seq("id_b"), "left")
    val ma = coalesce(col("__xa"), col("id_a"))
    val mb = coalesce(col("__xb"), col("id_b"))
    val expanded =
      if (directional)
        joined.select((Seq(ma.as("id_a"), mb.as("id_b")) ++
          payload.map(col)): _*)
      else
        joined.select((Seq(least(ma, mb).as("id_a"),
          greatest(ma, mb).as("id_b")) ++ payload.map(col)): _*)
    direct.unionByName(expanded)
  }

  /** Within-group pairs of the exact-dup pre-collapse: every member
    * combination of each DUP group whose text shingles at all
    * (sub-n-token docs have empty sets and never pair in the
    * uncollapsed plan or the oracle). Ordered both ways when
    * `directional` (identical nonempty sets contain each other).
    * Built from dup groups only — the self-join input is
    * dup-mass-sized, never corpus-sized. */
  private def withinGroupPairs(hashed: DataFrame, reps: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      payload: Option[(String, Double)], directional: Boolean)
      : DataFrame = {
    val dupSigned = reps.filter(col("__m") > 1)
      .filter(size(array_distinct(wordShingles(col(textCol), shingleN)))
        > 0)
      .select("__h")
    val members = hashed.select(col("__h"), col(idCol)).join(dupSigned, "__h")
    val cond =
      if (directional) col(s"a.$idCol") =!= col(s"b.$idCol")
      else col(s"a.$idCol") < col(s"b.$idCol")
    val base = members.as("a").join(members.as("b"),
      col("a.__h") === col("b.__h") && cond)
    val idCols = Seq(col(s"a.$idCol").as("id_a"),
      col(s"b.$idCol").as("id_b"))
    payload match {
      case Some((name, v)) => base.select(idCols :+ lit(v).as(name): _*)
      case None => base.select(idCols: _*)
    }
  }

  /** Largest exact-duplicate group size from a persisted reps agg —
    * `max` over zero rows is SQL NULL, so an empty (or all-null-text)
    * input reads as 0 and the collapse guard passes through to the
    * empty pipeline instead of NPE-ing on `getLong`. */
  private def maxGroupSize(reps: DataFrame): Long = {
    val r = reps.agg(max(col("__m"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Returns the pair frame plus the persisted `keyed` gram frame so
    * the caller can release it once the result is materialized. */
  private def editPairsUncollapsed(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int, q: Int): (DataFrame, DataFrame) = {
    val prefixLen = q * maxDist + 1
    val base = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))
    // strings shorter than q yield NO positional grams: Spark's
    // sequence(1, 0) steps DOWNWARD to [1, 0], so the old
    // greatest(·, 0) bound emitted two junk grams per sub-q string that
    // polluted the gram document-frequency table (correctness survived
    // only because the levenshtein verify discards the candidates).
    // Sub-q strings are fully covered by the `shorts` length-key tier
    // below (len <= q-1 <= q·(maxDist+1)-1 for maxDist >= 0).
    val grams = base.filter(col("len") >= q)
      .select(col("id"), col("len"), col("s"),
        posexplode(expr(
          s"transform(sequence(1, len - $q + 1), " +
            s"i -> substring(s, i, $q))")).as(Seq("pos", "g")))
    // document frequency via agg+join (a g-partitioned window would
    // funnel a stop-gram through one task); rank per id, rarest first,
    // (g, pos) tie-break for a per-string total order
    val freq = grams.groupBy("g").agg(count(lit(1)).as("tf"))
    val prefix = grams.join(freq, "g")
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("tf"), col("g"), col("pos"))))
      .filter(col("rank") <= prefixLen)
      .select("id", "len", "s", "g", "pos")
    val shortLen = q * (maxDist + 1) - 1
    val shorts = base.filter(col("len") <= shortLen)
      .select(col("id"), col("len"), col("s"),
        explode(expr(s"transform(sequence(0, $maxDist), " +
          "i -> concat('S', len + i))")).as("g"),
        lit(0).as("pos"))
    // persisted: the prefix frame feeds BOTH sides of the candidate
    // self-join, and Spark does not reuse the exchange across the
    // desymmetrized branches (the jaccardJoin lesson) — without this
    // the gram-explode → df-join → window subtree executes twice. The
    // handle is returned to the caller, which releases it in its
    // finally once the (checkpointed) result is materialized.
    val keyed = prefix.unionByName(shorts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // position goes INTO the join key: the probe side enumerates the
    // 2d+1 admissible offsets, so a match costs one hash/merge lookup
    // instead of a scan of the gram's whole bucket with |Δpos| checked
    // in-condition. On low-gram-diversity corpora (clone-dense word
    // salads: a few hundred distinct grams over 10⁵ strings) the
    // in-condition form probes every in-bucket pair — measured 69 s at
    // 50k clone-dense strings vs ~7 s for this key-equality form.
    val probes = keyed.select(col("id"), col("len"), col("s"), col("g"),
      explode(sequence(col("pos") - maxDist, col("pos") + maxDist))
        .as("pp"))
    // r15 note (VERDICT r14 item 8, measured and DECLINED): moving the
    // pair distinct BEFORE the threshold-levenshtein verify (one kernel
    // eval per distinct pair instead of per (gram, position) match) was
    // tried — candidate multiplicity on real prefixes is ≈1 (shuffle
    // bytes were flat, 2575K→2577K), so the extra candidate-wide
    // exchange of key strings cost 1.4× wall with no kernel savings.
    // The verify-then-distinct order keeps non-matching candidates off
    // every exchange; Spark's 3-arg levenshtein is already the banded
    // early-exit kernel.
    val pairs = probes.as("a").join(keyed.as("b"),
        col("a.g") === col("b.g") && col("a.pp") === col("b.pos") &&
          col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.s"), col("b.s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
      .distinct()
    (pairs, keyed)
  }

  /** Exact top-k most-similar pairs WITHOUT the all-pairs term —
    * τ-DESCENDING search over the PPJoin join: run [[jaccardJoin]] at a
    * high threshold; if it yields ≥ k pairs, their top-k IS the global
    * top-k (every unreturned pair has J < τ ≤ the k-th returned J);
    * otherwise lower τ and retry. Near-dup-rich corpora — the only kind
    * where "most similar pairs" is asked at scale — exit at the first
    * or second τ, where the prefix filter prunes hardest, so the cost
    * tracks MATCH DENSITY instead of the co-shingle pair space that
    * makes [[ngramJaccardPairs]]'s single-pass inversion the suite's
    * designed worst case. Each attempt is an independent PPJoin plan
    * (no cross-attempt state); attempts are counted, not data-sized.
    *
    * Contract: returns the top-k pairs among those with J ≥ `taus.last`
    * (the declared floor — ranking below it would need the all-pairs
    * computation this operator exists to avoid), ordered
    * (J desc, id_a, id_b); fewer than k such pairs → all of them. */
  def topKJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, taus: Seq[Double] = Seq(0.9, 0.7, 0.5, 0.3, 0.15),
      shingleN: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(taus.nonEmpty && taus == taus.sorted.reverse,
      "taus must be a descending threshold ladder")
    // the τ-independent ranked frame is shared by EVERY rung — one
    // shingle/freq/rank derivation for the whole ladder, released
    // deterministically once the winning rung is collected
    val ranked = ppjoinRanked(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ord = Seq(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
    var result: Array[org.apache.spark.sql.Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    try {
      val it = taus.iterator
      while (result == null && it.hasNext) {
        val tau = it.next()
        val pairs = ppjoinFromRanked(ranked, tau)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val enough = pairs.limit(k).count() >= k
        if (enough || !it.hasNext) {
          // ≤ k rows by construction — driver-sized; collecting here lets
          // the rung's cache be released instead of leaking for the app's
          // lifetime (the caller's plan no longer references it).
          val top = pairs.orderBy(ord: _*).limit(k)
          schema = top.schema
          result = top.collect()
        }
        pairs.unpersist()
      }
    } finally ranked.unpersist(false)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(result: _*), schema)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node's label converges to the smallest
    * node id reachable from it. Each round is ONE keyed join + ONE
    * aggregation (both shuffles keyed by node id — no driver-side graph,
    * no adjacency materialization beyond the edge list), and the round
    * count is bounded by the longest shortest-path to a component's
    * minimum — for near-dup graphs (dense cliquey clusters of bounded
    * diameter) convergence is 2-3 rounds. Rounds run on [[Fixpoint]],
    * holding the edge set and the start labels; one action per round. A
    * graph whose labels have not settled in `maxIter` rounds throws
    * rather than return partly propagated labels; for long chains use
    * [[connectedComponentsStar]] (O(log n) rounds).
    *
    * `nodes` must be one column named after `idCol`; `edges` must carry
    * (`id_a`, `id_b`) with multiplicity allowed (deduped here). Returns
    * (idCol, cluster_id) for EVERY node — singletons label themselves. */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      maxIter: Int = 50): DataFrame = {
    val sym = symEdges(edges)
    val init = edgeNodes(nodes, idCol, sym).withColumn("label", col("id"))
    val labels = Fixpoint.untilSettled(init, maxIter,
        Fixpoint.Fail(s"connectedComponents did not converge in " +
          s"maxIter = $maxIter rounds; raise maxIter, or use " +
          "connectedComponentsStar (O(log n) rounds) for long chains"),
        inputs = Seq(sym, init)) { labels =>
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min("dlabel").as("nmin"))
      // `old` rides along so the probe is a filter on the round's own
      // frame, not another join against the previous round
      labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    } { next =>
      next.agg(count(when(col("label") =!= col("old"), lit(1))))
        .head().getLong(0) == 0L
    }
    everyNode(ids(nodes, idCol), idCol, labels.select(col("id"),
      col("label").as("__label")), "cluster_id", col("id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round alternative to
    * [[connectedComponents]]'s min-label propagation, for graphs whose
    * diameter is NOT bounded (chained near-dups, reply threads, link
    * graphs): a 10⁶-long path converges in ~20 rounds here versus 10⁶
    * rounds of propagation.
    *
    * Each half-round is joins + aggregations only — per-node neighbor
    * minima come from `groupBy.min` (map-side partials), never a
    * neighbor-list `collect_list`, so a celebrity node with 100M edges
    * costs a skewed-but-mergeable aggregation, not a 100M-element array
    * on one task. Rounds run on [[Fixpoint]]: one star round references
    * its input ~6 times, so each round's edge frame is pinned (measured:
    * an un-truncated 10-round lineage OOMs merely STRINGIFYING the
    * plan). Edge sets shrink monotonically.
    *
    * Same contract as [[connectedComponents]]: returns
    * `(idCol, cluster_id)` for every node, singletons labeling
    * themselves; ids must be orderable (numeric/string).
    */
  def connectedComponentsStar(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      maxIter: Int = 50): DataFrame = {
    // large-star: every neighbor v > u attaches to m(u) = min(Γ(u) ∪ u)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .select(col("a").as("u"), col("b").as("v"))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // small-star: edges pointed at their larger endpoint; every smaller
    // neighbor (and u itself) attaches to the group minimum
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val m = dir.groupBy("u").agg(min("v").as("m"))
      dir.join(m, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    val e = Fixpoint.untilSettled(
        Fixpoint.pin(edges.select(col("id_a").as("a"), col("id_b").as("b"))
          .filter(col("a") =!= col("b")).distinct()),
        maxIter, Fixpoint.Fail(s"connectedComponentsStar did not converge " +
          s"in maxIter = $maxIter rounds (rounds are O(log n) — raise " +
          "maxIter); labels from a non-converged edge set would be " +
          "silently wrong")) { e => smallStar(largeStar(e)) } { next =>
      // The alternation's fixpoints are exactly the STAR FORESTS —
      // every child points at one root and no root is itself a child.
      // smallStar output is distinct with a > b throughout, so `next`
      // is a star forest iff
      //  (1) every a carries exactly one b (count == distinct a's), and
      //  (2) no b appears as an a (parent/child sets disjoint).
      // Sufficiency: on a disjoint union of stars both largeStar and
      // smallStar are identities (each leaf's neighbor min is its root,
      // each root's is itself), so the next round reproduces `next`
      // verbatim. Necessity: a b that is also an a is a 2-chain, which
      // smallStar rewrites; two b's for one a are rewired to the
      // smaller — either way not a fixpoint. (1) is the full-frame
      // aggregate; (2)'s semi-join probe runs only once (1) holds.
      val st = next.agg(count(lit(1)).as("n"),
        count_distinct(col("a")).as("na")).head()
      st.getLong(0) == st.getLong(1) &&
        next.join(next.select(col("a").as("b")), Seq("b"), "left_semi")
          .limit(1).count() == 0L
    }
    // converged: every non-root points straight at its component min
    val roots = e.select(greatest(col("a"), col("b")).as("id"),
      least(col("a"), col("b")).as("root"))
      .groupBy("id").agg(min("root").as("__label"))
    everyNode(ids(nodes, idCol), idCol, roots, "cluster_id", col("id"))
  }

  /** `nodes`' `idCol` as `id`: the node side of the graph operators. */
  private def ids(nodes: DataFrame, idCol: String): DataFrame =
    nodes.select(col(idCol).as("id"))

  /** The symmetrized, distinct `(src, dst)` edge set of an `(id_a,
    * id_b)` pair frame. Every round reads it, so each graph loop pins or
    * holds it once ([[Fixpoint]]): the pair lineage (for near-dup
    * graphs, the whole LSH candidate pipeline) runs once, not once per
    * round. */
  private def symEdges(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** The nodes with at least one edge in `sym`, as `id`. The graph loops
    * iterate over these only: a node with no edge receives nothing from
    * any neighbor and gives nothing, so it rejoins in [[everyNode]], and
    * dedup graphs are overwhelmingly singletons at any scale. An edge
    * endpoint not in `nodes` never participates. */
  private def edgeNodes(nodes: DataFrame, idCol: String,
      sym: DataFrame): DataFrame =
    ids(nodes, idCol).join(sym.select(col("src").as("id")), Seq("id"), "left_semi")

  /** Every node of `nodeIds` (keyed `id`) as `(idCol, outCol)`: its loop
    * label `__label` from `labels` (keyed `id`), or `own` for a node the
    * loop never reached — singletons label themselves. */
  private def everyNode(nodeIds: DataFrame, idCol: String,
      labels: DataFrame, outCol: String, own: Column): DataFrame =
    nodeIds.join(labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("__label"), own).as(outCol))

  /** C4-style cross-corpus boilerplate removal: drop every sentence that
    * occurs in at least `minDocs` DISTINCT documents (cookie banners,
    * navigation junk, license headers — the line-dedup rule of the C4 /
    * Gopher cleaning recipes), then rebuild each document from its
    * surviving sentences in original order.
    *
    * Scale shape: sentence→doc-frequency is one groupBy over the
    * per-row-deduped sentence explode (map-side partials, exchange
    * bounded by the distinct-sentence vocabulary); the hot set is
    * removed with an anti-join keyed on the sentence (AQE broadcasts it
    * when small — boilerplate sets usually are); the rebuild groups by
    * doc with a per-doc-bounded `collect_list` of (pos, sentence) and
    * sorts WITHIN the row (array_sort on the struct), so no window and
    * no skew beyond document length. Documents whose every sentence is
    * boilerplate come back as empty strings, not dropped.
    *
    * `sepRegex`/`joinSep` choose the unit: the default is '. '-split
    * sentences (the C4 line rule); `(" ", " ")` gives corpus-stop-word
    * pruning (drop tokens present in ≥ minDocs docs) — same plan, same
    * guarantees. */
  def removeBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, sepRegex: String = "\\. ",
      joinSep: String = ". "): DataFrame = {
    val arr = split(col(textCol), sepRegex)
    val hot = df.select(explode(array_distinct(arr)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDocs)
      .select("s")
    val sents = df.select(col(idCol), posexplode(arr).as(Seq("pos", "s")))
    val rebuilt = sents.join(hot, Seq("s"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x.getField("s")),
        joinSep).as("cleaned"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
  }

  /** C4's other line rule: every repeated sentence keeps exactly ONE
    * copy corpus-wide — the occurrence with the smallest `(id, pos)` —
    * and loses the rest ([[removeBoilerplate]] instead drops ALL copies
    * of over-threshold lines; C4 applies both). Documents are rebuilt
    * from surviving sentences in original order; fully-deduped docs
    * come back as empty strings.
    *
    * Scale shape: the winner per sentence is a `min(struct(id, pos))`
    * aggregate — map-side partial min, so a sentence shared by 100M
    * docs reduces to one row without assembling any list; survivors are
    * selected by an equi-join keyed on the sentence (winner side is one
    * row per distinct sentence); the rebuild sorts WITHIN each row like
    * [[removeBoilerplate]]. */
  def dedupLines(
      df: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\\. ", joinSep: String = ". "): DataFrame = {
    val arr = split(col(textCol), sepRegex)
    val sents = df.select(col(idCol), posexplode(arr).as(Seq("pos", "s")))
    val winners = sents.groupBy("s")
      .agg(min(struct(col(idCol).as("id"), col("pos").as("p"))).as("w"))
      .select(col("s"), col("w.id").as("__wid"), col("w.p").as("__wpos"))
    val kept = sents.join(winners, "s")
      .filter(col(idCol) === col("__wid") && col("pos") === col("__wpos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x.getField("s")),
        joinSep).as("cleaned"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
  }

  /** Near-dup cluster assignment — the canonicalization step real
    * training pipelines run after LSH (RefinedWeb/SlimPajama-style):
    * verified near-dup pairs from [[lshVerifiedPairs]] form an undirected
    * graph; each doc gets the smallest doc id of its connected component
    * as `cluster_id` (singletons label themselves). Unlike [[lshDedup]]'s
    * single-pass keep-min (which approximates transitive chains from the
    * min side), the component label is exact under transitivity — pick
    * `cluster_id = doc_id` rows to keep one canonical doc per cluster.
    * Throws when the labels have not settled in `maxIter` rounds. */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleN: Int = 3,
      tau: Double = 0.5, maxBucket: Int = Int.MaxValue,
      maxIter: Int = 50): DataFrame = {
    val pairs = lshVerifiedPairs(
      df, idCol, textCol, numHashes, bands, shingleN, tau, maxBucket)
      .dropDuplicates("id_a", "id_b")
    connectedComponents(df.select(col(idCol)), pairs, idCol, maxIter)
  }

  /** Exact-dup edge set in STAR form: per group of identical `textCol`
    * (size ≥ 2), one edge (group-min id → member id) per non-min
    * member — linear in the corpus, never quadratic in a clone
    * clique, and component-equivalent to the clique for any
    * connected-components consumer ([[multiTierClusters]]'s exact
    * tier). Null texts are skipped (no content to equal). Two keyed
    * aggregations/joins on the content hash; no windows. */
  def exactDupEdges(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val keyed = df.filter(col(textCol).isNotNull)
      .select(contentKey(col(textCol)).as("__ck"), col(idCol))
    val groups = keyed.groupBy("__ck")
      .agg(min(col(idCol)).as("id_a"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    keyed.join(groups, "__ck")
      .filter(col(idCol) =!= col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b"))
  }

  /** Cross-tier near-dup report — the curation end-game: pair tiers
    * from DIFFERENT detectors (exact content hash, MinHash/LSH,
    * perceptual media hash, audio hash, semantic cosine, …) union into
    * ONE edge set and a single connected-components pass assigns one
    * cluster per doc ACROSS modalities, so the keep-one decision is
    * made once, not once per tier — two tiers can each link disjoint
    * halves of one dup family, and only the union sees the whole
    * family. Each tier is `(name, pairs)` with `(id_a, id_b)` columns
    * (extra columns dropped; cross-tier multiplicity fine — edges
    * dedupe inside the CC kernel). Returns `(idCol, cluster_id,
    * tiers)` for every node, where `tiers` is the '+'-joined sorted
    * set of tier names with an edge touching the doc (singletons carry
    * '').
    *
    * Scale shape: the tier union is pair-sized and pinned
    * ONCE (both the CC pass and the touch aggregation read it — the
    * tiers' kernels, e.g. a full LSH pipeline, must not run twice);
    * CC is [[connectedComponents]]' min-label propagation (near-dup
    * graphs have bounded diameter — pre-contract chained graphs with
    * [[connectedComponentsStar]] if needed); the touch aggregation is
    * one explode + id-keyed collect_set of tier names (≤ #tiers
    * strings per doc). */
  def multiTierClusters(nodes: DataFrame, idCol: String,
      tiers: Seq[(String, DataFrame)], maxIter: Int = 50): DataFrame = {
    require(tiers.nonEmpty, "at least one pair tier")
    val edges = Fixpoint.pin(tiers.map { case (name, df) =>
      df.select(col("id_a"), col("id_b"), lit(name).as("tier"))
    }.reduce(_ unionByName _))
    val cc = connectedComponents(nodes,
      edges.select("id_a", "id_b"), idCol, maxIter)
    val touched = edges
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol),
        col("tier"))
      .groupBy(idCol)
      .agg(array_join(array_sort(collect_set(col("tier"))), "+")
        .as("tiers"))
    cc.join(touched, Seq(idCol), "left")
      .withColumn("tiers", coalesce(col("tiers"), lit("")))
  }

  /** Semi-supervised label propagation over an undirected pair graph:
    * spread a sparse set of seed labels (e.g. human quality/toxicity
    * ratings on a few documents) to every connected node through the
    * near-dup/similarity edges — the standard cheap-labeling move when
    * a corpus has manual labels for a sliver and graph structure for
    * the rest. Synchronous iterations: each unlabeled-at-seed node
    * takes the majority label among its labeled neighbors (ties to the
    * SMALLEST label — deterministic); seeds are clamped. `iters` fixed
    * so the result is a pure function of (graph, seeds) and replays
    * step for step in SQL.
    *
    * All-integer state (labels + neighbor counts) — no FP anywhere, so
    * determinism needs no decimal machinery. Scale shape per round:
    * one edge-keyed join of the index-sized label frame against the
    * pinned symmetrized edges, one (node, label) count aggregation, one
    * argmax via max(struct) (no window), one left join back. Rounds run
    * on [[Fixpoint.rounds]]; a round reads the previous label frame
    * twice. Unreached nodes keep null. */
  def labelPropagation(nodes: DataFrame, pairs: DataFrame, idCol: String,
      seeds: DataFrame, labelCol: String, iters: Int = 5): DataFrame = {
    val sym = Fixpoint.pin(symEdges(pairs))
    val seed = seeds.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("__seed"))
    val start = edgeNodes(nodes, idCol, sym)
      .join(seed, Seq("id"), "left")
      .select(col("id"), col("__seed"), col("__seed").as("__lab"))
    val labels = Fixpoint.rounds(start, iters) { (labels, _) =>
      // majority label among labeled neighbors; (count, -label) argmax
      // via max(struct) keeps the whole round window-free
      val nbr = sym
        .join(labels.select(col("id").as("dst"), col("__lab")), "dst")
        .filter(col("__lab").isNotNull)
        .groupBy(col("src"), col("__lab"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("src"))
        .agg(max(struct(col("__c"), (-col("__lab")).as("__nl")))
          .as("__best"))
        .select(col("src").as("id"), (-col("__best.__nl")).as("__maj"))
      labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("__seed"),
          coalesce(col("__seed"), col("__maj"), col("__lab")).as("__lab"))
    }
    // off-graph nodes keep their clamped seed (or null)
    everyNode(ids(nodes, idCol).join(seed, Seq("id"), "left"), idCol,
      labels.select(col("id"), col("__lab").as("__label")), "label",
      col("__seed"))
  }

  /** PageRank over an undirected pair graph (e.g. the near-dup /
    * similarity graph): the centrality signal that ranks a cluster's
    * CANONICAL document by how connected it is, and more generally the
    * "authority" score link-graph curation uses (page-level quality in
    * the big-crawl pipelines). Standard damped iteration with the
    * dangling-mass term:
    * `r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)/deg(u) + dangling/N)`,
    * `iters` fixed (no convergence probe — a fixed budget keeps the
    * result a pure function of the graph, bit-reproducible and
    * oracle-replayable step for step).
    *
    * Determinism: per-target contribution sums accumulate as
    * decimal(30,15) (partition-order-independent); every other op is a
    * deterministic scalar double, so ranks are bit-identical across
    * runs, partitionings, and engines.
    *
    * Scale shape: per round, one edge-keyed join of the rank frame
    * (index-sized: id + double) against the static symmetrized edge
    * frame (pinned once), one target-keyed aggregation, one left
    * join back to nodes — all AQE-managed equi-joins, no windows. The
    * dangling sum is a driver scalar per round. Rounds run on
    * [[Fixpoint.rounds]]; a round reads the previous rank frame once. */
  def pageRank(nodes: DataFrame, pairs: DataFrame, idCol: String,
      iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val n = nodes.count().toDouble
    require(n > 0, "empty node set")
    val sym = Fixpoint.pin(symEdges(pairs))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = Fixpoint.pin(sym.join(deg, "src")
      .select(col("src"), col("dst"), col("deg")))
    // Edge-incident nodes all have out-edges (sym is symmetric), so the
    // DANGLING set is exactly the isolated nodes — and every isolated
    // node follows one shared, bit-identical rank trajectory
    //   r_iso' = (1−d)/N + d·(0 + dang/N),   dang = Σ_iso dec₁₅(r_iso)
    // (same update expression, same inputs). That trajectory evolves as
    // a DRIVER scalar replicating the distributed decimal(30,15) sum
    // exactly — the sum of k identical decimals is k × the
    // HALF_UP-rounded decimal (exact decimal multiply; Spark's
    // double→decimal cast goes through Double.toString, mirrored here),
    // cast back to double the same way — and only the edge-incident
    // rank frame iterates, with the mass as a plan literal; isolated
    // nodes rejoin at their shared final rank.
    val active = Fixpoint.pin(edgeNodes(nodes, idCol, sym))
    val k = n.toLong - active.count()
    def dangOf(r: Double): Double =
      if (k == 0L) 0.0
      else new java.math.BigDecimal(java.lang.Double.toString(r))
        .setScale(15, java.math.RoundingMode.HALF_UP)
        .multiply(java.math.BigDecimal.valueOf(k)).doubleValue()
    // rIso(i) is the isolated rank after i rounds
    val rIso = Iterator.iterate(1.0 / n)(r =>
      (1 - damping) / n + damping * (0.0 + dangOf(r) / n))
      .take(iters + 1).toIndexedSeq
    val ranks = Fixpoint.rounds(active.withColumn("r", lit(1.0 / n)), iters) {
      (ranks, round) =>
        val contrib = edges
          .join(ranks.select(col("id").as("src"), col("r")), "src")
          .select(col("dst"),
            (col("r") / col("deg")).cast("decimal(30,15)").as("c"))
          .groupBy("dst").agg(sum(col("c")).cast("double").as("cs"))
        active
          .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit((1 - damping) / n) + lit(damping) *
              (coalesce(col("cs"), lit(0.0)) + lit(dangOf(rIso(round))) / lit(n)))
              .as("r"))
    }
    everyNode(ids(nodes, idCol), idCol, ranks.withColumnRenamed("r", "__label"),
      "pagerank", lit(rIso(iters)))
  }
}
