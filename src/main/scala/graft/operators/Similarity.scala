package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`) — the
  * training-data-pipeline ANN surface (BASELINE.json north star).
  *
  * Tiering:
  *  - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline.
  *    Queries are broadcast; the corpus is scanned once; native codegen'd
  *    [[graft.functions.DotProduct]] kernels; a window top-k per query.
  *    Cost O(|Q|·|corpus|·dim) — right when |Q| is small or the corpus
  *    fits a single scan budget.
  *  - [[lshCandidates]]/[[lshTopK]] — sign-random-projection LSH: each
  *    vector hashes to a `planes`-bit bucket; candidates = same bucket.
  *    The scale path: bucket join instead of cross product, recall tuned
  *    by plane count / multi-probe. Hyperplanes are generated from a fixed
  *    seed so plans are deterministic across runs and executors (they ride
  *    into the plan as literals — no RNG at execution time).
  *
  * All arithmetic is double (explicit upcast from float32) with a
  * sequential left-fold, so results are reproducible and oracle-matchable.
  */
object Similarity {

  /** float32 array → double array (explicit, so FP math is double-precision
    * everywhere — float accumulation drifts and is engine-dependent). */
  def asDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Sequential-fold dot product of two double arrays — a native codegen
    * [[graft.functions.DotProduct]] expression (bit-identical to the
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` composition it
    * replaces, ~2.7× faster: lambda HOFs evaluate outside whole-stage
    * codegen with per-element boxing; the expression emits the fused
    * multiply-add loop). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Pair cosine from per-side precomputed norms: inside a candidate join
    * use this (norms computed ONCE per row before the join) rather than
    * [[cosine]], which re-derives both norms per PAIR — 3 array
    * traversals per candidate instead of 1. Same arithmetic, same
    * result, third of the work where pairs ≫ rows. */
  private def pairCosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Exact cosine top-k: for each query row, the k nearest corpus rows
    * (excluding self-matches on id equality). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("match_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("__cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("cosine",
        pairCosine(col("qv"), col("cv"), col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "match_id", "cosine")
  }

  /** Symmetric per-vector int8 quantization: `q_i = round(x_i / scale)`,
    * `scale = max|x| / 127` — the storage layout a 100 TB embedding
    * store actually ships (4× smaller than float32, 8× smaller than the
    * double math we compute in). Returns `(scale: double, q: array<int>)`;
    * zero vectors get scale 1 so the division is total.
    *
    * Narrow codegen'd projection (two array folds + a transform), no
    * shuffle; reconstruction error per element is ≤ scale/2 by
    * construction (spec-proven). Engine-independent: double math +
    * half-away-from-zero rounding, so signatures hash-match the DuckDB
    * oracle exactly (`q_quantize` pins every element via an md5 over the
    * int array). */
  def quantize(vec: Column): Column = {
    val v = asDouble(vec)
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    val scale = when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
    // bind scale to a lambda variable so it is evaluated ONCE per row:
    // inlining it in the per-element lambda would re-run the O(d) maxAbs
    // fold for every element (Catalyst does not CSE across lambda
    // boundaries) — an O(d²) kernel
    element_at(transform(array(scale), s =>
      struct(s.as("scale"),
        transform(v, x => round(x / s).cast("int")).as("q"))), 1)
  }

  /** Integer dot product of two int-code arrays, summed as a long. */
  private def intDotCol(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact top-k over QUANTIZED vectors — what an int8 index serves.
    * The ranking kernel is the quantized COSINE, where the per-vector
    * scales cancel (`cos(ŝa·qa, ŝb·qb) = Σqa·qb / (|qa|·|qb|)`), so the
    * per-pair math is integer dot products only: exact, reproducible,
    * oracle-matchable, and directly comparable to [[bruteForceTopK]]
    * (ranking fidelity is spec-bounded). Int norms are computed once per
    * row before the join, mirroring [[pairCosine]]. */
  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    def side(df: DataFrame, as: String, v: String, n: String) =
      df.select(col(idCol).as(as), col(vecCol).as("__v"))
        .select(col(as), quantize(col("__v")).getField("q").as(v))
        .withColumn(n, sqrt(intDotCol(col(v), col(v)).cast("double")))
    val q = side(queries, "query_id", "qv", "__qn")
    val c = side(corpus, "match_id", "cv", "__cn")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("qcos",
        intDotCol(col("qv"), col("cv")).cast("double")
          / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "match_id", "qcos")
  }

  /** Element-wise mean of embeddings per key — the POOL step of the
    * chunk → embed → pool loop (doc vectors from chunk vectors, class
    * centroids from members). Output: `(keyCol, n, centroid)`.
    *
    * Plan: posexplode to `(key, dim-pos, x)` → one `(key, pos)` grouBy
    * with map-side partial avgs → reassemble each vector with a per-key
    * `collect_list` bounded by DIM (never by member count, so a key
    * with 100M members costs the same buffer as one with 10). Linear,
    * two shuffles of scalar rows. */
  def meanPool(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol),
        posexplode(asDouble(col(vecCol))).as(Seq("__p", "__x")))
      .groupBy(col(keyCol), col("__p"))
      .agg(avg(col("__x")).as("__m"), count(lit(1)).as("__c"))
      .groupBy(col(keyCol))
      .agg(max(col("__c")).as("n"),
        transform(array_sort(collect_list(struct(col("__p"), col("__m")))),
          x => x.getField("__m")).as("centroid"))

  /** Deterministic hyperplanes: planes × dim doubles in [-1, 1] from a
    * fixed-seed PRNG (seed 42, matching the corpus generator's ethos). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Centroid array as a plan literal with precomputed norms (cell id =
    * array position). Driver-side O(nlist·dim) — the IVF index itself,
    * not data. Norms use the same sequential left-fold the Spark
    * expression tree uses (bit-identical to norm()). */
  private def centroidLit(cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (v, cell) =>
      struct(lit(cell.toLong).as("cell"), typedlit(v.toSeq).as("centv"),
        lit(math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))).as("cnorm"))
    }: _*)

  /** Argmax-cosine cell for one row: one `transform` scoring every
    * centroid exactly once, `array_max` over (sim, −cell) structs —
    * ties to the lowest cell; see [[ivfTopK]] for why not a fold. */
  private def bestCell(cl: Column, v: Column, vNorm: Column): Column =
    -array_max(transform(cl, c =>
      struct(
        (dot(v, c.getField("centv")) /
          (vNorm * c.getField("cnorm"))).as("sim"),
        (-c.getField("cell")).as("negcell")))).getField("negcell")

  /** IVF (inverted-file) ANN: partition the corpus into `nlist` cells by
    * nearest centroid, probe the `nprobe` cells nearest each query, exact
    * cosine + top-k within probed cells — the classic IVF-Flat shape
    * (cells ≈ n/nlist vectors; work per query drops from O(n) to
    * O(nprobe·n/nlist + nlist)). Centroids here are SAMPLED
    * deterministically (the first `nlist` corpus vectors) rather than
    * k-means-trained: same structure and plan shape, lower recall,
    * fully reproducible and oracle-checkable; swapping in trained
    * centroids changes only the centroid frame.
    *
    * Scale: corpus cell assignment is SHUFFLE-FREE — the centroids are
    * collected driver-side (nlist × dim doubles: model-sized, like any
    * trained index structure) and embedded as one array-of-structs plan
    * literal with precomputed norms; each corpus row computes its
    * argmax-cosine cell inside the projection: one `transform` scoring
    * every centroid exactly once, then `array_max` over (sim, -cell)
    * structs (a fold with `when(sim > best)` would evaluate the dot
    * product TWICE per centroid — no CSE inside lambdas). A crossJoin +
    * `row_number().over(Window.partitionBy(id))` here would shuffle
    * O(corpus·nlist) scored rows just to keep 1 — 4096× data
    * amplification at nlist=4096. Ties break to the lowest cell (the
    * negated-cell struct field makes lexicographic max prefer the
    * smaller cell id), matching the window ordering the queries side
    * still uses (queries are tiny and need keep=nprobe, where the
    * window is the natural top-k). The probe join is keyed on the cell
    * id, never an all-pairs product. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val centRows = centroids.getOrElse {
      corpus.filter(col(idCol) < nlist).orderBy(col(idCol))
        .select(asDouble(col(vecCol))).collect()
        .map(_.getSeq[Double](0).toArray)
    }
    val centLit = centroidLit(centRows)
    val corpusCells = corpus
      .select(col(idCol).as("match_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("__n", norm(col("cv")))
      .withColumn("cell", bestCell(centLit, col("cv"), col("__n")))
      .select(col("match_id"), col("cell"), col("cv"), col("__n"))
    // query probes reuse the SAME collected centroid literal — explode it
    // per query row, score, keep the nprobe best cells. No second corpus
    // scan and no nested-loop join just to pair queries with centroids;
    // queries are tiny, so the unpartitioned probe window is O(|Q|·nlist).
    val queryProbes = {
      val scored = queries.select(col(idCol), asDouble(col(vecCol)).as("__v"))
        .withColumn("__n", norm(col("__v")))
        .select(col(idCol), col("__v"), col("__n"), explode(centLit).as("__c"))
        .withColumn("__sim",
          dot(col("__v"), col("__c.centv")) / (col("__n") * col("__c.cnorm")))
      val w = Window.partitionBy(idCol).orderBy(col("__sim").desc, col("__c.cell").asc)
      scored.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= nprobe)
        .select(col(idCol).as("query_id"), col("__c.cell").as("cell"),
          col("__v").as("qv"), col("__n").as("__qn"))
    }
    val scored = corpusCells.join(broadcast(queryProbes), "cell")
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("cosine",
        pairCosine(col("qv"), col("cv"), col("__qn"), col("__n")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "match_id", "cosine")
  }

  /** Persist the IVF-SQ8 ANN index — the build-once-probe-many shape a
    * 100 TB embedding store actually serves: IVF cell routing
    * ([[ivfTopK]]) with the int8 codes of [[quantize]] inside the
    * candidate join. Cell assignment and quantization are paid once per
    * corpus version, like [[graft.operators.Retrieval.buildIndex]] pays
    * tokenization once.
    *
    * Layout under `dir`:
    *  - `centroids` — (cell, centv) rows, the routing table (tiny:
    *    nlist·dim doubles; parquet round-trips doubles bit-exactly so
    *    probe-side routing reproduces build-side routing);
    *  - `codes` — (match_id, cell, cq int8-codes, cn code-norm), range-
    *    partitioned AND sorted by cell so a probe's `In(cell, …)`
    *    filter prunes row groups via min/max stats — the probe reads
    *    O(probed cells), not O(corpus), the [[Retrieval.bm25TopKIndexed]]
    *    term-sorted-postings move in vector space;
    *  - `cellstats` — (cell, n) per-cell counts (≤ nlist rows): the
    *    ADDITIVE audit ledger that lets [[updateAnnIndex]] merge a
    *    delta's counts exactly without rescanning the standing codes
    *    (the `io.Output` incremental-manifest pattern);
    *  - `stats` — 1-row audit (n_vectors, n_cells, dim, nlist),
    *    derived from cellstats;
    *  - `_INDEX_OK` — completion marker, written LAST.
    *
    * Default centroids are the corpus vectors with `id < nlist` —
    * NOT "the nlist lowest ids": the filter is a literal `id < nlist`
    * (the [[ivfTopK]] convention, oracle-replayable), so a corpus
    * missing some of those ids gets fewer than nlist cells, numbered
    * densely by ascending id, and a corpus whose ids don't start near
    * 0 must pass explicit centroids. */
  def buildAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist: Int,
      centroids: Option[Array[Array[Double]]] = None): Unit = {
    val spark = corpus.sparkSession
    val centRows = centroids.getOrElse {
      corpus.filter(col(idCol) < nlist).orderBy(col(idCol))
        .select(asDouble(col(vecCol))).collect()
        .map(_.getSeq[Double](0).toArray)
    }
    require(centRows.nonEmpty, "no centroids")
    val dim = centRows(0).length
    val centLit = centroidLit(centRows)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // a stale marker must not survive a partial rebuild
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK"), false)
    import spark.implicits._
    centRows.zipWithIndex
      .map { case (v, c) => (c.toLong, v.toSeq) }.toSeq
      .toDF("cell", "centv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // one corpus pass: assign + quantize; persisted across the two
    // write actions (codes + stats) so the kernel runs once
    val codes = corpus
      .select(col(idCol).as("match_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__n", norm(col("__cv")))
      .withColumn("cell", bestCell(centLit, col("__cv"), col("__n")))
      .select(col("match_id"), col("cell"),
        quantize(col("__cv")).getField("q").as("cq"))
      .withColumn("cn", sqrt(intDotCol(col("cq"), col("cq")).cast("double")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // r15 (guide §2.6): codes write and the cellstats ledger both
      // derive from the one persisted codes frame (CacheManager
      // computes each partition once under concurrent first use) —
      // overlapped. The two ledger-derived artifacts then overlap too.
      // Crash contract unchanged: marker deleted above, rewritten only
      // after every artifact write succeeds.
      var cellstats: org.apache.spark.sql.DataFrame = null
      Actions.inParallel(
        () => codes.repartitionByRange(col("cell"))
          .sortWithinPartitions("cell")
          .write.mode("overwrite").parquet(s"$dir/codes"),
        () => cellstats = codes.groupBy("cell")
          .agg(count(lit(1)).as("n")).localCheckpoint(true))
      Actions.inParallel(
        () => cellstats.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/cellstats"),
        () => writeAnnStats(cellstats, dir, dim.toLong, nlist.toLong))
      writeAnnMarker(fs, dir)
    } finally codes.unpersist(false)
  }

  /** Derive + write the 1-row `stats` audit from the per-cell ledger
    * (n_vectors = Σn exact longs, n_cells = ledger rows). */
  private def writeAnnStats(cellstats: DataFrame, dir: String,
      dim: Long, nlist: Long): Unit =
    cellstats
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
        count(lit(1)).as("n_cells"))
      .select(col("n_vectors"), col("n_cells"),
        lit(dim).as("dim"), lit(nlist).as("nlist"))
      .write.mode("overwrite").parquet(s"$dir/stats")

  /** Completion marker, written LAST. Content = a fresh UUID: version
    * token for the probe-side centroid cache (mtime granularity can't
    * distinguish two rebuilds within one second). */
  private def writeAnnMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK"), true)
    try out.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Incrementally merge `newVecs` into a completed [[buildAnnIndex]]
    * directory — the daily-embedding-batch move, mirroring
    * [[Retrieval.updateIndex]]: assignment and SQ8 quantization run
    * over the DELTA only (cost ∝ delta size), never the standing
    * corpus. Routing is PINNED: new vectors assign to the INDEX'S
    * stored centroids (that is the IVF update contract — cells never
    * move between retrains; when drift makes the routing stale, that
    * is a full rebuild, not an update). The resulting index probes
    * BIT-EQUAL to a from-scratch build over old∪new with the same
    * centroids:
    *  - codes: the delta's codes APPEND as new cell-sorted parquet
    *    files (row-group pruning holds per file; per-row quantization
    *    has no corpus dependence, and ranking ties break on match_id,
    *    so file interleaving is invisible);
    *  - cellstats: old ledger ⊕ delta counts, an exact long merge of
    *    ≤ nlist rows;
    *  - stats: recomputed from the merged ledger.
    *
    * Contract: `newVecs` ids must be DISJOINT from the indexed ids
    * (dedupe the delta first); re-adding an indexed id would serve the
    * vector twice. The completion marker drops before the first
    * mutation and is rewritten last, so a crash mid-update leaves a
    * visibly incomplete index, never a silently stale one. */
  def updateAnnIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = newVecs.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK")),
      s"updateAnnIndex needs a completed index at $dir (run buildAnnIndex)")
    val cents = loadCentroids(spark, dir)
    val centLit = centroidLit(cents)
    val codes = newVecs
      .select(col(idCol).as("match_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__n", norm(col("__cv")))
      .withColumn("cell", bestCell(centLit, col("__cv"), col("__n")))
      .select(col("match_id"), col("cell"),
        quantize(col("__cv")).getField("q").as("cq"))
      .withColumn("cn", sqrt(intDotCol(col("cq"), col("cq")).cast("double")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the merged ledger MATERIALIZES (localCheckpoint) before the
      // artifact it reads is overwritten. r15 (guide §2.6): the ledger
      // merge, the carried-stats read and the delta-dimension gate are
      // mutually independent pre-mutation jobs — overlapped; the gate
      // still fires BEFORE any mutation because everything below waits.
      var cellstats: org.apache.spark.sql.DataFrame = null
      var carried: org.apache.spark.sql.Row = null
      var deltaDim: Array[org.apache.spark.sql.Row] = null
      Actions.inParallel(
        () => cellstats = spark.read.parquet(s"$dir/cellstats")
          .unionByName(codes.groupBy("cell").agg(count(lit(1)).as("n")))
          .groupBy("cell").agg(sum(col("n")).as("n"))
          .localCheckpoint(true),
        () => carried = spark.read.parquet(s"$dir/stats")
          .select("dim", "nlist").head(),
        // dimension gate BEFORE any mutation: a delta from a different
        // embedding model would quantize and append without error, then
        // corrupt every later probe — fail fast while the index is intact
        () => deltaDim = codes.select(size(col("cq"))).limit(1).collect())
      require(deltaDim.isEmpty ||
        deltaDim(0).getInt(0).toLong == carried.getLong(0),
        s"updateAnnIndex: delta dimension ${deltaDim.headOption
          .map(_.getInt(0)).getOrElse(0)} != index dim " +
          s"${carried.getLong(0)} at $dir — wrong embedding model? " +
          "Rebuild the index for a new vector space.")
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK"), false)
      // three independent mutations (append + two overwrites of
      // already-materialized frames) — overlapped; marker after all
      Actions.inParallel(
        () => codes.repartitionByRange(col("cell"))
          .sortWithinPartitions("cell")
          .write.mode("append").parquet(s"$dir/codes"),
        () => cellstats.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/cellstats"),
        () => writeAnnStats(cellstats, dir, carried.getLong(0),
          carried.getLong(1)))
      writeAnnMarker(fs, dir)
    } finally codes.unpersist(false)
  }

  /** Rewrite a fragmented `codes` directory back to the fresh-build
    * layout — the table-maintenance pass that closes the
    * [[updateAnnIndex]] loop (the [[graft.io.Compact.compactShards]]
    * move in vector space): every update APPENDS one cell-sorted file
    * set, so after many small deltas the probe's row-group pruning
    * still holds per FILE but the scan pays per-file open/footer and
    * per-split scheduler costs ∝ number of updates, not ∝ data — at
    * 1000 executors the file listing alone becomes a driver
    * bottleneck. No-op (returns false) while the codes dir holds ≤
    * `maxFiles` data files; otherwise ONE pass reads the codes and
    * rewrites them as `ceil(bytes / targetBytes)` cell-range
    * partitions, each sorted by cell (min/max stats prune row groups
    * inside a file exactly as across files).
    *
    * Content is untouched, and ranking ties break on `match_id`, so a
    * probe against the compacted index is BIT-EQUAL to one against
    * the fragmented index (and to a from-scratch build) — the
    * [[annTopKIndexed]] driver gate runs the same oracle over it.
    * `centroids`/`cellstats`/`stats` carry unchanged — and so does
    * `_INDEX_OK`: the marker validates content (and keys the centroid
    * cache), and compaction changes neither, so unlike build/update it
    * is NOT dropped — every crash window leaves a complete index. The
    * two-rename swap keeps the old layout readable until one rename
    * flips it (the [[graft.io.Compact.compactShards]] posture); a
    * death between the renames self-heals on the next call (rolled
    * back from `codes_precompact`, marker still valid). Single-writer
    * maintenance: don't run concurrently with update/rebuild on the
    * same dir. */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxFiles: Int = 16,
      targetBytes: Long = 128L << 20): Boolean = {
    require(maxFiles >= 1 && targetBytes >= 1L,
      "maxFiles and targetBytes must be >= 1")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val codesP = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val oldP = new org.apache.hadoop.fs.Path(s"$dir/codes_precompact")
    // recovery for a death between rename(codes, old) and
    // rename(tmp, codes): the data survives solely at codes_precompact
    if (!fs.exists(codesP) && fs.exists(oldP))
      require(fs.rename(oldP, codesP),
        s"recovery rename $oldP -> $codesP failed")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK")),
      s"compactAnnIndex needs a completed index at $dir (run buildAnnIndex)")
    val files = fs.listStatus(codesP).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    if (files.size <= maxFiles) return false
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    require(nOut <= Int.MaxValue.toLong,
      s"compaction plan wants $nOut output files (> Int.Max) — raise " +
        s"targetBytes ($targetBytes) for this index size")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/codes_compacting")
    fs.delete(tmp, true)
    spark.read.parquet(codesP.toString)
      .repartitionByRange(nOut.toInt, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(oldP, true)
    require(fs.rename(codesP, oldP), s"rename $codesP -> $oldP failed")
    require(fs.rename(tmp, codesP), s"rename $tmp -> $codesP failed")
    fs.delete(oldP, true)
    true
  }

  /** [[buildAnnIndex]] unless `dir` already holds a completed index
    * (`_INDEX_OK`) — returns true when a build ran. */
  def ensureAnnIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nlist: Int,
      centroids: Option[Array[Array[Double]]] = None): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir),
      corpus.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK"))) false
    else { buildAnnIndex(corpus, idCol, vecCol, dir, nlist,
      centroids = centroids); true }
  }

  /** The index's 1-row audit read back from `dir` — what a
    * [[buildAnnIndex]] actually wrote (n_cells is the distributed
    * check: it replays the full corpus assignment). */
  def annIndexStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"$dir/stats")
      .select("n_vectors", "n_cells", "dim", "nlist")

  /** Stored routing table, cached ONE ENTRY PER DIR keyed by the
    * completion marker's CONTENT (a UUID the build writes): a probe
    * service loads the centroids once per index version and routes
    * every batch against the in-memory copy — re-reading nlist·dim
    * doubles per batch is a Spark job of pure latency. Content, not
    * mtime: filesystem mtime granularity is 1 s on many FSs, so two
    * rebuilds within a second would serve STALE centroids against
    * fresh codes; the per-dir replace (not per-version accumulate)
    * also bounds the cache at one live centroid array per index. An
    * incomplete index (no marker) never caches. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, Array[Array[Double]])]()

  private def readMarkerToken(fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        // loop to EOF: HDFS-style streams may short-read, and a
        // truncated token cached under the dir key would systematically
        // miss (every probe re-reading centroids from parquet)
        val buf = new Array[Byte](128)
        var off = 0
        var n = 0
        while (off < buf.length && { n = in.read(buf, off, buf.length - off)
            n >= 0 }) off += n
        Some(new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val token = readMarkerToken(fs,
      new org.apache.hadoop.fs.Path(s"$dir/_INDEX_OK"))
    token.flatMap(t => Option(centroidCache.get(dir)).filter(_._1 == t)
        .map(_._2))
      .getOrElse {
        val rows = spark.read.parquet(s"$dir/centroids")
          .orderBy("cell").collect()
          .map(_.getSeq[Double](1).toArray)
        token.foreach(t => centroidCache.put(dir, (t, rows)))
        rows
      }
  }

  /** IVF-SQ8 top-k against a [[buildAnnIndex]] directory: [[ivfTopK]]'s
    * cell routing composed with [[quantizedTopK]]'s quantized cosine
    * (codes and norms round-trip parquet exactly), so the index is a
    * pure cost move — `q_ann_indexed`'s oracle replays both from the raw
    * embeddings.
    *
    * Probe routing: a batch of up to `maxDriverRoutedQueries` routes on
    * the DRIVER against the cached stored centroids — |Q|·nlist·dim
    * flops of plain double math, zero Spark jobs — replicating the
    * distributed kernels bit-for-bit (sequential-fold dot, Spark's
    * double total order for the (sim desc, cell asc) tie-break,
    * BigDecimal HALF_UP for the SQ8 rounding; the probe≡in-query
    * equality spec and the driver oracle both re-verify every value).
    * Bigger batches fall back to the distributed routing job. Either
    * way the probed cell ids push into the codes scan as an
    * `In(cell, …)` filter — the cell-sorted layout prunes every row
    * group outside the probed cells, so the probe reads O(matched
    * cells), never the corpus, and the small-batch path is ONE job:
    * the pruned scan + broadcast probe join + rank. */
  /** Driver-side probe routing for a SMALL query batch: |Q|·nlist·dim
    * flops of plain double math replicating the distributed kernels
    * bit-for-bit — sequential-fold dot ([[graft.functions.DotProduct]]'s
    * loop order), `java.lang.Double.compare` for the (sim desc, cell
    * asc) pick (Spark's double total order: NaN greatest, -0.0 < 0.0),
    * and scala BigDecimal HALF_UP for the SQ8 rounding (what Catalyst's
    * Round does for doubles). Returns the (query_id, cell, qq, __qn)
    * probe frame (a local relation — no job) and the sorted distinct
    * probed cells. */
  private def driverRoutedProbes(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String,
      rows: Array[org.apache.spark.sql.Row],
      cents: Array[Array[Double]], nprobe: Int)
      : (DataFrame, Array[Long]) = {
    import org.apache.spark.sql.types._
    def dotS(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cnorms = cents.map(v => math.sqrt(dotS(v, v)))
    val probeRows = rows.toSeq.flatMap { r =>
      val id = r.get(0)
      val v = r.getSeq[Double](1).toArray
      val n = math.sqrt(dotS(v, v))
      // `+ 0.0` collapses -0.0 to 0.0: Catalyst's double ordering
      // (SQLOrderingUtil) treats them equal and falls to the cell-asc
      // tie-break, while java.lang.Double.compare orders -0.0 < 0.0 —
      // without the normalization an underflowed sim could pick
      // different probe cells on the driver vs distributed path
      val picked = cents.indices
        .map(c => (dotS(v, cents(c)) / (n * cnorms(c)) + 0.0, c.toLong))
        .sortWith { case ((s1, c1), (s2, c2)) =>
          val cmp = java.lang.Double.compare(s2, s1)
          if (cmp != 0) cmp < 0 else c1 < c2
        }
        .take(nprobe).map(_._2)
      val maxAbs = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x)))
      val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
      val qq = v.toSeq.map(x => BigDecimal(x / scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toInt)
      val qn = math.sqrt(qq.foldLeft(0L)((acc, q) => acc + q.toLong * q)
        .toDouble)
      picked.map(cell => org.apache.spark.sql.Row(id, cell, qq, qn))
    }
    val idField = queries.select(col(idCol)).schema.fields(0)
    val schema = StructType(Seq(
      idField.copy(name = "query_id"),
      StructField("cell", LongType, nullable = false),
      StructField("qq", ArrayType(IntegerType, containsNull = false)),
      StructField("__qn", DoubleType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(probeRows.asJava, schema)
    (df, probeRows.map(_.getLong(1)).distinct.sorted.toArray)
  }

  /** Distributed probe routing — the big-batch fallback: one job scores
    * every (query, centroid) pair, one window picks nprobe per query,
    * localCheckpoint so the cells collect and the probe join execute
    * the kernel exactly once. */
  private def distributedProbes(spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], nprobe: Int): (DataFrame, Array[Long]) = {
    val centLit = centroidLit(cents)
    val scored = queries
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .select(col(idCol), col("__v"), col("__n"),
        explode(centLit).as("__c"))
      .withColumn("__sim",
        dot(col("__v"), col("__c.centv")) / (col("__n") * col("__c.cnorm")))
    val w = Window.partitionBy(idCol)
      .orderBy(col("__sim").desc, col("__c.cell").asc)
    val probes = scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .select(col(idCol).as("query_id"), col("__c.cell").as("cell"),
        quantize(col("__v")).getField("q").as("qq"))
      .withColumn("__qn",
        sqrt(intDotCol(col("qq"), col("qq")).cast("double")))
      .localCheckpoint(true)
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    (probes, cells)
  }

  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, maxDriverRoutedQueries: Int = 4096): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be >= 1")
    val centRows = loadCentroids(spark, dir)
    val qCollected = queries
      .select(col(idCol), asDouble(col(vecCol)))
      .limit(maxDriverRoutedQueries + 1).collect()
    val (queryProbes, probedCells) =
      if (qCollected.length <= maxDriverRoutedQueries)
        driverRoutedProbes(spark, queries, idCol, qCollected, centRows,
          nprobe)
      else distributedProbes(spark, queries, idCol, vecCol, centRows,
        nprobe)
    val scored = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells: _*))
      .join(broadcast(queryProbes), "cell")
      // null-safe self-exclusion (the Retrieval.bm25 convention): a
      // plain =!= is null when either id is null and would silently
      // drop every candidate row for that query
      .filter(!(col("query_id") <=> col("match_id")))
      .withColumn("qcos",
        intDotCol(col("qq"), col("cq")).cast("double")
          / (col("__qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "match_id", "qcos")
  }

  /** Embedding-cosine near-dup dedup — the vector analog of
    * [[Dedup.lshDedup]], BANDED: `bands` independent SRP plane sets of
    * `planesPerBand` bits each (seeded hyperplanes → deterministic plan
    * literals); candidate pairs agree on ANY band's full bucket id; verify
    * at cosine ≥ τ; drop the larger id of each verified pair (keep-min).
    *
    * Why banding: a single fixed-plane bucket join has expected pair count
    * n²/2^planes — quadratic in corpus size at ANY fixed plane count. With
    * banding, `planesPerBand` is sized to the target bucket
    * (≈ log₂(n/bucket_target), so buckets stay O(bucket_target) as n
    * grows) and `bands` independently recovers recall: near-identical
    * vectors (per-bit agreement p ≈ 1 − θ/π → 1) agree on all bits of at
    * least one band with probability 1 − (1 − p^planesPerBand)^bands.
    * E.g. at cos ≈ 0.99: 4×8-bit bands catch ≈ 99% of true pairs while
    * generating 4·n²/2⁸ candidates — 4× fewer than the old 4-plane single
    * projection, with better recall.
    *
    * `maxBucket` is the skew guard for correlated embeddings (dense
    * regions → hot buckets): per-(band, bucket) counts are aggregated
    * map-side (pass 1), the tiny over-cap set is broadcast-anti-joined out
    * (pass 2) BEFORE the self-join, so one hot bucket can never emit a
    * quadratic pair list. Capped buckets lose recall only for vectors
    * whose every band is over-cap — by construction regions so dense that
    * near-dup pairs there are better handled by raising planesPerBand.
    * Vectors ride the band rows (like signatures in lshDedup), so the
    * corpus scan appears exactly twice in the plan (the two join sides) —
    * no join-back to fetch vectors for the verify. */
  def cosineDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, bands: Int, planesPerBand: Int, dim: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val hp = hyperplanes(bands * planesPerBand, dim)
    val e = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v"))) // per row, BEFORE pair fan-out
    val bandCols = (0 until bands).map { b =>
      val bucket = (0 until planesPerBand).map { i =>
        val pl = typedlit(hp(b * planesPerBand + i).toSeq)
        when(dot(col("__v"), pl) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    // r14: persisted — the banded frame feeds the cap aggregation and
    // BOTH self-join sides, and without the cache boundary each
    // consumer re-derives the whole projection (float→double transform,
    // norm, 32 plane dots per row), with constraint inference
    // additionally cloning the norm expression into isnotnull filters
    // below the projection (measured: the duplicated kernels, not the
    // verify, dominated q_dedup_embed's CPU). Columnar cache → pruned
    // reads per consumer; the removed-id set is eagerly checkpointed
    // while the cache is alive and released in finally (the jaccardJoin
    // cache protocol).
    val keyed = e
      .withColumn("__bb", explode(array(bandCols: _*)))
      .select(col(idCol), col("__v"), col("__n"),
        col("__bb.band").as("__band"), col("__bb.bucket").as("__bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val safe =
        if (maxBucket == Int.MaxValue) keyed
        else {
          val overCap = keyed.groupBy("__band", "__bucket")
            .agg(count(lit(1)).as("__cnt"))
            .filter(col("__cnt") > maxBucket)
            .select("__band", "__bucket")
          keyed.join(broadcast(overCap), Seq("__band", "__bucket"),
            "left_anti")
        }
      val removed = safe.as("a")
        .join(safe.as("b"),
          col("a.__band") === col("b.__band") &&
            col("a.__bucket") === col("b.__bucket") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .filter(pairCosine(col("a.__v"), col("b.__v"),
          col("a.__n"), col("b.__n")) >= tau)
        .select(col(s"b.$idCol").as(idCol))
        .distinct()
        .localCheckpoint(true)
      corpus.join(removed, Seq(idCol), "left_anti")
    } finally keyed.unpersist(false)
  }

  /** SemDeDup-shaped semantic dedup: cluster the corpus (argmax-cosine
    * assignment to `centroids`, e.g. trained k-means centroids),
    * compare pairs only WITHIN a cell, drop the higher-id member of every
    * pair with cosine ≥ `tau`. Complements [[cosineDedup]]: SRP banding
    * is data-independent (stable under corpus growth, oracle-checkable
    * with plane literals), k-means cells follow the data distribution —
    * fewer, tighter candidate sets when the corpus is clustered, which is
    * exactly the semantic-dedup regime (Abbas et al., SemDeDup: embed →
    * k-means → within-cluster cosine prune).
    *
    * Scale shape: assignment is the shuffle-free [[bestCell]] projection
    * (centroids ride as a plan literal); the self-join is equi-keyed on
    * the cell id so pair count is Σ n_c², bounded by the cap: cells over
    * `maxCell` members are counted map-side, broadcast, and anti-joined
    * out before the join — one dense mega-cluster can never emit a
    * quadratic pair list (re-cluster with larger nlist to dedup inside
    * it). Vectors+norms ride the cell rows, so the corpus scan appears
    * exactly twice (the two join sides), no fetch-back join. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      maxCell: Int = Int.MaxValue): DataFrame = {
    val centLit = centroidLit(centroids)
    // persisted for the same reason as [[cosineDedup]]'s banded frame
    // (r14): the cap aggregation and both self-join sides otherwise
    // re-derive the float→double transform, the norm and the k-centroid
    // argmax per consumer, with constraint inference cloning the norm
    // into scan-adjacent isnotnull filters
    val keyed = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
      .withColumn("__cell", bestCell(centLit, col("__v"), col("__n")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val safe =
        if (maxCell == Int.MaxValue) keyed
        else {
          val overCap = keyed.groupBy("__cell")
            .agg(count(lit(1)).as("__cnt"))
            .filter(col("__cnt") > maxCell)
            .select("__cell")
          keyed.join(broadcast(overCap), Seq("__cell"), "left_anti")
        }
      val removed = safe.as("a")
        .join(safe.as("b"),
          col("a.__cell") === col("b.__cell") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .filter(pairCosine(col("a.__v"), col("b.__v"),
          col("a.__n"), col("b.__n")) >= tau)
        .select(col(s"b.$idCol").as(idCol))
        .distinct()
        .localCheckpoint(true)
      corpus.join(removed, Seq(idCol), "left_anti")
    } finally keyed.unpersist(false)
  }

  /** Diversity-preserving subsample — per-cluster quota sampling over
    * the embedding space (the D4/SemDeDup-adjacent curation move:
    * instead of keeping a uniform `fraction` of the corpus, keep at
    * most `quota` docs from each semantic cell, so dense semantic
    * clusters — boilerplate farms, templated pages — can't dominate the
    * sampled set and rare regions survive whole).
    *
    * Cell assignment is the [[ivfTopK]] argmax-cosine against
    * `centroids` (plan literals, zero-shuffle narrow map; zero-norm
    * vectors land in cell −1 and are kept outside any quota, with
    * `pos = 0`). Within a cell, the kept rows are the `quota` smallest
    * (md5-uniform(id, salt), id) — the deterministic, append-stable
    * draw every sampler here uses.
    *
    * Scale shape: argmax assignment bounds the NUMBER of cells, not a
    * cell's POPULATION — a semantically hot cell (the boilerplate
    * cluster every web crawl has) would funnel through one window
    * partition. So the draw is two-pass (the [[Sampling.stratifiedTopK]]
    * guard): per-cell counts broadcast back, each real cell
    * pre-filtered to an expected `margin·quota` survivors by the SAME
    * hash the window orders on, and only survivors are ranked —
    * ~margin·quota rows per partition regardless of cell skew. The
    * pre-filter keeps a superset of the winners (P[fewer than quota of
    * n rows hash under margin·quota/n] is Chernoff-negligible at
    * margin 8), so the kept set is identical to the unguarded draw.
    * Zero-norm rows are never RANKED (pos is pinned to 0): the window
    * partitions them by a per-row spread key instead of the shared −1,
    * so they cannot funnel either — and the whole plan stays two
    * kernel passes (counts + main; a union of separate −1/real
    * branches would have scanned and re-assigned a third time).
    *
    * Output: the kept rows with `cell` and `pos` (1-based rank within
    * the cell's draw; 0 for the unranked cell −1). */
  def diversitySample(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], quota: Int,
      salt: String = "", margin: Double = 8.0): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val centLit = centroidLit(centroids)
    // materialize the assignment ONCE (checkpoint protocol): `cell` is
    // referenced by the counts agg, the join key, the window key, and
    // two filters — left lazy, the counts job re-runs the kernel AND
    // project-collapse inlines it per use site (measured 4.6 s vs the
    // 1.0 s single-pass kernel at sf1). One corpus materialization
    // replaces 2+ kernel passes; at production shapes (nlist·dim flops
    // per row ≫ row IO) that is the cheap side of the trade.
    val keyed = corpus
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__n", norm(col("__v")))
      .withColumn("cell",
        when(col("__n") > 0, bestCell(centLit, col("__v"), col("__n")))
          .otherwise(lit(-1L)))
      .drop("__v", "__n")
      .localCheckpoint(true)
    val counts = keyed.filter(col("cell") =!= -1L)
      .groupBy("cell").agg(count(lit(1)).as("__cn"))
    // left join: cell −1 carries a null count and skips the pre-draw
    val pre = keyed.join(broadcast(counts), Seq("cell"), "left")
      .withColumn("__u", Sampling.hashUniform(col(idCol), salt))
      .filter(col("cell") === -1L || col("__u") <
        least(lit(1.0), lit(margin * quota) / col("__cn")))
    // zero-norm rows spread over per-row synthetic keys (all < 0, so
    // they can't collide with a real cell); their row_number lands in
    // singleton-ish partitions and is discarded by the `when` below
    val wkey = when(col("cell") >= 0, col("cell"))
      .otherwise(lit(-2L) - pmod(xxhash64(col(idCol)), lit(1024L)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(wkey)
      .orderBy(col("__u").asc, col(idCol).asc)
    pre.withColumn("pos",
        when(col("cell") === -1L, lit(0))
          .otherwise(row_number().over(w)))
      .filter(col("cell") === -1L || col("pos") <= quota)
      .drop("__u", "__cn")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — diversity-aware selection over a retrieval candidate
    * list: greedily pick the candidate maximizing
    *
    *   mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ S} cos(d, s)
    *
    * (max term 0 while S is empty, so the first pick is the most
    * relevant candidate), repeating k times. The RAG-assembly step
    * after [[graft.operators.Retrieval.rrfFuse]]: relevance alone
    * returns near-duplicate passages; MMR trades it off against
    * redundancy with what's already selected.
    *
    * Input must carry `(query_id, doc_id, rel, v)` — rel is the
    * retrieval score, `v` the candidate's embedding (double array).
    * Zero-norm candidate vectors are dropped up front (the
    * [[cellOutliers]] convention): their cosine is NaN, which would
    * propagate through the max-sim term and make candidates silently
    * unpickable — and NaN ordering is the one place the greedy
    * trajectory could diverge from the recursive-CTE oracle.
    * Output: `(query_id, rank, doc_id, mmr)` — mmr as at selection
    * time. Ties in the greedy argmax resolve to the LOWEST doc_id
    * (candidates are scanned in doc_id order with a strict `>`).
    *
    * Determinism: every mmr term is a fixed-order chain of IEEE ops —
    * cosine folds left-to-right over dimensions (the list_dot_product
    * order), the pairwise max is order-free exact, and λ/(1−λ) are
    * computed once the same way in any engine — so the greedy
    * trajectory replays bit-exact (oracle: a recursive CTE selecting
    * one row per query per step).
    *
    * Scale shape: greedy MMR is inherently sequential in k, so it runs
    * per query group via `flatMapGroups` — the sanctioned pattern for
    * honestly-sequential per-key recurrences. Candidate lists are
    * top-N retrieval outputs (bounded, ≤ hundreds per query); groups
    * are independent and parallel across queries. The corpus never
    * enters — only the candidate frame. */
  def mmrRerank(candidates: DataFrame, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val mu = 1.0 - lambda
    val ds = candidates.select(col("query_id").cast("long"),
        col("doc_id").cast("long"), col("rel").cast("double"),
        asDouble(col("v")).as("__v"))
      .filter(norm(col("__v")) > 0) // NaN-cosine guard — see scaladoc
      .as[(Long, Long, Double, Seq[Double])]

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) { // left-to-right: the list_dot_product fold
        dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i)
        i += 1
      }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }

    ds.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cand = it.toArray.sortBy(_._2) // doc_id asc: the scan order
      val vecs = cand.map(_._4.toArray)
      val n = cand.length
      val picked = new Array[Boolean](n)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Double)]
      var step = 1
      var done = false
      while (step <= k && !done) {
        var bestIdx = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            var ms = 0.0
            if (sel.nonEmpty) {
              ms = Double.NegativeInfinity
              sel.foreach(s => ms = math.max(ms, cos(vecs(i), vecs(s))))
            }
            val score = lambda * cand(i)._3 - mu * ms
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          i += 1
        }
        if (bestIdx < 0) done = true
        else {
          picked(bestIdx) = true
          sel += bestIdx
          out += ((qid, step, cand(bestIdx)._2, bestScore))
          step += 1
        }
      }
      out.iterator
    }.toDF("query_id", "rank", "doc_id", "mmr")
  }

  /** Per-cell embedding outliers — the `m` LEAST-typical members of
    * each semantic cell (lowest cosine to the cell's own centroid):
    * the corpus-audit view that surfaces mislabeled/garbage vectors
    * cell by cell. Assignment is the [[ivfTopK]] argmax-cosine against
    * `centroids` (plan literals, narrow codegen'd map — the cosine to
    * the WINNING cell is exactly the argmax's sim, one pass); zero-norm
    * vectors are excluded (no angle). The ranking window partitions by
    * cell (capacity-bounded by the centroid count, never global).
    * Output: `(cell, idCol, cos_centroid, pos)` with pos 1 = most
    * atypical. */
  def cellOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int): DataFrame = {
    require(m >= 1, "m must be >= 1")
    val centLit = centroidLit(centroids)
    val best = array_max(transform(centLit, c =>
      struct(
        (dot(col("__v"), c.getField("centv")) /
          (col("__n") * c.getField("cnorm"))).as("sim"),
        (-c.getField("cell")).as("negcell"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    corpus
      .withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__n", norm(col("__v")))
      .filter(col("__n") > 0)
      .withColumn("__best", best)
      .withColumn("cell", -col("__best").getField("negcell"))
      .withColumn("cos_centroid", col("__best").getField("sim"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= m)
      .select(col("cell"), col(idCol), col("cos_centroid"), col("pos"))
  }

  /** LSH-bucketed ANN, BANDED like [[cosineDedup]]: the `planes`
    * hyperplanes split into `bands` independent sets of planes/bands
    * bits; a corpus vector is a candidate for a query iff they agree on
    * ALL bits of ANY band, then exact cosine + top-k over the distinct
    * candidates. Banding is what makes the recall usable: one monolithic
    * p-bit bucket has match probability (1−θ/π)^p — 0.04 at θ=60°, p=8,
    * measured 0.02 top-5 recall on the test embeddings — while B bands
    * of p/B bits recover 1−(1−(1−θ/π)^{p/B})^B ≈ 0.59 at the same total
    * plane count, with per-band buckets of n/2^{p/B} expected vectors
    * (`bands = 1` degenerates to the monolithic bucket). */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, dim: Int, bands: Int = 1,
      multiProbe: Int = 0): DataFrame = {
    require(bands >= 1 && planes % bands == 0, "bands must divide planes")
    val per = planes / bands
    require(multiProbe >= 0 && multiProbe <= per,
      "multiProbe flips at most all band bits")
    val hp = hyperplanes(planes, dim)
    // 2^i for a dynamic bit index (functions.shiftleft needs a literal);
    // exact in double for i < 53, and per ≤ 60 bits by construction
    def bit(i: Column): Column =
      pow(lit(2.0), i.cast("double")).cast("long")
    def banded(df: DataFrame, id: String, vout: String, nout: String,
        probe: Int) = {
      val e = df.select(col(idCol).as(id), asDouble(col(vecCol)).as(vout))
        .withColumn(nout, norm(col(vout)))
      // plane dots are MATERIALIZED per (row, band) so bucket and probe
      // derivations below read data, never re-run the O(dim) dot
      val bandCols = (0 until bands).map { b =>
        val dots = array((0 until per).map { i =>
          val pl = typedlit(hp(b * per + i).toSeq)
          struct(dot(col(vout), pl).as("d"), lit(i).as("i"))
        }: _*)
        struct(lit(b).as("band"), dots.as("dots"))
      }
      val withDots = e.withColumn("__bb", explode(array(bandCols: _*)))
        .select(col(id), col(vout), col(nout),
          col("__bb.band").as("__band"), col("__bb.dots").as("__dots"))
      val bucket = aggregate(col("__dots"), lit(0L), (acc, x) =>
        acc + when(x.getField("d") >= 0, bit(x.getField("i")))
          .otherwise(lit(0L)))
      if (probe == 0)
        withDots.withColumn("__bucket", bucket).drop("__dots")
      else {
        // query-directed multi-probe: also probe the buckets obtained by
        // flipping the `probe` LEAST-CONFIDENT bits (smallest |dot| —
        // the planes the vector most plausibly sits on the other side
        // of). Probing expands only the tiny query side; the corpus
        // keeps one bucket per band.
        val byMargin = array_sort(transform(col("__dots"), x =>
          struct(abs(x.getField("d")).as("m"), x.getField("i").as("i"))))
        val flips = transform(slice(byMargin, 1, probe), x => x.getField("i"))
        withDots.withColumn("__b0", bucket)
          .withColumn("__bucket", explode(concat(array(col("__b0")),
            transform(flips, i => col("__b0").bitwiseXOR(bit(i))))))
          .drop("__dots", "__b0")
      }
    }
    val q = banded(queries, "query_id", "qv", "__qn", multiProbe)
    val c = banded(corpus, "match_id", "cv", "__cn", 0)
    val scored = c.join(broadcast(q), Seq("__band", "__bucket"))
      .filter(col("query_id") =!= col("match_id"))
      // a pair agreeing on several bands scores once
      .dropDuplicates("query_id", "match_id")
      .withColumn("cosine",
        pairCosine(col("qv"), col("cv"), col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("match_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "match_id", "cosine")
  }

  // ──────────────── linear-probe sufficient statistics ────────────────
  //
  // A one-vs-rest ridge probe on embeddings (the fastText-style
  // quality classifier of the big-crawl pipelines, with the embedding
  // model as the featurizer) trains from sufficient statistics only:
  // XᵀX and XᵀY over bias-augmented vectors, ONE distributed pass with
  // map-side combine; the (d+1)×(d+1) solve is model-sized driver work.
  // Statistics accumulate as DECIMAL(30,12) — partition-order-
  // independent, so the stats frame is bit-deterministic and
  // DuckDB-oracle-matchable (the per-row float→double products are
  // IEEE-exact in both engines; only the SUM needs the exact type).
  // Swap the decimal sums for per-partition BLAS + treeAggregate if
  // raw throughput ever matters more than exactness — same plan shape.

  /** Upper-triangle XᵀX of the bias-augmented embedding, as
    * `(i, j, xtx)` rows with i ≤ j (d+1 choose 2 + d+1 entries).
    *
    * Kernel: a per-partition `mapPartitions` accumulator of exact
    * BigDecimal partials (the sequential-kernel idiom the media codecs
    * use) — each partition emits its (d+1)(d+2)/2 partial sums, one
    * tiny exchange merges them under Spark's decimal sum. Semantics
    * are IDENTICAL to the declarative
    * `explode → cast(decimal(30,12)) → sum` form this replaces
    * (`BigDecimal.valueOf(x).setScale(12, HALF_UP)` is the same
    * shortest-repr + HALF_UP rule as Spark's double→decimal cast, and
    * decimal addition is order-free), but the hot loop is d²/2 fused
    * multiply-adds per row instead of materializing d²/2 struct rows
    * through a hash aggregate — measured 3× on the sf0.1 corpus.
    * Deterministic and DuckDB-oracle-matchable like every decimal-sum
    * stat here. */
  def probeGram(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, IntegerType,
      StructField, StructType}
    val d1 = dimOf(df, vecCol) + 1
    val n = d1 * (d1 + 1) / 2
    val schema = StructType(Seq(StructField("k", IntegerType, false),
      StructField("v", DecimalType(30, 12), false)))
    val partials = df.select(asDouble(col(vecCol)).as("__v"))
      .mapPartitions { it =>
        // same rule as Spark's double→decimal(30,12) cast (shortest
        // decimal repr, HALF_UP at scale 12), but through the
        // boundary-guarded long fast path — a per-term BigDecimal
        // chain costs a Double.toString each and dominated this
        // aggregate at rows×d² volume (measured ~10× on q_probe_stats)
        val acc = Array.fill(n)(new graft.functions.Dec12Acc)
        val aug = new Array[Double](d1)
        aug(d1 - 1) = 1.0
        it.foreach { r => if (!r.isNullAt(0)) {
          val v = r.getSeq[Double](0)
          var i = 0
          while (i < d1 - 1) { aug(i) = v(i); i += 1 }
          var k = 0
          i = 0
          while (i < d1) {
            val ai = aug(i)
            var j = i
            while (j < d1) {
              acc(k).add(ai * aug(j))
              j += 1; k += 1
            }
            i += 1
          }
        } }
        Iterator.tabulate(n)(k => Row(k, acc(k).value))
      }(org.apache.spark.sql.Encoders.row(schema))
    // k indexes the upper triangle row-major: (i, j) as literal lookups
    val ks = for (i <- 0 until d1; j <- i until d1) yield (i, j)
    val iLit = typedlit(ks.map(_._1))
    val jLit = typedlit(ks.map(_._2))
    partials.groupBy("k").agg(sum(col("v")).cast("double").as("xtx"))
      .select(element_at(iLit, col("k") + 1).as("i"),
        element_at(jLit, col("k") + 1).as("j"), col("xtx"))
  }

  /** Per-class XᵀY (one-vs-rest targets) plus class counts:
    * `(label, i, xty, n)` — one explode of the d+1 augmented entries
    * per row, keyed by (label, position). */
  def probeMoments(df: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val d1 = dimOf(df, vecCol) + 1
    df.select(col(labelCol).cast("long").as("label"),
        concat(asDouble(col(vecCol)), array(lit(1.0))).as("__aug"))
      .select(col("label"), posexplode(col("__aug")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(sum(col("x").cast("decimal(30,12)")).cast("double").as("xty"),
        count(lit(1)).as("n"))
  }

  // ── hard-negative mining ──────────────────────────────────────────

  /** Triplet mining for contrastive/metric training (the FaceNet
    * recipe): for each labeled anchor, the hardest POSITIVE (most
    * similar same-label row) and the `k` hardest NEGATIVES (most
    * similar other-label rows), with the semi-hard flag
    * `pos_cos − margin < neg_cos < pos_cos` — the band the triplet
    * loss actually trains on (harder negatives collapse, easier ones
    * carry no gradient).
    *
    * Output: `(query_id, pos_id, pos_cos, rank, neg_id, neg_cos,
    * semi_hard)` — one row per (anchor, negative-rank). Anchors whose
    * label appears nowhere else keep null pos columns and
    * `semi_hard = false` (no positive ⇒ no band).
    *
    * Scale shape: anchors are a training batch (thousands), broadcast
    * against the streamed corpus — one narrow scored pass, then ONE
    * window shuffle partitioned by (anchor, same-label) ranking
    * positives and negatives in the same pass. For corpus×corpus
    * mining at 100 TB, generate candidates with [[ivfTopK]] /
    * [[lshTopK]] first and rank the bucketed candidates the same way —
    * this exact kernel is the per-batch tier. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      margin: Double = 0.1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val q = anchors.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"), col(labelCol).as("qlab"))
      .withColumn("__qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("match_id"),
        asDouble(col(vecCol)).as("cv"), col(labelCol).as("clab"))
      .withColumn("__cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("match_id"))
      .withColumn("cosine",
        pairCosine(col("qv"), col("cv"), col("__qn"), col("__cn")))
      .withColumn("same", col("qlab") === col("clab"))
    val w = Window.partitionBy("query_id", "same")
      .orderBy(col("cosine").desc, col("match_id").asc)
    val ranked = scored.withColumn("rank", row_number().over(w))
    val pos = ranked.filter(col("same") && col("rank") === 1)
      .select(col("query_id"), col("match_id").as("pos_id"),
        col("cosine").as("pos_cos"))
    val negs = ranked.filter(!col("same") && col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id").as("neg_id"),
        col("cosine").as("neg_cos"))
    negs.join(pos, Seq("query_id"), "left")
      .withColumn("semi_hard",
        coalesce(col("neg_cos") < col("pos_cos") &&
          col("neg_cos") > col("pos_cos") - lit(margin), lit(false)))
      .select("query_id", "pos_id", "pos_cos", "rank", "neg_id",
        "neg_cos", "semi_hard")
  }

  private def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  // ── cluster-quality audit ─────────────────────────────────────────

  /** Embedding cluster-quality metrics per label: size, scatter (mean
    * distance to own centroid) and the SIMPLIFIED silhouette
    * `s = (b − a)/max(a, b)` with `a` = distance to own centroid, `b` =
    * distance to the nearest OTHER centroid — the O(n·k) variant
    * (classic silhouette is O(n²) pairwise; at corpus scale only the
    * centroid form survives, and it's the one sklearn large-scale
    * guides recommend). The health check for [[semanticDedup]] cells
    * and any labeled embedding corpus: collapsing silhouette ⇒ labels
    * don't separate in embedding space.
    *
    * Scale shape: exact per-(label, dim) centroids from ONE
    * dim-bounded decimal aggregation, collected k·d driver-side (index
    * scale, the IVF-centroid precedent) and re-embedded as plan
    * literals — the scoring pass is then a ZERO-shuffle narrow map
    * (k dot products per row) into one label-keyed agg.
    *
    * Determinism: centroids are decimal-summed; d(x,c) uses the dot
    * identity `√max(0, x·x − 2·x·c + c·c)` with the sequential-fold
    * [[dot]] (bit-identical to list folds elsewhere); c·c folds
    * left-to-right on the driver, same order. Degenerate a=b=0 → s=0. */
  def clusterMetrics(df: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val xv = asDouble(col(vecCol))
    val centRows = df
      .select(col(labelCol).cast("long").as("__l"),
        posexplode(xv).as(Seq("__p", "__xv")))
      .groupBy("__l", "__p")
      .agg((sum(col("__xv").cast("decimal(30,12)")).cast("double") /
        count(lit(1))).as("__m"))
      .collect()
    val cents: Seq[(Long, Array[Double])] = centRows
      .groupBy(_.getLong(0))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }.toSeq.sortBy(_._1)
    require(cents.size >= 2,
      s"clusterMetrics needs >= 2 labels (got ${cents.size})")
    val base = df.withColumn("__x", xv)
      .withColumn("__dxx", dot(col("__x"), col("__x")))
    def dist(c: Array[Double]): Column = {
      val dcc = c.foldLeft(0.0)((s, v) => s + v * v)
      sqrt(greatest(lit(0.0),
        col("__dxx") - lit(2.0) * dot(col("__x"), typedlit(c.toSeq)) +
          lit(dcc)))
    }
    val own = cents.map { case (l, c) =>
      when(col(labelCol).cast("long") === l, dist(c))
    }.reduce(coalesce(_, _))
    val other = least(cents.map { case (l, c) =>
      when(col(labelCol).cast("long") === l,
        lit(Double.PositiveInfinity)).otherwise(dist(c))
    }: _*)
    def dmean(c: Column) =
      sum(c.cast("decimal(30,12)")).cast("double") / count(lit(1))
    base
      .withColumn("__a", own)
      .withColumn("__b", other)
      .withColumn("__s",
        when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
          .otherwise((col("__b") - col("__a")) /
            greatest(col("__a"), col("__b"))))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"), dmean(col("__a")).as("scatter"),
        dmean(col("__s")).as("silhouette"))
  }
}
