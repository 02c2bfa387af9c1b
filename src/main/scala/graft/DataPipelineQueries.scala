package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Dedup, Drift, Dsir, Multimodal, Packing, Retrieval, Sampling, SemiStructured, Similarity, TextAnalysis}
import graft.sources.Tables

/** Queries + DuckDB oracles for the training-data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal) — the
  * beyond-the-reference surface from BASELINE.json's north star.
  *
  * Oracle-parity notes: every hash is md5-derived (engine-independent);
  * 60-bit values keep bit ops signed-long-safe; rank/top-k computed on
  * UNROUNDED values in both engines, rounding applied only on output.
  */
object DataPipelineQueries {

  /** Deterministic presentation order for a SMALL final result.
    *
    * A global `orderBy` range-samples its input, and the sampling job
    * RE-EXECUTES everything below the sort that is not already behind
    * a shuffle — for the narrow kernel pipelines of this file
    * (signatures, text quality, codec decode) that means the whole
    * expensive upstream runs twice per action (measured: two full
    * codec stages on q_video_features, 29.7 s vs 20.9 s at sf1). One
    * SinglePartition exchange + a local sort of the already-small
    * result produces the identical rows in the identical order with
    * the upstream executed exactly once. Queries that end in
    * `orderBy(...).limit(k)` keep the plain form — Spark plans those
    * as TakeOrderedAndProject, which never range-samples.
    *
    * CONTRACT: orderedSmall is for results BOUNDED regardless of
    * corpus size — top-k, per-group/per-stratum reports, fixed
    * quotas, sketch summaries (≤ ~5k rows). Anything that scales
    * with documents, pairs, samples-at-a-rate, dedup survivors or
    * packed sequences takes orderedCorpus: at 100× the corpus a
    * SinglePartition sort of such a result is the last-stage
    * bottleneck on an otherwise scale-safe plan. PlanLint's
    * `single-partition-corpus-sort` rule enforces this split. */
  private implicit class OrderedSmall(df: DataFrame) {
    def orderedSmall(cols: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
    def orderedSmall(c: String, cs: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(c, cs: _*)
    /** Deterministic presentation order for a CORPUS-SIZED dump (one
      * row per document): orderedSmall's SinglePartition funnel would
      * sort the whole result in one task, so materialize once
      * (localCheckpoint — the kernel upstream executes exactly once,
      * same as orderedSmall) and let a distributed range sort order
      * the cheap materialized rows.
      *
      * CONTRACT: the sort-key tuple `(c, cs*)` MUST be unique per row.
      * A range sort only fixes order BETWEEN partitions; equal keys
      * land in one partition in partition-layout-dependent relative
      * order, so a non-unique key yields run-to-run row-order drift the
      * hash gate would mis-read as nondeterminism. Every current call
      * site sorts on a primary id (or an id pair); keep it that way. */
    def orderedCorpus(c: String, cs: String*): DataFrame =
      df.localCheckpoint(true).orderBy(c, cs: _*)
  }

  // fanOut: the testdata tables are single-row-group parquet, so the
  // scan — and every narrow kernel riding it — is ONE task; one hash
  // exchange buys machine-wide parallelism for the whole documents/
  // embeddings workload (identity once the source has real splits).
  //
  // Two tiers, chosen PER CALL SITE by the work the query rides on it:
  //  - docs/embs (ungated): kernel-heavy pipelines — signatures,
  //    codecs, regex quality scoring, dot-product ANN — whose per-row
  //    CPU dwarfs the exchange at any input size (measured: q_minhash
  //    0.14×, q_simhash_pairs 0.12×, q_lang_id 0.22× vs unfanned at
  //    sf0.1; 10-30× at sf1).
  //  - docsLight/embsLight (2 MB floor): light token/metadata aggs —
  //    the drift family, exact-hash dedup, samplers, pack manifests —
  //    where the fixed ~0.3 s exchange cost EXCEEDS the parallelism
  //    win on a small file (measured: q_zipf 1.74×, q_gini 1.65×,
  //    q_top_ngrams 1.60×, q_ks_drift 1.59× vs the unfanned r9 floor
  //    at the 0.6 MB sf0.1 file) but still pays off once the serial
  //    scan is the bottleneck (q_top_ngrams 0.62×, q_pmi 0.50×,
  //    q_token_budget 0.41× at the 5.8 MB sf1 file). The floor sits
  //    between the measured footprints: documents/embeddings are
  //    0.6/0.8 MB at sf0.1 and 5.8/3.4 MB at sf1.
  /** Per-dataset scratch key for /tmp index/publish artifacts — see
    * [[graft.io.Scratch]] for the collision reasoning. */
  private def scratchKey(dir: String): String = graft.io.Scratch.key(dir)

  private val lightFloor = 2L << 20
  private def docs(s: SparkSession, dir: String) =
    Tables.fanOut(Tables.load(s, dir, "documents"), "doc_id")
  private def embs(s: SparkSession, dir: String) =
    Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
  private def docsLight(s: SparkSession, dir: String) =
    Tables.fanOut(Tables.load(s, dir, "documents"), "doc_id",
      minBytes = lightFloor)
  private def embsLight(s: SparkSession, dir: String) =
    Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id",
      minBytes = lightFloor)

  /** Shared scaffold of the ANN index-maintenance rows
    * (q_ann_index_incr / q_ann_compact): fresh scratch dir (an
    * append-based artifact must never double-add), base build over the
    * 4/5 corpus (vec_id % 5 != 0, nlist 16 — the id < nlist centroid
    * convention the shared oracle replays), one `updateAnnIndex` per
    * `(mod, residue)` delta, optionally a FORCED `compactAnnIndex`
    * (the require proves compaction actually ran — a no-op would mean
    * the row gated nothing), then the standard probe. Both rows share
    * `annIncrProbeOracle`: the deltas must union to the multiples of
    * 5, so the final index content is identical either way. */
  private def annMaintProbe(s: SparkSession, dir: String, tag: String,
      deltas: Seq[(Long, Long)], compact: Boolean): DataFrame = {
    val idx = s"/tmp/graft_ann_${tag}_${scratchKey(dir)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val e = embs(s, dir)
    Similarity.buildAnnIndex(
      e.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      "vec_id", "embedding", idx, nlist = 16)
    deltas.foreach { case (mod, res) =>
      Similarity.updateAnnIndex(
        e.filter(pmod(col("vec_id"), lit(mod)) === res),
        "vec_id", "embedding", idx)
    }
    if (compact)
      require(Similarity.compactAnnIndex(s, idx, maxFiles = 2),
        s"expected compaction to run on the fragmented index at $idx")
    Similarity.annTopKIndexed(s, idx, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nprobe = 4)
      .withColumn("qcos", round(col("qcos") + lit(1e-9), 4))
      .orderedSmall("query_id", "rank")
  }

  private val H = 8 // minhash signature length

  private val Bm25Oracle =
    """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        |), postings AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, len(arr) AS dl, unnest(arr) AS term FROM toks
        |  ) WHERE length(term) > 0 GROUP BY 1, 2, 3
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, term FROM (
        |      SELECT doc_id, unnest(arr) AS term FROM toks)
        |    WHERE length(term) > 0
        |  ) GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(len(arr)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |           AS avgdl
        |  FROM toks
        |), qterms AS (
        |  SELECT * FROM (VALUES (1,'hash'),(1,'join'),(1,'merge'),
        |    (2,'window'),(2,'batch'),(2,'stream'),
        |    (3,'vector'),(3,'scan'),(3,'filter'),(3,'slow'))
        |    AS t(query_id, term)
        |), scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(CAST(
        |      ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
        |        (p.tf * CAST(2.5 AS DOUBLE)) /
        |        (p.tf + CAST(1.5 AS DOUBLE) *
        |          (1.0 - CAST(0.75 AS DOUBLE) +
        |           CAST(0.75 AS DOUBLE) * p.dl / s.avgdl))
        |      AS DECIMAL(30,12))) AS DOUBLE) AS score
        |  FROM postings p JOIN qterms q USING (term)
        |  JOIN dfreq d USING (term) CROSS JOIN stats s
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, doc_id, round(score + 1e-9, 4) + 0.0 AS score
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin


  /** Shared recursion for the q_quality_lr pair: featurize (the exact
    * [[graft.ml.TextClassifier.features]] formulas), then fold 12
    * full-batch GD steps of the Elliott-sigmoid rule — the working
    * table is ONE row (the weight vector); each step's gradient is a
    * correlated list-subquery aggregating over `feats` with every
    * per-row term routed through decimal(30,12) (order-free), and the
    * update chain `w − 0.5·g/n` is the same fixed-order double
    * arithmetic the engine's driver loop performs. `finalSelect` reads
    * `gd` (iter, w0..w5) and `feats`. */
  private def QualityLrRecursion(finalSelect: String): String =
    """WITH RECURSIVE feats AS (
      |  SELECT doc_id, lang, 1.0 AS f0,
      |    least(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
      |            AS DOUBLE) / 50.0, 1.0) AS f1,
      |    CAST(length(text) -
      |           length(regexp_replace(text, '[.,!?;:]', '', 'g'))
      |         AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS f2,
      |    least((CAST(length(text) AS DOUBLE)
      |           - CAST(length(text) - length(replace(text, ' ', ''))
      |                  AS DOUBLE))
      |          / greatest(CAST(len(regexp_extract_all(text,
      |                       '[A-Za-z0-9]+')) AS DOUBLE), 1.0)
      |          / 8.0, 1.0) AS f3,
      |    CAST(length(text) -
      |           length(regexp_replace(text, '[0-9]', '', 'g'))
      |         AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS f4,
      |    CAST(len(list_filter(regexp_extract_all(text, '[A-Za-z0-9]+'),
      |           t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is',
      |                      'it'))) AS DOUBLE)
      |      / greatest(CAST(len(regexp_extract_all(text,
      |                   '[A-Za-z0-9]+')) AS DOUBLE), 1.0) AS f5,
      |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM documents
      |), gd(iter, w0, w1, w2, w3, w4, w5) AS (
      |  -- CAST to DOUBLE: a bare 0.0 anchor types the column
      |  -- DECIMAL(2,1) and the recursion ROUNDS every update to one
      |  -- decimal place (silently — the trajectory pins to 0.0)
      |  SELECT 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
      |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
      |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
      |  UNION ALL
      |  SELECT iter + 1,
      |         w0 - 0.5 * g[1] / g[7], w1 - 0.5 * g[2] / g[7],
      |         w2 - 0.5 * g[3] / g[7], w3 - 0.5 * g[4] / g[7],
      |         w4 - 0.5 * g[5] / g[7], w5 - 0.5 * g[6] / g[7]
      |  FROM (
      |    SELECT iter, w0, w1, w2, w3, w4, w5,
      |      (SELECT [
      |         CAST(sum(CAST(r * f0 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(sum(CAST(r * f1 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(sum(CAST(r * f2 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(sum(CAST(r * f3 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(sum(CAST(r * f4 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(sum(CAST(r * f5 AS DECIMAL(30,12))) AS DOUBLE),
      |         CAST(count(*) AS DOUBLE)]
      |       FROM (SELECT f0, f1, f2, f3, f4, f5,
      |               (0.5 + 0.5 * (z / (1.0 + abs(z)))) - y AS r
      |             FROM (SELECT *,
      |                     w0 * f0 + w1 * f1 + w2 * f2 + w3 * f3
      |                       + w4 * f4 + w5 * f5 AS z
      |                   FROM feats))) AS g
      |    FROM gd) WHERE iter < 12
      |)
      |""".stripMargin + finalSelect

  private[graft] lazy val declared: Seq[Query] = Seq(
    // ── exact dedup (content-hash, ES sha1-doc-id analog)
    Query("q_dedup_exact", (s, dir) =>
      Dedup.exact(docsLight(s, dir), "text", "doc_id")
        .select("doc_id", "n_chars").orderedCorpus("doc_id"),
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // ── MinHash signatures (8 × 60-bit, word 3-gram shingles)
    Query("q_minhash", (s, dir) =>
      Dedup.minHashSignatures(docs(s, dir), "doc_id", "text", H)
        .orderedCorpus("doc_id"),
      s"""WITH $shinglesCte, $sigsCte
         |SELECT * FROM sigs ORDER BY doc_id""".stripMargin),

    // ── MinHash-estimated Jaccard: probe docs × corpus, top-20
    Query("q_minhash_pairs", (s, dir) => {
      // eager checkpoint: whole-stage codegen inlines a nested-loop
      // join's streamed-side projections into the per-build-row loop,
      // so unmaterialized the H-hash signature recomputes once per
      // PAIR (measured 12.5 s → ~2 s at sf1); the checkpointed frame
      // is corpus × (H+1) longs — MBs, ContextCleaner-reclaimed
      val sigs = Dedup.minHashSignatures(docs(s, dir), "doc_id", "text", H)
        .localCheckpoint(true)
      val a = sigs.filter(col("doc_id") < 20)
        .select(sigs.columns.map(c => col(c).as(s"a_$c")): _*)
      val b = sigs.select(sigs.columns.map(c => col(c).as(s"b_$c")): _*)
      val est = (0 until H)
        .map(i => when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / lit(H.toDouble)
      // broadcast the 20-row probe side: an unhinted crossJoin builds
      // the RIGHT side, which here would collect the FULL corpus through
      // the broadcast exchange and compute every signature serially on
      // the driver (measured 12.5 s at sf1 vs ~2 s streamed)
      broadcast(a).crossJoin(b)
        .filter(col("a_doc_id") =!= col("b_doc_id"))
        .select(col("a_doc_id").as("id_a"), col("b_doc_id").as("id_b"),
          est.as("est_jaccard"))
        .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)
    },
      {
      val eq = (0 until H)
        .map(i => s"(CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shinglesCte, $sigsCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST($eq AS DOUBLE) / ${H}.0 AS est_jaccard
         |FROM (SELECT * FROM sigs WHERE doc_id < 20) a
         |CROSS JOIN sigs b
         |WHERE a.doc_id != b.doc_id
         |ORDER BY est_jaccard DESC, id_a, id_b LIMIT 20""".stripMargin
    }),

    // ── end-to-end LSH dedup: bands → candidates → verify → keep-min
    Query("q_dedup_lsh", (s, dir) =>
      Dedup.lshDedup(docs(s, dir), "doc_id", "text",
          numHashes = H, bands = 4, tau = 0.5)
        .select("doc_id", "n_chars").orderedCorpus("doc_id"),
      // mirrors Dedup.lshDedup: 4 bands × 2 sig rows, candidates share a
      // band key, verified at est-Jaccard (sig agreement) ≥ 0.5, keep-min
      {
      val bandRows = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band, md5(CAST(sig_${2 * b} AS VARCHAR) || '_' || " +
          s"CAST(sig_${2 * b + 1} AS VARCHAR)) AS band_key FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      val eq = (0 until H)
        .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shinglesCte, $sigsCte,
         |bandkeys AS (
         |  $bandRows
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bandkeys a JOIN bandkeys b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id
         |), removed AS (
         |  SELECT DISTINCT c.id_b AS doc_id
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.id_a
         |  JOIN sigs sb ON sb.doc_id = c.id_b
         |  WHERE CAST($eq AS DOUBLE) / ${H}.0 >= 0.5
         |)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // ── SimHash 60-bit signatures
    Query("q_simhash", (s, dir) =>
      Dedup.simHash(docs(s, dir), "doc_id", "text").orderedCorpus("doc_id"),
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM simhashes ORDER BY doc_id""".stripMargin),

    // ── SimHash near-dup: probe docs × corpus, 20 smallest Hamming
    Query("q_simhash_pairs", (s, dir) => {
      // eager checkpoint — same per-pair recompute hazard as
      // q_minhash_pairs (measured 17.5 s direct vs 0.4 s on the
      // materialized 2-long-per-doc frame at sf1)
      val sh = Dedup.simHash(docs(s, dir), "doc_id", "text")
        .localCheckpoint(true)
      val a = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      // broadcast the probe side — see q_minhash_pairs; unhinted the full
      // corpus simhash ran inside the broadcast collect (20 s → 2 s at sf1)
      broadcast(a).crossJoin(b).filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
        .orderBy(col("hamming").asc, col("id_a"), col("id_b"))
        .limit(20)
    },
      s"""WITH $simhashCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM (SELECT * FROM simhashes WHERE doc_id < 20) a
         |CROSS JOIN simhashes b
         |WHERE a.doc_id != b.doc_id
         |ORDER BY hamming ASC, id_a, id_b LIMIT 20""".stripMargin),

    // ── exact n-gram Jaccard near-dup pairs (shingle-blocked), top-20
    Query("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text")
        .select(col("id_a"), col("id_b"), col("inter"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20),
      s"""WITH $shinglesCte,
         |over_cap AS (
         |  SELECT sh FROM sh_raw GROUP BY sh HAVING count(*) > 1000
         |), capped AS (
         |  SELECT doc_id AS id, sh FROM sh
         |  WHERE sh NOT IN (SELECT sh FROM over_cap)
         |), sizes AS (
         |  SELECT doc_id AS id, count(*) AS sz FROM sh GROUP BY 1
         |), inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.id < b.id
         |  GROUP BY 1, 2
         |)
         |SELECT i.id_a, i.id_b, i.inter,
         |       round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 4) AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.id = i.id_a
         |JOIN sizes sb ON sb.id = i.id_b
         |ORDER BY CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) DESC,
         |         i.id_a, i.id_b
         |LIMIT 20""".stripMargin),

    // ── brute-force cosine top-k (exact ANN baseline)
    Query("q_embed_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderedSmall("query_id", "rank")
    },
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 20
        |), c AS (
        |  SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings
        |), scored AS (
        |  SELECT query_id, match_id,
        |         list_dot_product(qv, cv) /
        |           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
        |           AS cosine_raw
        |  FROM q CROSS JOIN c WHERE query_id != match_id
        |), ranked AS (
        |  SELECT query_id, match_id, cosine_raw,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine_raw DESC, match_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, match_id, round(cosine_raw, 4) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // ── triplet mining: hardest positive + 4 hardest negatives per
    //    anchor, semi-hard band flagged (contrastive training prep)
    Query("q_hard_negatives", (s, dir) => {
      val e = embsLight(s, dir)
      Similarity.hardNegatives(e.filter(col("vec_id") < 30), e,
          "vec_id", "embedding", "label", k = 4, margin = 0.05)
        .select(col("query_id"), col("pos_id"),
          round(col("pos_cos"), 4).as("pos_cos"), col("rank"),
          col("neg_id"), round(col("neg_cos"), 4).as("neg_cos"),
          col("semi_hard"))
        .orderedSmall("query_id", "rank")
    },
      // same brute-force cosine as q_embed_topk, ranked within
      // (anchor, same-label); semi-hard band compared on UNROUNDED
      // doubles (bitwise-identical dot products in both engines)
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |         label AS qlab
        |  FROM embeddings WHERE vec_id < 30
        |), c AS (
        |  SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv,
        |         label AS clab
        |  FROM embeddings
        |), scored AS (
        |  SELECT query_id, match_id,
        |         list_dot_product(qv, cv) /
        |           (sqrt(list_dot_product(qv, qv)) *
        |            sqrt(list_dot_product(cv, cv))) AS cos_raw,
        |         (qlab = clab) AS same
        |  FROM q CROSS JOIN c WHERE query_id != match_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, same
        |              ORDER BY cos_raw DESC, match_id ASC) AS rank
        |  FROM scored
        |), pos AS (
        |  SELECT query_id, match_id AS pos_id, cos_raw AS pos_cos
        |  FROM ranked WHERE same AND rank = 1
        |), negs AS (
        |  SELECT query_id, rank, match_id AS neg_id, cos_raw AS neg_cos
        |  FROM ranked WHERE NOT same AND rank <= 4
        |)
        |SELECT n.query_id, p.pos_id, round(p.pos_cos, 4) AS pos_cos,
        |       CAST(n.rank AS INT) AS rank, n.neg_id,
        |       round(n.neg_cos, 4) AS neg_cos,
        |       coalesce(n.neg_cos < p.pos_cos
        |                AND n.neg_cos > p.pos_cos - 0.05, FALSE) AS semi_hard
        |FROM negs n LEFT JOIN pos p USING (query_id)
        |ORDER BY n.query_id, n.rank""".stripMargin),

    // ── embedding near-dup: top-20 cosine pairs among first 100 vectors
    Query("q_embed_neardup", (s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 100)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("n", Similarity.norm(col("v"))) // once per row, pre-join
      val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("n").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("n").as("nb"))
      broadcast(a).crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cosine",
          Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.v, b.v) /
        |         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        |         AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY list_dot_product(a.v, b.v) /
        |         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) DESC,
        |         id_a, id_b
        |LIMIT 20""".stripMargin),

    // ── LSH-bucketed ANN (the 100 TB path): 4 bands × 4 planes — banded
    //    candidates, hash-checked against plane literals in DuckDB
    Query("q_ann_lsh", (s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, planes = 16, dim = 64, bands = 4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderedSmall("query_id", "rank")
    },
      // The SRP hyperplanes are deterministic plan literals (seed 42) — so
      // the full LSH pipeline IS oracle-checkable: embed the same planes as
      // DuckDB double[] literals (generated from the same hyperplanes()
      // call; they cannot drift) and replay bucket → join → rank.
      {
      // mirrors the BANDED lshTopK: 4 bands × 4 planes from the same
      // seed-42 hyperplanes; candidates agree on any band's full bucket
      val hp = Similarity.hyperplanes(16, 64)
      val planeRows = hp.zipWithIndex.map { case (p, i) =>
        s"($i, CAST([${p.mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n    ")
      s"""WITH planes(pid, pv) AS (VALUES
         |    $planeRows
         |), e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), bk AS (
         |  SELECT e.vec_id, any_value(e.v) AS v,
         |         CAST(p.pid // 4 AS INT) AS band,
         |         sum(CASE WHEN list_dot_product(e.v, p.pv) >= 0
         |                  THEN 1 << (p.pid % 4) ELSE 0 END) AS bucket
         |  FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.pid // 4
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, band, bucket
         |  FROM bk WHERE vec_id < 20
         |), scored AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS match_id,
         |         list_dot_product(q.qv, c.v) /
         |           (sqrt(list_dot_product(q.qv, q.qv)) *
         |            sqrt(list_dot_product(c.v, c.v))) AS cr
         |  FROM q JOIN bk c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |   AND q.query_id != c.vec_id
         |), ranked AS (
         |  SELECT query_id, match_id, cr,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cr DESC, match_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, match_id, round(cr, 4) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // ── embedding-cosine near-dup dedup (banded SRP buckets → verify →
    //    keep-min): 4 bands × 8 planes, per-bucket skew cap 1000
    Query("q_dedup_embed", (s, dir) =>
      Similarity.cosineDedup(embs(s, dir), "vec_id", "embedding",
          tau = 0.45, bands = 4, planesPerBand = 8, dim = 64,
          maxBucket = 1000)
        .select("vec_id").orderedCorpus("vec_id"),
      // mirrors the BANDED Similarity.cosineDedup with the same seed-42
      // hyperplanes (4 bands × 8 planes): per-band bucket id, candidates
      // agree on any band's bucket, skew cap 1000 per (band, bucket),
      // cosine ≥ τ verify, drop the larger id
      {
      val hp = Similarity.hyperplanes(32, 64)
      val planeRows = hp.zipWithIndex.map { case (p, i) =>
        s"($i, CAST([${p.mkString(", ")}] AS DOUBLE[]))"
      }.mkString(",\n    ")
      s"""WITH planes(pid, pv) AS (VALUES
         |    $planeRows
         |), e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), bk AS (
         |  SELECT e.vec_id, any_value(e.v) AS v,
         |         CAST(p.pid // 8 AS INT) AS band,
         |         sum(CASE WHEN list_dot_product(e.v, p.pv) >= 0
         |                  THEN 1 << (p.pid % 8) ELSE 0 END) AS bucket
         |  FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.pid // 8
         |), safe AS (
         |  SELECT * FROM bk
         |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000
         |), removed AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM safe a JOIN safe b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |   AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) *
         |           sqrt(list_dot_product(b.v, b.v))) >= 0.45
         |)
         |SELECT vec_id FROM e
         |WHERE vec_id NOT IN (SELECT vec_id FROM removed)
         |ORDER BY vec_id""".stripMargin
    }),

    // ── IVF-bucketed ANN (inverted lists over sampled centroids)
    Query("q_ann_ivf", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderedSmall("query_id", "rank")
    },
      // mirrors Similarity.ivfTopK: centroids = first 16 corpus vectors,
      // corpus assigned to its argmax-cosine cell (ties → lowest cell),
      // queries probe their 4 best cells, exact cosine + rank within
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), corpus_cells AS (
        |  SELECT vec_id AS match_id, cell, v AS cv FROM sims WHERE rn = 1
        |), query_probes AS (
        |  SELECT vec_id AS query_id, cell, v AS qv
        |  FROM sims WHERE vec_id < 20 AND rn <= 4
        |), scored AS (
        |  SELECT q.query_id, cc.match_id,
        |         list_dot_product(q.qv, cc.cv) /
        |           (sqrt(list_dot_product(q.qv, q.qv)) *
        |            sqrt(list_dot_product(cc.cv, cc.cv))) AS cr
        |  FROM query_probes q JOIN corpus_cells cc USING (cell)
        |  WHERE q.query_id != cc.match_id
        |), ranked AS (
        |  SELECT query_id, match_id, cr,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cr DESC, match_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, match_id, round(cr, 4) AS cosine
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // ── diversity-preserving subsample: at most 8 docs per semantic
    //    cell (centroids pinned to the 16 lowest-id vectors, the
    //    q_ann_ivf/q_semantic_dedup convention), md5-uniform draw
    //    within each cell — dense clusters capped, rare regions kept
    Query("q_diversity_sample", (s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(Similarity.asDouble(col("embedding"))).collect()
        .map(_.getSeq[Double](0).toArray)
      Similarity.diversitySample(e, "vec_id", "embedding", cents,
          quota = 8)
        .select("vec_id", "cell", "pos")
        .orderedSmall("vec_id")
    },
      // assignment CTE mirrors q_ann_ivf/q_semantic_dedup (pinned 16
      // lowest-id centroids, argmax-cosine, ties → lowest cell); the
      // within-cell draw is the house md5-uniform with vec_id tiebreak
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, cell FROM sims WHERE rn = 1
        |), pos AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY cell ORDER BY
        |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
        |        AS BIGINT) / 4294967296.0 ASC, vec_id ASC) AS pos
        |  FROM cells
        |)
        |SELECT vec_id, cell, CAST(pos AS INT) AS pos
        |FROM pos WHERE pos <= 8 ORDER BY vec_id""".stripMargin),

    // ── MMR re-ranking (Carbonell-Goldstein SIGIR'98): top-20 cosine
    //    candidates per anchor, greedily re-picked for diversity
    //    (λ=0.7, k=8); the oracle replays the greedy trajectory as a
    //    recursive CTE selecting one row per query per step
    Query("q_mmr_rerank", (s, dir) => {
      val e = embs(s, dir)
      val cand = Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("match_id").as("doc_id"),
          col("cosine").as("rel"))
        .join(e.select(col("vec_id").as("doc_id"),
          col("embedding").as("v")), "doc_id")
      Similarity.mmrRerank(cand, k = 8)
        .withColumn("mmr", round(col("mmr") + lit(1e-9), 6) + lit(0.0))
        .orderedSmall("query_id", "rank")
    },
      // greedy MMR replay: candidates = q_embed_topk's cosine ranking
      // (top-20, anchors vec_id < 10); each recursion step joins the
      // working row (one per query) against the unpicked candidates,
      // scores 0.7·rel − 0.3·max-sim-to-selected, and keeps the argmax
      // (ties → lowest doc_id, the engine's strict-> scan order)
      """WITH RECURSIVE cand AS (
        |  SELECT query_id, doc_id, cr AS rel, cv AS v FROM (
        |    SELECT query_id, doc_id, cr, cv,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cr DESC, doc_id ASC) AS r
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS doc_id, c.cv AS cv,
        |             list_dot_product(q.qv, c.cv) /
        |               (sqrt(list_dot_product(q.qv, q.qv)) *
        |                sqrt(list_dot_product(c.cv, c.cv))) AS cr
        |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
        |            FROM embeddings WHERE vec_id < 10) q
        |      CROSS JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |                  FROM embeddings) c
        |      WHERE q.vec_id != c.vec_id)
        |  ) WHERE r <= 20
        |), sel(step, query_id, doc_id, mmr, ids) AS (
        |  SELECT 1, query_id, doc_id, 0.7 * rel - (1.0 - 0.7) * 0.0,
        |         [doc_id]
        |  FROM (SELECT query_id, doc_id, rel,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY 0.7 * rel DESC, doc_id ASC) AS rn
        |        FROM cand) WHERE rn = 1
        |  UNION ALL
        |  SELECT step + 1, query_id, doc_id, mmr,
        |         list_append(ids, doc_id)
        |  FROM (
        |    SELECT step, query_id, doc_id, mmr, ids,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY mmr DESC, doc_id ASC) AS rn
        |    FROM (
        |      SELECT s.step, s.query_id, c.doc_id, s.ids,
        |        0.7 * c.rel - (1.0 - 0.7) *
        |          (SELECT max(list_dot_product(c.v, c2.v) /
        |               (sqrt(list_dot_product(c.v, c.v)) *
        |                sqrt(list_dot_product(c2.v, c2.v))))
        |           FROM cand c2 WHERE c2.query_id = s.query_id
        |             AND list_contains(s.ids, c2.doc_id)) AS mmr
        |      FROM sel s JOIN cand c ON c.query_id = s.query_id
        |        AND NOT list_contains(s.ids, c.doc_id)
        |      WHERE s.step < 8)
        |  ) WHERE rn = 1
        |)
        |SELECT query_id, CAST(step AS INT) AS rank, doc_id,
        |       round(mmr + 1e-9, 6) + 0.0 AS mmr
        |FROM sel ORDER BY query_id, rank""".stripMargin),

    // ── per-cell embedding outliers: the 3 least-typical members of
    //    each semantic cell (lowest cosine to the winning centroid) —
    //    the mislabeled/garbage-vector audit
    Query("q_embed_outliers", (s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16).orderBy("vec_id")
        .select(Similarity.asDouble(col("embedding"))).collect()
        .map(_.getSeq[Double](0).toArray)
      Similarity.cellOutliers(e, "vec_id", "embedding", cents, m = 3)
        .withColumn("cos_centroid", round(col("cos_centroid"), 4))
        .orderedSmall("cell", "pos")
    },
      // assignment mirrors q_ann_ivf (the winning cell's cosine IS the
      // argmax sim); bottom-3 per cell by that cosine, vec_id tiebreak
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, c.cell,
        |         list_dot_product(e.v, c.centv) /
        |           (sqrt(list_dot_product(e.v, e.v)) *
        |            sqrt(list_dot_product(c.centv, c.centv))) AS cr,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), assigned AS (
        |  SELECT vec_id, cell, cr FROM sims WHERE rn = 1
        |), ranked AS (
        |  SELECT cell, vec_id, cr,
        |    row_number() OVER (PARTITION BY cell
        |      ORDER BY cr ASC, vec_id ASC) AS pos
        |  FROM assigned
        |)
        |SELECT cell, vec_id, round(cr, 4) AS cos_centroid,
        |       CAST(pos AS INT) AS pos
        |FROM ranked WHERE pos <= 3 ORDER BY cell, pos""".stripMargin),

    // ── benchmark-contamination audit: probe = docs 0-19, corpus = rest;
    //    containment = share of a probe doc's shingles present in corpus
    Query("q_contamination", (s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") < 20), d.filter(col("doc_id") >= 20),
        "doc_id", "text")
        .select(col("probe_id"), col("n_sh"), col("n_hit"),
          round(col("containment"), 4).as("containment"))
        .orderedSmall("probe_id")
    },
      s"""WITH $shinglesCte,
         |probe_sh AS (SELECT doc_id, sh FROM sh WHERE doc_id < 20),
         |corpus_sh AS (SELECT DISTINCT sh FROM sh WHERE doc_id >= 20),
         |sizes AS (
         |  SELECT doc_id, count(*) AS n_sh FROM probe_sh GROUP BY 1
         |), hits AS (
         |  SELECT p.doc_id, count(*) AS n_hit
         |  FROM probe_sh p JOIN corpus_sh c USING (sh) GROUP BY 1
         |)
         |SELECT d.doc_id AS probe_id,
         |       coalesce(s.n_sh, 0) AS n_sh,
         |       coalesce(h.n_hit, 0) AS n_hit,
         |       CASE WHEN coalesce(s.n_sh, 0) > 0
         |            THEN round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_sh, 4)
         |            ELSE 0.0 END AS containment
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 20) d
         |LEFT JOIN sizes s USING (doc_id)
         |LEFT JOIN hits h USING (doc_id)
         |ORDER BY probe_id""".stripMargin),

    // ── per-source exact-duplication audit: docs, distinct contents,
    //    dup ratio, worst single content's copy count — "which domain
    //    is a mirror farm" before paying for a near-dup pass
    Query("q_dedup_report", (s, dir) =>
      Dedup.dedupReport(docs(s, dir), "text", "source")
        .withColumn("dup_ratio", round(col("dup_ratio") + lit(1e-9), 6))
        .orderedSmall("source"),
      // exact-integer counts (CASTs defeat HUGEINT widening), one exact
      // division for the ratio
      """WITH h AS (
        |  SELECT source, md5(text) AS ck, count(*) AS copies
        |  FROM documents GROUP BY 1, 2
        |)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
        |       count(*) AS n_unique,
        |       CAST(max(copies) AS BIGINT) AS max_copies,
        |       round(CAST(CAST(sum(copies) AS BIGINT) - count(*) AS DOUBLE)
        |           / CAST(CAST(sum(copies) AS BIGINT) AS DOUBLE)
        |         + 1e-9, 6) AS dup_ratio
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── word-trigram novelty vs the English slice: fraction of each
    //    doc's trigrams absent from the reference n-gram set (en docs
    //    score 0 by construction; short docs → null)
    Query("q_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(docs(s, dir), "doc_id", "text",
          col("lang") === "en", n = 3)
        .withColumn("novelty", round(col("novelty") + lit(1e-9), 6))
        .orderedCorpus("doc_id"),
      // word trigrams 1-based (toks[i..i+2], generate_series inclusive —
      // Spark's sequence/element_at semantics); novelty = one exact-int
      // division, null for docs under 3 tokens
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         regexp_extract_all(text, '[A-Za-z0-9]+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, lang,
        |         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
        |  FROM (SELECT doc_id, lang, toks,
        |          unnest(generate_series(1, len(toks) - 2)) AS i
        |        FROM t WHERE len(toks) >= 3)
        |), ref AS (
        |  SELECT DISTINCT gram FROM g WHERE lang = 'en'
        |), agg AS (
        |  SELECT g.doc_id, count(*) AS n_ngrams,
        |         CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_unseen
        |  FROM g LEFT JOIN ref r ON g.gram = r.gram
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.n_ngrams, 0) AS n_ngrams,
        |       coalesce(a.n_unseen, 0) AS n_unseen,
        |       round(CAST(a.n_unseen AS DOUBLE)
        |           / CAST(a.n_ngrams AS DOUBLE) + 1e-9, 6) AS novelty
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ── deterministic hash sampling (partitioning-stable 10%)
    Query("q_hash_sample", (s, dir) =>
      Sampling.hashSample(docs(s, dir), "doc_id", 0.1)
        .select("doc_id", "n_chars").orderedCorpus("doc_id"),
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < 0.1
        |ORDER BY doc_id""".stripMargin),

    // ── language ID heuristic
    Query("q_lang_id", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderedCorpus("doc_id"),
      s"""WITH hits AS (
         |  SELECT doc_id,
         |         $langHits
         |  FROM documents
         |)
         |SELECT doc_id, $langCase AS lang_guess
         |FROM hits ORDER BY doc_id""".stripMargin),

    // ── scalar string-function battery (§2.8): case, slice, search,
    //    pad, replace, split, translate, concat — one narrow codegen'd
    //    projection, every output byte-deterministic in both engines
    Query("q_string_fns", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("upper10"),
        length(col("text")).as("len"),
        instr(col("text"), "data").as("pos_data"),
        reverse(substring(col("text"), 1, 8)).as("rev8"),
        lpad(col("source"), 8, "_").as("pad_src"),
        translate(substring(col("text"), 1, 20), " ", "_").as("snake20"),
        size(split(col("text"), " ")).as("n_words"),
        translate(col("lang"), "aeiou", "AEIOU").as("lang_t"),
        concat_ws("|", col("source"), col("lang")).as("src_lang"))
      .orderedCorpus("doc_id"),
      """SELECT doc_id,
        |       upper(substr(text, 1, 10)) AS upper10,
        |       length(text) AS len,
        |       strpos(text, 'data') AS pos_data,
        |       reverse(substr(text, 1, 8)) AS rev8,
        |       lpad(source, 8, '_') AS pad_src,
        |       replace(substr(text, 1, 20), ' ', '_') AS snake20,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |       translate(lang, 'aeiou', 'AEIOU') AS lang_t,
        |       concat_ws('|', source, lang) AS src_lang
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── learned-BPE tokenization: train 64 merges on the corpus's own
    //    word-frequency table, segment every doc with them. Oracle:
    //    the merge loop replays as a DuckDB recursive CTE (see
    //    oracleSql) — BPE learning IS SQL-expressible once each word's
    //    symbol sequence is encoded as a delimited string.
    Query("q_bpe_learned", (s, dir) => {
      val d = docs(s, dir)
      val merges = graft.operators.BpeTrainer.learnMerges(d, "text", 64)
      graft.operators.BpeTrainer.tokenize(d, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_bpe_tokens"),
          element_at(col("bpe_tokens"), 1).as("first_tok"))
        .orderedCorpus("doc_id")
    },
      // BPE learning replayed as a recursive CTE: each word's symbol
      // sequence is encoded as a delimited string (single space at the
      // ends, DOUBLE space between symbols — symbols are [a-z0-9</w>]+ so
      // spaces never occur inside one), which makes one merge application
      // exactly one replace(' a  b ', ' ab '): every pattern occurrence is
      // symbol-aligned (a match needs a boundary space followed by a full
      // symbol), consecutive occurrences each own a boundary char (the
      // double separator donates one space to each neighbor), and SQL
      // replace scans left-to-right non-overlapping — precisely the BPE
      // merge rule. Each CTE iteration counts weighted adjacent pairs over
      // the previous iteration's working table (argmax with the trainer's
      // (-count, a, b) tie-break) and rewrites every word; 64 iterations
      // = the learned merge table; the final working table IS the
      // segmentation of every corpus word (learning applies merges in
      // rank order, same as the segmenter). Validated bit-identical to
      // BpeTrainer on the sf0.01 corpus before wiring.
      {
      def bestPair(field: Int): String =
        s"""(SELECT z[$field] FROM (
           |    SELECT z, sum(cnt) AS c
           |    FROM (SELECT unnest(list_zip(syms, syms[2:])) AS z, cnt FROM
           |          (SELECT string_split(trim(enc), '  ') AS syms, cnt FROM bpe))
           |    WHERE z[2] IS NOT NULL
           |    GROUP BY z ORDER BY c DESC, z[1], z[2] LIMIT 1))""".stripMargin
      s"""WITH RECURSIVE
         |wc AS (
         |  SELECT word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents
         |  ) WHERE word <> '' GROUP BY word
         |),
         |bpe(step, word, enc, cnt) AS (
         |  SELECT 0, word,
         |         ' ' || array_to_string(list_append(string_split(word, ''), '</w>'), '  ') || ' ',
         |         cnt
         |  FROM wc
         |  UNION ALL
         |  SELECT step + 1, word,
         |         replace(enc, ' ' || ${bestPair(1)} || '  ' || ${bestPair(2)} || ' ',
         |                      ' ' || ${bestPair(1)} || ${bestPair(2)} || ' '),
         |         cnt
         |  FROM bpe
         |  WHERE step < 64 AND EXISTS (
         |    SELECT 1 FROM (SELECT unnest(list_zip(syms, syms[2:])) AS z FROM
         |      (SELECT string_split(trim(enc), '  ') AS syms FROM bpe)) WHERE z[2] IS NOT NULL)
         |),
         |final AS (
         |  SELECT word, string_split(trim(enc), '  ') AS syms
         |  FROM bpe WHERE step = (SELECT max(step) FROM bpe)
         |),
         |doc_words AS (
         |  SELECT doc_id, unnest(l) AS word, unnest(generate_series(1, len(l))) AS pos
         |  FROM (SELECT doc_id,
         |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
         |        FROM documents)
         |),
         |agg AS (
         |  SELECT w.doc_id,
         |         CAST(sum(len(f.syms)) AS INTEGER) AS n_bpe_tokens,
         |         first(f.syms[1] ORDER BY w.pos) AS first_tok
         |  FROM doc_words w JOIN final f USING (word)
         |  GROUP BY w.doc_id
         |)
         |SELECT d.doc_id, coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens, a.first_tok
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // ── the learned merge TABLE itself (rank-ordered vocabulary
    //    artifact a tokenizer ships): q_bpe_learned pins segmentations,
    //    this pins the merges — the same recursive-CTE oracle surfaces
    //    the chosen pair per step
    Query("q_bpe_vocab", (s, dir) => {
      val merges = graft.operators.BpeTrainer.learnMerges(
        docsLight(s, dir), "text", 64)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("rank", "a", "b")
        .orderedSmall("rank")
    },
      // the merge-table view of the same recursive replay: the recursive
      // term additionally EMITS the pair it chose (bestPair over the
      // previous iteration's working table), so the learned vocabulary
      // reads straight off the CTE as (step, a, b)
      {
      def bestPair(field: Int): String =
        s"""(SELECT z[$field] FROM (
           |    SELECT z, sum(cnt) AS c
           |    FROM (SELECT unnest(list_zip(syms, syms[2:])) AS z, cnt FROM
           |          (SELECT string_split(trim(enc), '  ') AS syms, cnt FROM bpe))
           |    WHERE z[2] IS NOT NULL
           |    GROUP BY z ORDER BY c DESC, z[1], z[2] LIMIT 1))""".stripMargin
      s"""WITH RECURSIVE
         |wc AS (
         |  SELECT word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents
         |  ) WHERE word <> '' GROUP BY word
         |),
         |bpe(step, word, enc, cnt, ma, mb) AS (
         |  SELECT 0, word,
         |         ' ' || array_to_string(list_append(string_split(word, ''), '</w>'), '  ') || ' ',
         |         cnt, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         |  FROM wc
         |  UNION ALL
         |  SELECT step + 1, word,
         |         replace(enc, ' ' || ${bestPair(1)} || '  ' || ${bestPair(2)} || ' ',
         |                      ' ' || ${bestPair(1)} || ${bestPair(2)} || ' '),
         |         cnt, ${bestPair(1)}, ${bestPair(2)}
         |  FROM bpe
         |  WHERE step < 64 AND EXISTS (
         |    SELECT 1 FROM (SELECT unnest(list_zip(syms, syms[2:])) AS z FROM
         |      (SELECT string_split(trim(enc), '  ') AS syms FROM bpe)) WHERE z[2] IS NOT NULL)
         |)
         |SELECT DISTINCT CAST(step AS INT) AS rank, ma AS a, mb AS b
         |FROM bpe WHERE step >= 1 ORDER BY rank""".stripMargin
    }),

    // ── token counting
    Query("q_token_count", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderedCorpus("doc_id"),
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── BPE-ish token-budget estimator (GPT-2 pre-tokenizer split in
    //    the Java∩RE2 regex subset) beside the whitespace-word count
    Query("q_token_bpe", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"))
        .orderedCorpus("doc_id"),
      // the contraction alternative's quote is doubled for the SQL literal;
      // the pattern itself is TextAnalysis.bpePattern verbatim
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))
        |         AS BIGINT) AS n_bpe,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |         AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── tokenizer fertility per language: chars/piece + pieces/word
    Query("q_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(docs(s, dir), "lang", "text")
        .withColumn("chars_per_piece",
          round(col("chars_per_piece") + lit(1e-9), 6) + lit(0.0))
        .withColumn("pieces_per_word",
          round(col("pieces_per_word") + lit(1e-9), 6) + lit(0.0))
        .orderedSmall("lang"),
      // exact integer sums (CAST out of DuckDB's HUGEINT), two double
      // divisions at the end — engine-reproducible
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))
        |      AS BIGINT) AS nb,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |      AS nw,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS chars,
        |  CAST(sum(nb) AS BIGINT) AS pieces,
        |  round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nb) AS DOUBLE)
        |    + 1e-9, 6) + 0.0 AS chars_per_piece,
        |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
        |    + 1e-9, 6) + 0.0 AS pieces_per_word
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── cross-doc duplicate n-gram coverage: the near-template flag
    //    exact/LSH dedup misses (doc 80% boilerplate + 20% unique)
    Query("q_dup_coverage", (s, dir) =>
      TextAnalysis.crossDocCoverage(docs(s, dir), "doc_id", "text")
        .withColumn("dup_coverage",
          round(col("dup_coverage") + lit(1e-9), 6))
        .orderedCorpus("doc_id"),
      // mirrors TextAnalysis.crossDocCoverage: per-(doc, gram)
      // multiplicities, docs-per-gram, shared-occurrence fraction
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 3
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks)-1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)
        |    AS g
        |  FROM toks
        |), pd AS (
        |  SELECT doc_id, g, count(*) AS m FROM g GROUP BY 1, 2
        |), dfq AS (
        |  SELECT g, count(*) AS ndocs FROM pd GROUP BY 1
        |), cov AS (
        |  SELECT pd.doc_id, CAST(sum(pd.m) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN dfq.ndocs >= 2 THEN pd.m ELSE 0 END)
        |           AS BIGINT) AS n_shared
        |  FROM pd JOIN dfq USING (g) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(cov.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(cov.n_shared, 0) AS BIGINT) AS n_shared,
        |       round(coalesce(CAST(cov.n_shared AS DOUBLE) / cov.n_grams,
        |                      0.0) + 1e-9, 6) AS dup_coverage
        |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ── exact-substring-dedup analog (Lee et al. 2021): merged spans of
    //    corpus-duplicated word 3-grams, and the destructive strip
    Query("q_dup_spans", (s, dir) =>
      TextAnalysis.duplicateSpans(docs(s, dir), "doc_id", "text", n = 3)
        .orderedCorpus("doc_id", "span_start"),
      s"""WITH $dupSpansCte
         |SELECT doc_id, span_start, span_end, n_dup_grams
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    Query("q_strip_spans", (s, dir) =>
      TextAnalysis.stripDuplicateSpans(docs(s, dir), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("clean_text"))
        .orderedCorpus("doc_id"),
      // Strip: keep each word whose 0-based index is covered by no span;
      // docs with no spans (or < 3 tokens) pass through whole. string_agg
      // over zero kept tokens is NULL → coalesce to '' (a fully
      // duplicated doc becomes the empty string, like the engine).
      s"""WITH $dupSpansCte, toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |), words AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS wi, t[i] AS tok
         |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
         |), kept AS (
         |  SELECT w.doc_id, w.wi, w.tok
         |  FROM words w
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |                    WHERE s.doc_id = w.doc_id
         |                      AND w.wi >= s.span_start
         |                      AND w.wi < s.span_end)
         |)
         |SELECT d.doc_id,
         |       coalesce(k.clean_text, '') AS clean_text
         |FROM documents d
         |LEFT JOIN (SELECT doc_id,
         |                  string_agg(tok, ' ' ORDER BY wi) AS clean_text
         |           FROM kept GROUP BY doc_id) k
         |  ON k.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // ── quality scoring
    // ── domain-level quality gate: drop SOURCES whose mean quality is
    //    low (CCNet/RefinedWeb granularity; exact-integer sums make the
    //    per-source mean bit-deterministic across engines)
    Query("q_domain_filter", (s, dir) =>
      TextAnalysis.domainQualityFilter(
          docs(s, dir), "doc_id", "source", "text", minMean = 0.79)
        .orderedCorpus("doc_id"),
      // per-source mean over EXACT integer sums (x1e4 -> BIGINT, the
      // q_mean_pool pattern) so both engines divide the same integers;
      // CAST around sum() because DuckDB widens integer sums to HUGEINT
      s"""WITH q AS (
         |  SELECT doc_id, source, round(($qualityExpr) + 1e-9, 4) AS quality
         |  FROM documents
         |), s AS (
         |  SELECT source,
         |         CAST(sum(CAST(round(quality * 1e4) AS BIGINT)) AS BIGINT)
         |           AS sq,
         |         count(*) AS n
         |  FROM q GROUP BY 1
         |)
         |SELECT q.doc_id, q.source, q.quality,
         |       round(CAST(sq AS DOUBLE) / n / 1e4 + 1e-9, 6)
         |         AS src_mean_quality
         |FROM q JOIN s USING (source)
         |WHERE CAST(sq AS DOUBLE) / n / 1e4 >= 0.79
         |ORDER BY q.doc_id""".stripMargin),

    // ── calibration table of the quality score vs the length label:
    //    per-bin exact integer counts + quantized-sum mean
    Query("q_calibration", (s, dir) =>
      graft.functions.Stats.calibrationBins(
          docs(s, dir).select(
            round(TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4)
              .as("score"),
            (col("n_chars") >= 300).as("y")),
          "score", "y", bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("frac_pos") + lit(1e-9), 6).as("frac_pos"),
          round(col("mean_score") + lit(1e-9), 6).as("mean_score"))
        .orderedSmall("bin"),
      // per-bin: exact counts; frac_pos one exact-int division; mean from
      // x1e6 long sums (CASTs around sum() defeat DuckDB's HUGEINT widening)
      s"""WITH q AS (
         |  SELECT round(($qualityExpr) + 1e-9, 4) AS s,
         |         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
         |  FROM documents
         |), b AS (
         |  SELECT CAST(greatest(0, least(floor(s * 10), 9)) AS INT) AS bin,
         |         CAST(round(round(s + 1e-9, 6) * 1e6) AS BIGINT) AS si, y
         |  FROM q
         |)
         |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |       round(CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE)
         |         + 1e-9, 6) AS frac_pos,
         |       round(CAST(sum(si) AS BIGINT) / CAST(count(*) AS DOUBLE)
         |         / 1e6 + 1e-9, 6) AS mean_score
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── per-source AUC: does the scorer rank well inside EVERY domain?
    Query("q_auc_by_source", (s, dir) =>
      graft.functions.Stats.rocAucBy(
          docs(s, dir).select(col("source"),
            round(TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4)
              .as("score"),
            (col("n_chars") >= 300).as("y")),
          Seq("source"), "score", "y")
        .select(col("source"), col("n_pos"), col("n_neg"),
          round(col("auc") + lit(1e-9), 6).as("auc"))
        .orderedSmall("source"),
      s"""WITH q AS (
         |  SELECT source, round(($qualityExpr) + 1e-9, 4) AS s,
         |         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
         |  FROM documents
         |), per AS (
         |  SELECT source, s, CAST(sum(y) AS BIGINT) AS p,
         |         CAST(sum(1 - y) AS BIGINT) AS n
         |  FROM q GROUP BY 1, 2
         |), cum AS (
         |  SELECT source, p, n,
         |         CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY s
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS nb
         |  FROM per
         |)
         |SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
         |       CAST(sum(n) AS BIGINT) AS n_neg,
         |       CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN NULL
         |            ELSE round(
         |              CAST(CAST(sum(p * (2 * nb + n)) AS BIGINT) AS DOUBLE)
         |              / (2.0 * CAST(sum(p) AS BIGINT)
         |                 * CAST(sum(n) AS BIGINT)) + 1e-9, 6) END AS auc
         |FROM cum GROUP BY source ORDER BY source""".stripMargin),

    // ── thresholdless scorer evaluation: rank-AUC (Mann–Whitney) of
    //    the quality score against a document-length label; all-integer
    //    U arithmetic → bit-deterministic across engines
    Query("q_score_auc", (s, dir) =>
      graft.functions.Stats.rocAuc(
          docs(s, dir).select(
            round(TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4)
              .as("score"),
            (col("n_chars") >= 300).as("y")),
          "score", "y")
        .select(col("n_pos"), col("n_neg"),
          round(col("auc") + lit(1e-9), 6).as("auc")),
      // integer Mann-Whitney: per-score counts, cumulative negatives
      // below, 2U = sum(p*(2*nb+n)); the single FP op is the final divide
      s"""WITH q AS (
         |  SELECT round(($qualityExpr) + 1e-9, 4) AS s,
         |         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
         |  FROM documents
         |), per AS (
         |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
         |         CAST(sum(1 - y) AS BIGINT) AS n
         |  FROM q GROUP BY 1
         |), cum AS (
         |  SELECT p, n, CAST(coalesce(sum(n) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS nb
         |  FROM per
         |)
         |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |       CAST(sum(n) AS BIGINT) AS n_neg,
         |       round(CAST(CAST(sum(p * (2 * nb + n)) AS BIGINT) AS DOUBLE)
         |         / (2.0 * CAST(sum(p) AS BIGINT) * CAST(sum(n) AS BIGINT))
         |         + 1e-9, 6) AS auc
         |FROM cum""".stripMargin),

    Query("q_quality", (s, dir) =>
      docs(s, dir)
        // +1e-9 before rounding: quality is a sum of small rationals that
        // can land exactly on a .00005 decimal boundary, where Spark's
        // BigDecimal HALF_UP and DuckDB's numeric round disagree by 1e-4;
        // the epsilon (mirrored in the oracle) moves ties off the boundary
        .select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4).as("quality"))
        .orderedCorpus("doc_id"),
      s"""SELECT doc_id, round(($qualityExpr) + 1e-9, 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ── trained quality classifier (graft.ml.TextClassifier): 12
    //    full-batch GD steps of the Elliott-sigmoid linear model over 5
    //    deterministic text features, label = (lang = 'en'); result is
    //    the full WEIGHT TRAJECTORY (iter 0 = zero init .. iter 12),
    //    which the oracle replays step-for-step as a recursive CTE
    Query("q_quality_lr", (s, dir) => {
      val m = graft.ml.TextClassifier.fit(docs(s, dir), "text",
        when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ml.TextClassifier.trajectoryDf(s, m)
        .withColumn("weight", round(col("weight") + lit(1e-9), 7) + lit(0.0))
        .orderedSmall("iter", "i")
    },
      // GD trajectory replay: the recursive CTE folds the SAME update
      // rule bit-for-bit — Elliott sigmoid (add/divide/abs only, no libm
      // exp), per-row terms routed through decimal(30,12), fixed-order
      // weight update chain. Step 0 = zero init, step 12 = final.
      QualityLrRecursion(
      """SELECT CAST(iter AS INT) AS iter, CAST(i AS INT) AS i,
        |       round(w + 1e-9, 7) + 0.0 AS weight
        |FROM (SELECT iter, unnest([0, 1, 2, 3, 4, 5]) AS i,
        |             unnest([w0, w1, w2, w3, w4, w5]) AS w FROM gd)
        |ORDER BY iter, i""".stripMargin)),

    // ── the trained model applied back to the corpus: per-doc Elliott
    //    score with the final weights as plan literals (narrow
    //    codegen'd scan-rider), predicted label from the ROUNDED score
    Query("q_quality_lr_score", (s, dir) => {
      val m = graft.ml.TextClassifier.fit(docs(s, dir), "text",
        when(col("lang") === "en", 1.0).otherwise(0.0))
      docs(s, dir).select(col("doc_id"),
          (round(graft.ml.TextClassifier.score(col("text"), m.weights)
            + lit(1e-9), 6) + lit(0.0)).as("score"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
        .withColumn("pred", when(col("score") > 0.5, 1).otherwise(0))
        .orderedCorpus("doc_id")
    },
      // same recursion to the final weights, then the forward pass over
      // every doc; pred compares the ROUNDED score (both engines)
      QualityLrRecursion(
      """SELECT doc_id,
        |       round((0.5 + 0.5 * (z / (1.0 + abs(z)))) + 1e-9, 6) + 0.0
        |         AS score,
        |       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |       CASE WHEN round((0.5 + 0.5 * (z / (1.0 + abs(z))))
        |                    + 1e-9, 6) > 0.5
        |            THEN 1 ELSE 0 END AS pred
        |FROM (
        |  SELECT f.doc_id, f.lang,
        |         g.w0 * f.f0 + g.w1 * f.f1 + g.w2 * f.f2 + g.w3 * f.f3
        |           + g.w4 * f.f4 + g.w5 * f.f5 AS z
        |  FROM feats f CROSS JOIN (SELECT * FROM gd WHERE iter = 12) g)
        |ORDER BY doc_id""".stripMargin)),

    // ── Gopher rule battery (Rae et al. 2021 §A1.1): auditable per-rule
    //    booleans + their conjunction, all codegen'd per-row folds
    Query("q_gopher_rules", (s, dir) => {
      val r = TextAnalysis.gopherRules(col("text"))
      val names = Seq("r_wordcount", "r_meanwordlen", "r_symbol",
        "r_bullet", "r_ellipsis", "r_alpha", "r_stopwords")
      val cols = col("doc_id") +: names.map(n => r.getField(n).as(n)) :+
        names.map(r.getField).reduce(_ && _).as("keep")
      docs(s, dir).select(cols: _*).orderedCorpus("doc_id")
    },
      // mirrors TextAnalysis.gopherRules term by term; every fraction is a
      // double quotient of exact integers so comparisons are engine-exact
      """WITH g AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(text, '[^A-Za-z0-9]+', '', 'g')) AS DOUBLE) AS wls,
        |    CAST(len(regexp_extract_all(text, '#'))
        |         + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) AS syms,
        |    greatest(CAST(length(text) - length(replace(text, chr(10), '')) AS DOUBLE) + 1.0,
        |             1.0) AS nlines,
        |    CAST(len(regexp_extract_all(text, '(?m)^\s*(?:-|\*|•)')) AS DOUBLE) AS bullets,
        |    CAST(len(regexp_extract_all(text, '(?m)\.\.\.\s*$')) AS DOUBLE) AS ellip,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]*[A-Za-z][A-Za-z0-9]*')) AS DOUBLE) AS alphaw,
        |    ((CASE WHEN list_contains(string_split(text, ' '), 'the') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'be') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'to') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'of') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'and') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'that') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'have') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(string_split(text, ' '), 'with') THEN 1 ELSE 0 END)) AS stops
        |  FROM documents
        |)
        |SELECT doc_id,
        |  (words >= 50 AND words <= 100000) AS r_wordcount,
        |  (wls / greatest(words, 1.0) >= 3.0 AND wls / greatest(words, 1.0) <= 10.0) AS r_meanwordlen,
        |  (syms / greatest(words, 1.0) < 0.1) AS r_symbol,
        |  (bullets / nlines < 0.9) AS r_bullet,
        |  (ellip / nlines < 0.3) AS r_ellipsis,
        |  (alphaw / greatest(words, 1.0) >= 0.8) AS r_alpha,
        |  (stops >= 2) AS r_stopwords,
        |  ((words >= 50 AND words <= 100000)
        |   AND (wls / greatest(words, 1.0) >= 3.0 AND wls / greatest(words, 1.0) <= 10.0)
        |   AND (syms / greatest(words, 1.0) < 0.1)
        |   AND (bullets / nlines < 0.9)
        |   AND (ellip / nlines < 0.3)
        |   AND (alphaw / greatest(words, 1.0) >= 0.8)
        |   AND (stops >= 2)) AS keep
        |FROM g ORDER BY doc_id""".stripMargin),

    // ── canonical-document selection: near-dup clusters keep their
    //    HIGHEST-QUALITY member (tie: min id), not the min-id one —
    //    the curation policy real pipelines want
    Query("q_dedup_keep_best", (s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.nearDupClusters(d, "doc_id", "text",
        numHashes = H, bands = 4, tau = 0.5)
      Dedup.selectRepresentatives(
          d.withColumn("__q", TextAnalysis.qualityScore(col("text"))),
          clusters, "doc_id", Seq(col("__q").desc, col("doc_id")))
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("cluster_size").cast("long").as("cluster_size"),
          round(col("__q") + lit(1e-9), 4).as("quality"))
        .orderedCorpus("cluster_id")
    },
      s"""WITH RECURSIVE $clusterCtes, q AS (
         |  SELECT doc_id, ($qualityExpr) AS quality FROM documents
         |), ranked AS (
         |  SELECT c.cluster_id, c.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY q.quality DESC, c.doc_id) AS rn,
         |         count(*) OVER (PARTITION BY c.cluster_id) AS sz
         |  FROM clusters c JOIN q USING (doc_id)
         |)
         |SELECT cluster_id, doc_id AS keep_id, CAST(sz AS BIGINT) AS cluster_size,
         |       round(quality + 1e-9, 4) AS quality
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // ── JSONL shard round-trip: to_json(struct) → from_json, the exact
    //    plumbing of writing and re-ingesting JSONL shards; `ok` proves
    //    the text survives JSON escaping byte-for-byte
    Query("q_jsonl_roundtrip", (s, dir) => {
      val rt = SemiStructured.jsonlRoundtrip(docs(s, dir),
        Seq("doc_id", "lang", "text"))
      rt.select(col("doc_id"), col("doc_id_rt"), col("lang_rt"),
          length(col("text_rt")).cast("long").as("n_chars_rt"),
          (col("text_rt") === col("text")).as("ok"))
        .orderedCorpus("doc_id")
    },
      // the oracle states the roundtrip CONTRACT (identity); the engine
      // earns it by actually serializing + reparsing every row
      """SELECT doc_id, doc_id AS doc_id_rt, lang AS lang_rt,
        |       CAST(length(text) AS BIGINT) AS n_chars_rt, TRUE AS ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── top-k per group: the 3 highest-quality docs per source — a
    //    rank-k window whose rank-1..k filter plans as WindowGroupLimit
    //    (per-partition top-k heap BEFORE the sort, never a full sort of
    //    each group)
    Query("q_topk_per_group", (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("__q").desc, col("doc_id"))
      docs(s, dir)
        .withColumn("__q", TextAnalysis.qualityScore(col("text")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("doc_id"), round(col("__q") + lit(1e-9), 4).as("quality"))
        .orderedSmall("source", "rank")
    },
      s"""WITH q AS (
         |  SELECT source, doc_id, ($qualityExpr) AS quality FROM documents
         |), ranked AS (
         |  SELECT source, doc_id, quality,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY quality DESC, doc_id) AS rank
         |  FROM q
         |)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
         |       round(quality + 1e-9, 4) AS quality
         |FROM ranked WHERE rank <= 3 ORDER BY source, rank""".stripMargin),

    // ── document fingerprint (canonical-form md5)
    Query("q_fingerprint", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderedCorpus("doc_id"),
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── multimodal: blob + typed metadata projection
    Query("q_multimodal_meta", (s, dir) =>
      Multimodal.attachBlob(docs(s, dir), "doc_id", "text")
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.kind").as("kind"))
        .orderedCorpus("media_id"),
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       'image' AS kind
        |FROM documents ORDER BY media_id""".stripMargin),

    // ── multimodal: stubbed decode → feature vectors, unrolled to one
    //    rounded double column per element (arrays aren't hashable by the
    //    driver's pandas compare; scalars are)
    Query("q_multimodal_features", (s, dir) => {
      // routes through the REAL decode path: ImageIO rejects the text
      // blobs by magic bytes and the deterministic byte-stat fallback
      // produces exactly the stub features the oracle mirrors — a
      // genuinely mixed corpus would decode its images in this same plan
      val decoded = Multimodal.decodeImage(
        Multimodal.attachBlob(docs(s, dir), "doc_id", "text"))
      val fs = (0 until 8).map(j =>
        round(coalesce(element_at(col("features"), j + 1), lit(0.0)), 6).as(s"f$j"))
      decoded.select((col("media_id") +: fs): _*).orderedCorpus("media_id")
    },
      // Mirrors Multimodal.decodeStub exactly: blob = UTF-8 bytes of text,
      // f_j = mean of bytes at positions ≡ j (mod 8), /255, 0.0 when the
      // residue class is empty. Bytes recovered engine-independently via
      // hex(blob) two-char slices (no ASCII assumption).
      {
      val fcols = (0 until 8).map(j =>
        s"round(coalesce(f.f$j, 0.0), 6) AS f$j").mkString(", ")
      val aggs = (0 until 8).map(j =>
        s"avg(CASE WHEN j = $j THEN byte END) / 255.0 AS f$j").mkString(", ")
      s"""WITH hexed AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS n
         |  FROM documents
         |), idx AS (
         |  SELECT doc_id, hx, unnest(range(0, n)) AS i FROM hexed
         |), bytes AS (
         |  SELECT doc_id, CAST(i % 8 AS INT) AS j,
         |         CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) AS byte
         |  FROM idx
         |), feats AS (
         |  SELECT doc_id,
         |         $aggs
         |  FROM bytes GROUP BY doc_id
         |)
         |SELECT d.doc_id AS media_id,
         |       $fcols
         |FROM documents d LEFT JOIN feats f ON f.doc_id = d.doc_id
         |ORDER BY media_id""".stripMargin
    }),

    // ── multimodal audio: REAL JDK codec roundtrip — text bytes become
    //    the PCM payload of a genuine WAV container (AudioSystem.write),
    //    then decodeAudio parses it back with javax.sound.sampled and
    //    emits sample-domain stats. The oracle recomputes the stats from
    //    the same bytes (samples are exact multiples of 2^-7, so the
    //    float math agrees bit-for-bit); header-derived fields
    //    (sample_rate/channels/n_frames) prove the container parse ran —
    //    a byte-stat fallback would emit garbage rates and go red
    Query("q_audio_features", (s, dir) => {
      val decoded = Multimodal.decodeAudio(
        Multimodal.buildWav(
          Multimodal.attachBlob(docs(s, dir), "doc_id", "text", kind = "audio")))
      decoded.select(
        col("media_id"),
        element_at(col("features"), 1).cast("bigint").as("sample_rate"),
        element_at(col("features"), 2).cast("bigint").as("channels"),
        element_at(col("features"), 3).cast("bigint").as("n_frames"),
        // UNROUNDED doubles: samples are exact multiples of 2^-7, so
        // sums are exact in any order and mean/rms/peak are the SAME
        // double on both engines — rounding would reintroduce the
        // half-boundary hazard (HALF_UP vs float-domain rounding
        // disagreed at the 6th decimal on real data)
        element_at(col("features"), 5).as("mean_amp"),
        element_at(col("features"), 6).as("rms_amp"),
        element_at(col("features"), 7).as("peak_amp"))
        .orderedCorpus("media_id")
    },
      // Mirrors the WAV roundtrip sample-domain stats: payload bytes are
      // the UTF-8 bytes of text (recovered via hex two-char slices — no
      // ASCII assumption), samples v = (byte-128)/128 exactly (power-of-2
      // divisor ⇒ exact doubles ⇒ order-independent sums). v*v spelled as
      // a product, not power(), to match the engine's multiply.
      """WITH hexed AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, hx, unnest(range(0, n)) AS i FROM hexed
        |), samples AS (
        |  SELECT doc_id,
        |         (CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT) - 128.0)
        |           / 128.0 AS v
        |  FROM idx
        |), feats AS (
        |  SELECT doc_id, avg(v) AS mean_amp, sqrt(avg(v * v)) AS rms_amp,
        |         max(abs(v)) AS peak_amp
        |  FROM samples GROUP BY doc_id
        |)
        |SELECT d.doc_id AS media_id,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels,
        |       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_frames,
        |       coalesce(f.mean_amp, 0.0) AS mean_amp,
        |       coalesce(f.rms_amp, 0.0) AS rms_amp,
        |       coalesce(f.peak_amp, 0.0) AS peak_amp
        |FROM documents d LEFT JOIN feats f ON f.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin),

    // ── multimodal video: REAL codec roundtrip — text bytes render as
    //    W×1 grayscale BMP frames (lossless, pixel = byte) muxed into a
    //    RIFF/AVI container, then sampleAviFrames demuxes and decodes
    //    them back. The oracle recomputes width/mean_r from the same
    //    byte slices; mean_r is exact (integer pixel sums, two ordered
    //    divisions) so it compares unrounded, like q_audio_features
    Query("q_video_features", (s, dir) => {
      val media = Multimodal.attachBlob(docs(s, dir), "doc_id", "text",
        kind = "video")
      Multimodal.sampleAviFrames(Multimodal.buildAviBmp(media, frames = 3),
          n = 3)
        .select(col("media_id"), col("frame_no"), col("n_frames"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          element_at(col("features"), 3).as("mean_r"))
        .orderedCorpus("media_id", "frame_no")
    },
      // Mirrors the AVI/BMP roundtrip: frame f covers byte slice
      // [L·f//3, L·(f+1)//3) of the UTF-8 text (empty slices emit no
      // frame), width = slice length, mean_r = (sum(byte)/width)/255 with
      // the engine's exact division order. Bytes recovered via hex
      // two-char slices; mean_r compared unrounded (integer sums → the
      // same double on both engines).
      """WITH hexed AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS L
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, f.f,
        |         CAST(L * f.f // 3 AS INT) AS lo,
        |         CAST(L * (f.f + 1) // 3 AS INT) AS hi, hx
        |  FROM hexed CROSS JOIN (SELECT unnest(range(0, 3)) AS f) f
        |), nonempty AS (
        |  SELECT doc_id, lo, hi, hx,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f)
        |              - 1 AS INT) AS frame_no,
        |         CAST(count(*) OVER (PARTITION BY doc_id) AS INT)
        |           AS n_frames
        |  FROM fr WHERE hi > lo
        |), px AS (
        |  SELECT doc_id, frame_no, n_frames, lo, hi,
        |         unnest(range(lo, hi)) AS i, hx
        |  FROM nonempty
        |), stats AS (
        |  SELECT doc_id, frame_no, n_frames, hi - lo AS width,
        |         (CAST(sum(CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2)
        |                         AS INT)) AS DOUBLE)
        |          / (hi - lo)) / 255.0 AS mean_r
        |  FROM px GROUP BY doc_id, frame_no, n_frames, lo, hi
        |)
        |SELECT doc_id AS media_id, frame_no, n_frames,
        |       CAST(width AS INT) AS width, CAST(1 AS INT) AS height,
        |       mean_r
        |FROM stats ORDER BY media_id, frame_no""".stripMargin),

    // ── multimodal video-shape: evenly-spaced byte-window frame cuts
    //    (the opaque-codec path; sampleGifFrames is the real-codec one).
    //    Frames emitted as hex so the driver's pandas hash sees strings
    Query("q_frame_sample", (s, dir) =>
      Multimodal.frameSample(
          Multimodal.attachBlob(docs(s, dir), "doc_id", "text", kind = "video"),
          n = 4, frameBytes = 16)
        .select(col("media_id"), col("frame_no"),
          hex(col("frame")).as("frame_hex"))
        .orderedCorpus("media_id", "frame_no"),
      // Mirrors Multimodal.frameSample's byte windows: frame i starts at
      // byte floor(n_bytes*i/4), 16 bytes wide, clamped at the blob end.
      // DuckDB's substring has no BLOB overload, so the slice happens in
      // the hex domain (byte b ↔ hex chars 2b+1..2b+2 — exactly 2 chars
      // per byte, so windows map linearly). CROSS JOIN a 4-row frame
      // index; hex strings compared on both sides.
      """SELECT d.doc_id AS media_id, f.frame_no,
        |       substr(hex(encode(d.text)),
        |              CAST(2 * (octet_length(encode(d.text)) * f.frame_no // 4)
        |                   AS INT) + 1, 32) AS frame_hex
        |FROM documents d
        |CROSS JOIN (SELECT unnest(range(0, 4)) AS frame_no) f
        |ORDER BY media_id, frame_no""".stripMargin),

    // ── near-dup clustering: connected components over verified LSH
    //    pairs — exact transitive cluster ids (vs lshDedup's one-pass
    //    keep-min), every doc labeled with its component's min doc_id
    Query("q_dedup_cluster", (s, dir) =>
      Dedup.nearDupClusters(docs(s, dir), "doc_id", "text",
          numHashes = H, bands = 4, tau = 0.5)
        .orderedCorpus("doc_id"),
      // mirrors Dedup.nearDupClusters: the q_dedup_lsh candidate/verify
      // stages, then exact connected components via a recursive reachability
      // CTE (UNION dedups rows, so the recursion terminates at the
      // component closure); cluster_id = min reachable doc id. The star-
      // contraction variant must produce the SAME labels — same oracle.
      dedupClusterSql),

    // ── same clusters via star contraction (O(log n) rounds — the
    //    unbounded-diameter path); labels must equal q_dedup_cluster's
    Query("q_dedup_cluster_star", (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.lshVerifiedPairs(d, "doc_id", "text",
        numHashes = H, bands = 4, tau = 0.5).dropDuplicates("id_a", "id_b")
      Dedup.connectedComponentsStar(d.select(col("doc_id")), pairs, "doc_id")
        .orderedCorpus("doc_id")
    },
      dedupClusterSql),

    // ── CROSS-TIER dedup report (the curation end-game): exact
    //    content-hash edges, MinHash/LSH verified pairs and perceptual
    //    media-hash pairs union into ONE edge set; a single
    //    connected-components pass assigns one cluster per doc ACROSS
    //    modalities — plus the '+'-joined set of tiers touching each
    //    doc — so the keep-one decision is made once, not once per
    //    tier (two tiers can each link disjoint halves of one family;
    //    only the union sees the whole family)
    Query("q_dedup_multitier", (s, dir) => {
      // r15 (guide §5/§6, VERDICT r14 item 3): the four tier kernels
      // each re-scanned documents.parquet (plus its fanOut exchange) —
      // one columnar persist now feeds exact + LSH + media + audio.
      // The tiers materialize inside multiTierClusters (its
      // connected-components rounds read the pinned tier union, and the
      // tiers have their own internal checkpoints), so the
      // cache is live exactly while the heavy kernels run; the finally
      // releases it, and the returned plan's remaining reference (the
      // id-only nodes scan) recomputes from parquet, column-pruned.
      val d = docs(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val exact = Dedup.exactDupEdges(d, "doc_id", "text")
        val lsh = Dedup.lshVerifiedPairs(d, "doc_id", "text",
          numHashes = H, bands = 4, tau = 0.5).dropDuplicates("id_a", "id_b")
        val media = Multimodal.mediaNearDups(
          Multimodal.attachBlob(d, "doc_id", "text"), "media_id",
          maxHamming = 3)
        // audio tier over the EVEN half only: a genuinely distinct tier
        // (its evidence is the decoded SAMPLE stream of a real WAV, not
        // the text bytes, and it sees only a sub-corpus — docs with an
        // odd-id near-dup get media-only edges, so the tiers column
        // separates the detectors instead of mirroring one of them)
        val audio = Multimodal.audioNearDups(
          Multimodal.buildWav(
            Multimodal.attachBlob(d.filter(pmod(col("doc_id"), lit(2)) === 0),
              "doc_id", "text", kind = "audio")),
          "media_id", maxHamming = 3)
        Dedup.multiTierClusters(d.select(col("doc_id")), "doc_id",
            Seq("exact" -> exact, "lsh" -> lsh, "media" -> media,
              "audio" -> audio))
          .orderedCorpus("doc_id")
      } finally d.unpersist(false)
    },
      // three tiers replayed independently — exact md5 groups in star
      // form, the shared LSH verified CTE, the byteDHash Hamming-band
      // pairs — unioned into one edge set and pushed through the same
      // recursive-CTE components as q_dedup_cluster; per-doc tier sets
      // aggregate over the union's endpoints. tpairs/edges are
      // MATERIALIZED: DuckDB re-evaluates plain CTEs referenced from a
      // recursive step EVERY round, and re-running the per-byte media
      // chain per round OOMs the sf1 gate (measured: OOM -> 46 s)
      // while the components themselves are tiny (max size 19)
      s"""WITH RECURSIVE $verifiedCtes,
         |${dHashCtes("m", "SELECT doc_id, text FROM documents")},
         |${hammingPairCtes("m")},
         |exkey AS (
         |  SELECT md5(text) AS h, doc_id FROM documents
         |  WHERE text IS NOT NULL
         |), exrep AS (
         |  SELECT h, min(doc_id) AS rep, count(*) AS n
         |  FROM exkey GROUP BY h
         |), expairs AS (
         |  SELECT e.rep AS id_a, g.doc_id AS id_b
         |  FROM exkey g JOIN exrep e USING (h)
         |  WHERE e.n >= 2 AND g.doc_id != e.rep
         |), tpairs AS MATERIALIZED (
         |  SELECT id_a, id_b, 'exact' AS tier FROM expairs
         |  UNION ALL SELECT id_a, id_b, 'lsh' AS tier FROM verified
         |  UNION ALL SELECT id_a, id_b, 'media' AS tier FROM mpairs
         |            WHERE hamming <= 3
         |  UNION ALL SELECT id_a, id_b, 'audio' AS tier FROM mpairs
         |            WHERE hamming <= 3
         |              AND id_a % 2 = 0 AND id_b % 2 = 0
         |), edges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM tpairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM tpairs
         |), reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab
         |  FROM reach r JOIN edges e ON e.src = r.id
         |), clusters AS (
         |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
         |), touch AS (
         |  SELECT doc_id, string_agg(tier, '+' ORDER BY tier) AS tiers
         |  FROM (SELECT DISTINCT doc_id, tier FROM (
         |          SELECT id_a AS doc_id, tier FROM tpairs
         |          UNION ALL
         |          SELECT id_b AS doc_id, tier FROM tpairs))
         |  GROUP BY doc_id
         |)
         |SELECT c.doc_id, c.cluster_id, coalesce(t.tiers, '') AS tiers
         |FROM clusters c LEFT JOIN touch t USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // ── semi-supervised label propagation: ratings seeded on 1-in-25
    //    docs spread through the verified near-dup graph (5 rounds,
    //    majority vote, ties to the smallest label, seeds clamped)
    Query("q_label_prop", (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.lshVerifiedPairs(d, "doc_id", "text",
          numHashes = H, bands = 4, tau = 0.5)
        .dropDuplicates("id_a", "id_b")
      val seeds = d.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(3)).as("rating"))
      Dedup.labelPropagation(d.select(col("doc_id")), pairs, "doc_id",
          seeds, "rating", iters = 5)
        .orderedCorpus("doc_id")
    },
      // lockstep label-propagation replay: all-integer state, majority
      // via plain aggregates (count → per-node max → min(label) among
      // the tied), seeds clamped by the coalesce order
      s"""WITH RECURSIVE $clusterCtes,
         |seeds AS (
         |  SELECT doc_id AS id, doc_id % 3 AS s
         |  FROM documents WHERE doc_id % 25 = 0
         |),
         |lp(step, id, seed, lab) AS (
         |  SELECT 0, d.doc_id, s.s, s.s
         |  FROM documents d LEFT JOIN seeds s ON s.id = d.doc_id
         |  UNION ALL
         |  SELECT l.step + 1, l.id, l.seed, coalesce(l.seed, m.maj, l.lab)
         |  FROM lp l
         |  LEFT JOIN (
         |    SELECT n.id, min(n.lab) AS maj
         |    FROM (SELECT e.src AS id, p.lab, count(*) AS c
         |          FROM edges e JOIN lp p
         |            ON p.id = e.dst AND p.lab IS NOT NULL
         |          GROUP BY 1, 2) n
         |    JOIN (SELECT id, max(c) AS mc FROM (
         |            SELECT e.src AS id, p.lab, count(*) AS c
         |            FROM edges e JOIN lp p
         |              ON p.id = e.dst AND p.lab IS NOT NULL
         |            GROUP BY 1, 2) GROUP BY 1) mx
         |      ON mx.id = n.id AND n.c = mx.mc
         |    GROUP BY 1
         |  ) m ON m.id = l.id
         |  WHERE l.step < 5
         |)
         |SELECT id AS doc_id, lab AS label
         |FROM lp WHERE step = 5 ORDER BY doc_id""".stripMargin),

    // ── snapshot diff between two corpus versions (the ingest delta:
    //    %7==0 added, ==1 removed, ==2 text-revised, rest unchanged)
    Query("q_corpus_diff", (s, dir) => {
      val d = docs(s, dir)
      val before = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val after = d.filter(pmod(col("doc_id"), lit(7)) =!= 1)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 2,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      CorpusStats.corpusDiff(before, after, "doc_id", "text")
        .orderedCorpus("doc_id")
    },
      // md5 content keys per side, full-outer on the id (USING coalesces)
      """WITH b AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0
        |), a AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 2 THEN text || ' [rev2]'
        |                  ELSE text END) AS h
        |  FROM documents WHERE doc_id % 7 <> 1
        |)
        |SELECT doc_id,
        |       CASE WHEN b.h IS NULL THEN 'added'
        |            WHEN a.h IS NULL THEN 'removed'
        |            WHEN a.h = b.h THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ── PageRank centrality over the verified near-dup graph: the
    //    authority score for canonical-doc choice / link-graph curation;
    //    10 damped rounds, decimal-summed contributions, dangling mass
    Query("q_pagerank", (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.lshVerifiedPairs(d, "doc_id", "text",
          numHashes = H, bands = 4, tau = 0.5)
        .dropDuplicates("id_a", "id_b")
      Dedup.pageRank(d.select(col("doc_id")), pairs, "doc_id",
          iters = 10, damping = 0.85)
        .select(col("doc_id"),
          round(col("pagerank") + lit(1e-12), 9).as("pagerank"))
        .orderedCorpus("doc_id")
    },
      // lockstep PageRank replay: the recursive term re-derives each
      // round's full rank table from the previous working table —
      // contributions decimal-summed per target, dangling mass from the
      // zero-degree nodes, formula parenthesized exactly as the engine's
      // (base + d·(contrib + dangling/N))
      s"""WITH RECURSIVE $clusterCtes,
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |pr(step, id, r) AS (
         |  SELECT 0, doc_id, 1.0 / (SELECT n FROM nn) FROM documents
         |  UNION ALL
         |  SELECT (SELECT max(step) FROM pr) + 1, d.doc_id,
         |         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * (
         |           coalesce(c.cs, 0.0) +
         |           (SELECT coalesce(CAST(sum(CAST(p.r AS DECIMAL(30,15)))
         |                     AS DOUBLE), 0.0)
         |            FROM pr p WHERE p.id NOT IN (SELECT src FROM deg))
         |             / (SELECT n FROM nn))
         |  FROM documents d
         |  LEFT JOIN (
         |    SELECT e.dst AS id,
         |           CAST(sum(CAST(p.r / dg.deg AS DECIMAL(30,15)))
         |             AS DOUBLE) AS cs
         |    FROM pr p JOIN edges e ON e.src = p.id
         |              JOIN deg dg ON dg.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = d.doc_id
         |  WHERE (SELECT max(step) FROM pr) < 10
         |)
         |SELECT id AS doc_id, round(r + 1e-12, 9) AS pagerank
         |FROM pr WHERE step = 10 ORDER BY doc_id""".stripMargin),

    // ── curriculum deciles over the quality score: exact-percentile
    //    bin edges as plan literals, no ntile/global sort
    Query("q_curriculum", (s, dir) => {
      val q = round(TextAnalysis.qualityScore(col("text")) + lit(1e-9), 4)
      Sampling.curriculumBins(docs(s, dir), q, bins = 10,
          edgeDecimals = 4)
        .select(col("doc_id"), q.as("quality"), col("bin"))
        .orderedCorpus("doc_id")
    },
      // same quality expression, 4-dp quantized BEFORE the percentile and
      // on each edge (+1e-9 half-up both sides): interpolated edges are
      // formula-sensitive in the last ulp across engines (a(1−f)+bf vs
      // a+f(b−a)), and deciles of a tie-heavy score land ON data values
      s"""WITH q AS (
         |  SELECT doc_id, round(($qualityExpr) + 1e-9, 4) AS quality
         |  FROM documents
         |), e AS (
         |  SELECT list_transform(quantile_cont(quality,
         |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
         |    x -> round(x + 1e-9, 4)) AS edges
         |  FROM q
         |)
         |SELECT q.doc_id, q.quality,
         |       CAST(len(list_filter(e.edges, x -> q.quality > x)) AS INT)
         |         AS bin
         |FROM q, e ORDER BY q.doc_id""".stripMargin),

    // ── leakage-safe split: train/val draw keyed by the near-dup
    //    CLUSTER, so no duplicate family straddles the boundary
    Query("q_split_leak_safe", (s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.nearDupClusters(d, "doc_id", "text",
        numHashes = H, bands = 4, tau = 0.5)
      Sampling.leakSafeSplit(d, "doc_id", clusters, "cluster_id",
          valFraction = 0.2)
        .select("doc_id", "cluster_id", "split").orderedCorpus("doc_id")
    },
      // same cluster labels; the split draw hashes the CLUSTER id
      s"""WITH RECURSIVE $clusterCtes
         |SELECT d.doc_id, c.cluster_id,
         |       CASE WHEN CAST('0x' ||
         |              substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 8)
         |              AS BIGINT) / 4294967296.0 < 0.2
         |            THEN 'val' ELSE 'train' END AS split
         |FROM documents d JOIN clusters c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // ── repetition / boilerplate signals (Gopher-style quality rules)
    Query("q_repetition", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TextAnalysis.topTokenFrac(col("text")) + lit(1e-9), 4)
          .as("top_token_frac"),
        round(TextAnalysis.topBigramFrac(col("text")) + lit(1e-9), 4)
          .as("top_bigram_frac"),
        round(TextAnalysis.dupSentFrac(col("text")) + lit(1e-9), 4)
          .as("dup_sent_frac"))
        .orderedCorpus("doc_id"),
      // repetition signals: max-multiplicity over the token / 2-gram
      // multisets ≡ Spark's longest-equal-run fold over the sorted arrays
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         string_split(text, '. ') AS sents
        |  FROM documents
        |), tok_top AS (
        |  SELECT doc_id, max(c) AS m, sum(c) AS n FROM (
        |    SELECT doc_id, tok, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
        |    GROUP BY 1, 2
        |  ) GROUP BY 1
        |), bigs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |              ELSE list_transform(range(1, len(toks)),
        |                     i -> toks[i] || ' ' || toks[i+1]) END AS bgs
        |  FROM toks
        |), big_top AS (
        |  SELECT doc_id, max(c) AS m, sum(c) AS n FROM (
        |    SELECT doc_id, bg, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM bigs)
        |    GROUP BY 1, 2
        |  ) GROUP BY 1
        |)
        |SELECT t.doc_id,
        |       round(CAST(tt.m AS DOUBLE) / tt.n + 1e-9, 4) AS top_token_frac,
        |       round(coalesce(CAST(bt.m AS DOUBLE) / bt.n, 0.0) + 1e-9, 4)
        |         AS top_bigram_frac,
        |       round(1.0 - CAST(len(list_distinct(t.sents)) AS DOUBLE)
        |               / len(t.sents) + 1e-9, 4) AS dup_sent_frac
        |FROM toks t
        |LEFT JOIN tok_top tt USING (doc_id)
        |LEFT JOIN big_top bt USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),

    // ── stratified sampling: 25 docs per source, smallest id-hash quota
    Query("q_stratified_sample", (s, dir) =>
      Sampling.stratifiedTopK(docsLight(s, dir), "source", "doc_id", k = 25)
        .select("source", "doc_id").orderedSmall("source", "doc_id"),
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |               / 4294967296.0, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 25 ORDER BY source, doc_id""".stripMargin),

    // ── class balancing: every lang downsampled to the minority count
    //    (deterministic hash-rank draw, append-stable)
    Query("q_balance_classes", (s, dir) =>
      Sampling.balanceClasses(docsLight(s, dir), "lang", "doc_id")
        .select("lang", "doc_id").orderedCorpus("lang", "doc_id"),
      // same md5-uniform rank as q_stratified_sample; k = min class count
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY 1
        |), k AS (SELECT min(n) AS k FROM c),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |                 AS BIGINT) / 4294967296.0, doc_id) AS rn
        |  FROM documents
        |)
        |SELECT lang, doc_id FROM r CROSS JOIN k
        |WHERE rn <= k.k ORDER BY lang, doc_id""".stripMargin),

    // ── TF-IDF keyword extraction: top-3 terms per doc
    Query("q_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .withColumn("tfidf", round(col("tfidf") + lit(1e-9), 4))
        .orderedCorpus("doc_id", "rank"),
      // smoothed tf-idf = tf * (ln((N+1)/(df+1)) + 1); rank on the
      // unrounded score, term asc tie-break (both engines)
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, term FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents
        |    )
        |  ) GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |         t.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (d.df + 1)) + 1) AS s
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, term, s,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY s DESC, term ASC) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, term, round(s + 1e-9, 4) AS tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // ── BM25 ranked retrieval: 3 probe queries, top-10 docs each
    //    (k1=1.5, b=0.75 — see Retrieval.bm25TopK's determinism notes)
    Query("q_bm25", (s, dir) =>
      Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq(1 -> "hash join merge", 2 -> "window batch stream",
            3 -> "vector scan filter slow"), k = 10)
        .withColumn("score", round(col("score") + lit(1e-9), 4) + lit(0.0))
        .orderedSmall("query_id", "rank"),
      // BM25 with exactly-representable k1=1.5, b=0.75; avgdl from an
      // exact integer sum; per-(query,doc) sum routed through
      // decimal(30,12) in both engines → scores bit-identical, rank on
      // the unrounded double
      Bm25Oracle),

    // ── BM25 index BUILD (forced, full cost measured: tokenize +
    //    postings exchange + three artifacts); returns the index's
    //    1-row corpus-stats audit. Sorts before q_bm25_indexed, so in
    //    every bench pass the probe below finds a fresh index and
    //    measures PROBE-ONLY cost — build and probe are separate rows,
    //    which is what makes the build-once amortization claim a
    //    measured number instead of a stated one
    Query("q_bm25_index_build", (s, dir) => {
      val idx = s"/tmp/graft_bm25_idx_${scratchKey(dir)}"
      Retrieval.buildIndex(docs(s, dir), "doc_id", "text", idx)
      Retrieval.indexStats(s, idx)
    },
      // the index's stats artifact: N over all docs (an empty doc still
      // lands one postings row — split('') = ['']), avgdl = exact integer
      // token-count sum / N
      """SELECT count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS avgdl
        |FROM documents""".stripMargin),

    // ── BM25 against the PERSISTED inverted index (build once per
    //    corpus version — skipped when the completion marker exists —
    //    probe per query batch) — same oracle as q_bm25: the index must
    //    be a pure cost move, bit-identical scores
    Query("q_bm25_indexed", (s, dir) => {
      val idx = s"/tmp/graft_bm25_idx_${scratchKey(dir)}"
      Retrieval.ensureIndex(docs(s, dir), "doc_id", "text", idx)
      Retrieval.bm25TopKIndexed(s, idx, "doc_id",
          Seq(1 -> "hash join merge", 2 -> "window batch stream",
            3 -> "vector scan filter slow"), k = 10)
        .withColumn("score", round(col("score") + lit(1e-9), 4) + lit(0.0))
        .orderedSmall("query_id", "rank")
    },
      // the index path must reproduce the direct path bit-for-bit — the
      // oracle IS q_bm25's
      Bm25Oracle),

    // ── incremental index maintenance: base index over the standing
    //    80% corpus, today's 20% crawl merged via updateIndex (delta-
    //    sized build cost), then probed — same oracle as q_bm25: the
    //    incrementally-updated index must score the FULL corpus
    //    bit-identically to a from-scratch build
    Query("q_bm25_index_incr", (s, dir) => {
      val idx = s"/tmp/graft_bm25_incr_${scratchKey(dir)}"
      // fresh every run: an append-based artifact must never double-add
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(idx), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val d = docsLight(s, dir)
      Retrieval.buildIndex(d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", idx)
      Retrieval.updateIndex(d.filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", idx)
      Retrieval.bm25TopKIndexed(s, idx, "doc_id",
          Seq(1 -> "hash join merge", 2 -> "window batch stream",
            3 -> "vector scan filter slow"), k = 10)
        .withColumn("score", round(col("score") + lit(1e-9), 4) + lit(0.0))
        .orderedSmall("query_id", "rank")
    },
      // incremental-update equivalence: the merged index scores the full
      // corpus exactly like q_bm25's from-scratch ranking
      Bm25Oracle),

    // ── hybrid retrieval: per anchor doc, BM25 more-like-this (its own
    //    text as the query, self-match excluded before ranking) and
    //    dense cosine neighbors, each top-20, fused by reciprocal rank
    //    (RRF, Cormack et al. SIGIR'09). rank_0 = sparse rank, rank_1 =
    //    dense rank, 0 = absent from that list
    Query("q_rrf_fusion", (s, dir) => {
      val d = docs(s, dir)
      val anchorIds = Seq(3L, 7L, 11L)
      // anchor texts are query-sized (3 rows) — driver-side by design
      val anchors = d.filter(col("doc_id").isin(anchorIds: _*))
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0).toInt, r.getString(1))).toSeq.sortBy(_._1)
      val sparse = Retrieval.bm25TopK(d, "doc_id", "text", anchors,
          k = 20, excludeSelf = true)
        .select("query_id", "doc_id", "rank")
      val dense = Similarity.bruteForceTopK(
          embs(s, dir).filter(col("vec_id").isin(anchorIds: _*)),
          embs(s, dir), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("match_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
        .withColumn("score", round(col("score") + lit(1e-9), 6) + lit(0.0))
        .orderedSmall("query_id", "rank")
    },
      // hybrid fusion: the sparse leg replays Bm25Oracle's scoring with
      // anchor-doc texts as the queries (self-match excluded BEFORE
      // ranking), the dense leg replays q_embed_topk's cosine ranking;
      // fused score = two exact IEEE divisions added in fixed list order
      // (sparse + dense) — bit-identical to rrfFuse's pivoted add chain
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        |), postings AS (
        |  SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, len(arr) AS dl, unnest(arr) AS term FROM toks
        |  ) WHERE length(term) > 0 GROUP BY 1, 2, 3
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, term FROM (
        |      SELECT doc_id, unnest(arr) AS term FROM toks)
        |    WHERE length(term) > 0
        |  ) GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(len(arr)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |           AS avgdl
        |  FROM toks
        |), qterms AS (
        |  SELECT DISTINCT doc_id AS query_id, term FROM (
        |    SELECT doc_id, unnest(arr) AS term FROM toks
        |    WHERE doc_id IN (3, 7, 11))
        |  WHERE length(term) > 0
        |), sp_scored AS (
        |  SELECT q.query_id, p.doc_id,
        |    CAST(sum(CAST(
        |      ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
        |        (p.tf * CAST(2.5 AS DOUBLE)) /
        |        (p.tf + CAST(1.5 AS DOUBLE) *
        |          (1.0 - CAST(0.75 AS DOUBLE) +
        |           CAST(0.75 AS DOUBLE) * p.dl / s.avgdl))
        |      AS DECIMAL(30,12))) AS DOUBLE) AS score
        |  FROM postings p JOIN qterms q USING (term)
        |  JOIN dfreq d USING (term) CROSS JOIN stats s
        |  WHERE p.doc_id != q.query_id
        |  GROUP BY 1, 2
        |), sp AS (
        |  SELECT * FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, doc_id ASC) AS r
        |    FROM sp_scored) WHERE r <= 20
        |), dn AS (
        |  SELECT * FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cr DESC, doc_id ASC) AS r
        |    FROM (
        |      SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |             list_dot_product(q.qv, c.cv) /
        |               (sqrt(list_dot_product(q.qv, q.qv)) *
        |                sqrt(list_dot_product(c.cv, c.cv))) AS cr
        |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
        |            FROM embeddings WHERE vec_id IN (3, 7, 11)) q
        |      CROSS JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |                  FROM embeddings) c
        |      WHERE q.vec_id != c.vec_id)
        |  ) WHERE r <= 20
        |), fused AS (
        |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |         coalesce(s.doc_id, d.doc_id) AS doc_id,
        |         coalesce(1.0 / (60 + s.r), 0.0)
        |           + coalesce(1.0 / (60 + d.r), 0.0) AS score,
        |         coalesce(s.r, 0) AS rank_0, coalesce(d.r, 0) AS rank_1
        |  FROM sp s FULL OUTER JOIN dn d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
        |), ranked AS (
        |  SELECT query_id, doc_id, score, rank_0, rank_1,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM fused
        |)
        |SELECT query_id, rank, doc_id,
        |       round(score + 1e-9, 6) + 0.0 AS score, rank_0, rank_1
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // ── C4-style boilerplate removal, token unit (the synthetic corpus
    //    has no sentence structure): drop tokens present in ≥ 390 docs,
    //    rebuild each doc from survivors in original order
    Query("q_boilerplate", (s, dir) =>
      Dedup.removeBoilerplate(docs(s, dir), "doc_id", "text",
          minDocs = 390, sepRegex = " ", joinSep = " ")
        .orderedCorpus("doc_id"),
      // parallel unnests zip by position in DuckDB → (pos, token) rows;
      // string_agg(… ORDER BY i) rebuilds the doc in original order
      """WITH sents AS (
        |  SELECT doc_id, unnest(arr) AS s,
        |         unnest(range(1, len(arr) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
        |), hot AS (
        |  SELECT s FROM (
        |    SELECT s, count(DISTINCT doc_id) AS c FROM sents GROUP BY 1
        |  ) WHERE c >= 390
        |), kept AS (
        |  SELECT doc_id, s, i FROM sents
        |  WHERE s NOT IN (SELECT s FROM hot)
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(s, ' ' ORDER BY i) AS cleaned
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ── sequence-packing manifest: global token offsets + sequence
    //    span per doc (two-level prefix sum, 512-token sequences)
    Query("q_pack", (s, dir) =>
      // row_md5 folds the whole row into one value so any future
      // engine/oracle divergence localizes to specific rows
      Packing.packManifest(docs(s, dir), "doc_id", "text", seqLen = 512)
        .withColumn("row_md5", md5(concat_ws("|",
          col("doc_id"), col("n_tokens"), col("start_token"),
          col("seq_first"), col("seq_last"))))
        .orderedCorpus("doc_id"),
      // exclusive prefix sum over id order = each doc's global token
      // offset; `//` is BIGINT division (Spark floor(x / L) equivalent)
      """WITH sized AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_token
        |  FROM sized
        |)
        |, fin AS (
        |  SELECT doc_id, n_tokens, start_token,
        |         start_token // 512 AS seq_first,
        |         CASE WHEN n_tokens = 0 THEN start_token // 512
        |              ELSE (start_token + n_tokens - 1) // 512 END
        |           AS seq_last
        |  FROM pre
        |)
        |SELECT doc_id, n_tokens, start_token, seq_first, seq_last,
        |       md5(concat_ws('|', doc_id, n_tokens, start_token,
        |                     seq_first, seq_last)) AS row_md5
        |FROM fin ORDER BY doc_id""".stripMargin),

    // ── packed-sequence slices: which token range of which doc fills
    //    each training sequence
    Query("q_pack_slices", (s, dir) => {
      val m = Packing.packManifest(docsLight(s, dir), "doc_id", "text", 512)
      Packing.packSlices(m, "doc_id", 512).orderedCorpus("seq_id", "doc_id")
    },
      """WITH sized AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_token
        |  FROM sized
        |), spans AS (
        |  SELECT doc_id, n_tokens, start_token,
        |         unnest(range(start_token // 512,
        |                      (start_token + n_tokens - 1) // 512 + 1))
        |           AS seq_id
        |  FROM pre WHERE n_tokens > 0
        |)
        |SELECT seq_id, doc_id,
        |       greatest(seq_id * 512, start_token) - start_token AS doc_from,
        |       least((seq_id + 1) * 512, start_token + n_tokens)
        |         - start_token AS doc_to
        |FROM spans ORDER BY seq_id, doc_id""".stripMargin),

    // ── grouped packing: per-source shards pack independently
    Query("q_pack_grouped", (s, dir) =>
      Packing.packManifest(docsLight(s, dir), "doc_id", "text", seqLen = 512,
          groupCol = Some("source"))
        .orderedCorpus("doc_id"),
      """WITH sized AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_token
        |  FROM sized
        |)
        |SELECT doc_id, source, n_tokens, start_token,
        |       start_token // 512 AS seq_first,
        |       CASE WHEN n_tokens = 0 THEN start_token // 512
        |            ELSE (start_token + n_tokens - 1) // 512 END AS seq_last
        |FROM pre ORDER BY doc_id""".stripMargin),

    // ── C4 global line dedup, token unit: each token keeps exactly one
    //    occurrence corpus-wide (earliest (doc_id, pos))
    Query("q_line_dedup", (s, dir) =>
      Dedup.dedupLines(docs(s, dir), "doc_id", "text",
          sepRegex = " ", joinSep = " ")
        .orderedCorpus("doc_id"),
      // winner = first (doc_id, pos) occurrence; the oracle's per-sentence
      // window mirrors the engine's min-struct aggregate
      """WITH sents AS (
        |  SELECT doc_id, unnest(arr) AS s,
        |         unnest(range(1, len(arr) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
        |), kept AS (
        |  SELECT doc_id, s, i FROM (
        |    SELECT doc_id, s, i,
        |           row_number() OVER (PARTITION BY s ORDER BY doc_id, i)
        |             AS rn
        |    FROM sents
        |  ) WHERE rn = 1
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(s, ' ' ORDER BY i) AS cleaned
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ── unigram-LM quality score (perplexity-filter shape): corpus
    //    scored against its own unigram model, bits per token
    Query("q_lm_score", (s, dir) => {
      val d = docsLight(s, dir)
      TextAnalysis.lmBitsPerToken(d, "doc_id", "text",
          TextAnalysis.unigramLm(d, "text"))
        .withColumn("bits_per_token",
          round(col("bits_per_token") + lit(1e-9), 4))
        .orderedCorpus("doc_id")
    },
      // corpus-on-corpus scoring: no OOV branch can fire; avg of doubles
      // differs only in summation order → epsilon + round(4)
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |           AS token
        |  FROM documents
        |), lm AS (
        |  SELECT token,
        |         log2(CAST(count(*) AS DOUBLE)
        |           / (SELECT count(*) FROM tok)) AS logp
        |  FROM tok GROUP BY 1
        |)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       round(avg(-l.logp) + 1e-9, 4) AS bits_per_token
        |FROM tok t JOIN lm l USING (token)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // ── add-k bigram-LM coherence score (the conditional upgrade of
    //    q_lm_score: scrambled text passes a unigram filter, fails
    //    this one) — corpus scored against its own bigram model
    Query("q_bigram_lm", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.bigramBitsPerToken(d, "doc_id", "text",
          TextAnalysis.bigramLm(d, "text"))
        .withColumn("bits_per_token",
          round(col("bits_per_token") + lit(1e-9), 4))
        .orderedCorpus("doc_id")
    },
      // bigram pairs by positional double-unnest of the two shifted list
      // slices (DuckDB zips parallel unnests); same add-0.5 smoothing,
      // corpus-on-corpus so no OOV branch fires; avg order absorbed by
      // round(4)+epsilon like q_lm_score
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), big AS (
        |  SELECT doc_id,
        |         unnest(ts[1:len(ts)-1]) AS w1,
        |         unnest(ts[2:len(ts)]) AS w2
        |  FROM tok WHERE len(ts) >= 2
        |), c12 AS (
        |  SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w1, count(*) AS c FROM big GROUP BY 1
        |), v AS (
        |  SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(ts) AS t FROM tok)
        |), lm AS (
        |  SELECT c12.w1, c12.w2,
        |         log2((c12.c + 0.5) / (c1.c + 0.5 * v.v)) AS logp
        |  FROM c12 JOIN c1 USING (w1), v
        |)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       round(avg(-l.logp) + 1e-9, 4) AS bits_per_token
        |FROM big b JOIN lm l USING (w1, w2)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),

    // ── overlapping token chunks (chunk-then-embed prep)
    Query("q_chunks", (s, dir) =>
      Packing.chunkDocs(docs(s, dir), "doc_id", "text",
          chunkLen = 64, stride = 48)
        .orderedCorpus("doc_id", "chunk_id"),
      // range(m) is empty at m=0, so list_append handles the
      // right-aligned tail start uniformly; list_slice end is 1-based
      // inclusive = start + length of the Spark slice
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS toks
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |         CASE WHEN len(toks) <= 64 THEN 0
        |              ELSE CAST(ceil((len(toks) - 64) / 48.0) AS INT) END AS m
        |  FROM tok
        |), starts AS (
        |  SELECT doc_id, toks, n,
        |         unnest(range(m + 1)) AS chunk_id,
        |         unnest(list_append(
        |           list_transform(range(m), i -> i * 48),
        |           CAST(greatest(n - 64, 0) AS BIGINT))) AS start_token
        |  FROM base WHERE n > 0
        |)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(start_token AS BIGINT) AS start_token,
        |       array_to_string(list_slice(toks, start_token + 1,
        |         start_token + least(64, n - start_token)), ' ') AS chunk
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin),

    // ── token-budget mixture sampling: per-source budgets 300+100k
    //    (low sources trim hard, high sources stay whole at sf0.01)
    Query("q_token_budget", (s, dir) => {
      val budgets = (0 until 20).map(k => s"src$k" -> (300L + 100L * k)).toMap
      Sampling.tokenBudgetSample(docsLight(s, dir), "source", "doc_id",
          TextAnalysis.tokenCount(col("text")), budgets)
        .select("doc_id", "source").orderedSmall("doc_id")
    },
      // budgets 300+100k per srcK; rate = min(1, budget/stratum tokens);
      // membership by the same md5-uniform as q_hash_sample
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n
        |  FROM documents
        |), tot AS (
        |  SELECT source, sum(n) AS tot FROM tok GROUP BY 1
        |), rate AS (
        |  SELECT source,
        |         least(1.0, (300.0 + 100.0 * CAST(substr(source, 4) AS INT))
        |           / tot) AS r
        |  FROM tot
        |)
        |SELECT t.doc_id, t.source
        |FROM tok t JOIN rate USING (source)
        |WHERE CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)
        |        AS BIGINT) / 4294967296.0 < r
        |ORDER BY t.doc_id""".stripMargin),

    // ── multi-epoch mixture: budgets 4000(k+1) tokens per srcK — low
    //    sources subsample, high sources repeat for several epochs
    Query("q_epoch_mix", (s, dir) => {
      val budgets = (0 until 20).map(k => s"src$k" -> (4000L * (k + 1))).toMap
      Sampling.epochMix(docs(s, dir), "source", "doc_id",
          TextAnalysis.tokenCount(col("text")), budgets)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderedCorpus("doc_id", "epoch")
    },
      // repeat factor floor(r) + one fractional epoch by the same
      // md5-uniform; generate_series(1, 0) is empty in DuckDB (ascending
      // inclusive), mirroring the engine's m >= 1 pre-filter
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n
        |  FROM documents
        |), tot AS (
        |  SELECT source, sum(n) AS tot FROM tok GROUP BY 1
        |), rate AS (
        |  SELECT source,
        |         (4000.0 * (CAST(substr(source, 4) AS INT) + 1))
        |           / greatest(tot, 1) AS r
        |  FROM tot
        |), reps AS (
        |  SELECT t.doc_id, t.source,
        |         CAST(floor(r) AS BIGINT) +
        |         CASE WHEN CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)),
        |                  1, 8) AS BIGINT) / 4294967296.0 < r - floor(r)
        |              THEN 1 ELSE 0 END AS m
        |  FROM tok t JOIN rate USING (source)
        |)
        |SELECT doc_id, source, CAST(epoch AS INT) AS epoch
        |FROM (SELECT doc_id, source,
        |             unnest(generate_series(1, m)) AS epoch
        |      FROM reps WHERE m >= 1)
        |ORDER BY doc_id, epoch""".stripMargin),

    // ── temperature mixture (α = 0.5, the XLM-R/mT5 rebalance): LANG
    //    strata sampled ∝ √(token count) toward a 40k-token budget —
    //    low-resource langs upweighted, epochs mark repeats
    Query("q_mix_temperature", (s, dir) =>
      Sampling.temperatureMix(docs(s, dir), "lang", "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 40000L)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderedSmall("doc_id", "epoch"),
      // temperature rebalance replay: Σ√n routes through decimal(30,12)
      // (the engine's BigDecimal accumulation), then the same fixed-order
      // rate chain budget·(√n/Z)/n and the q_epoch_mix repeat draw
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |           AS BIGINT) AS n
        |  FROM documents
        |), tot AS (
        |  SELECT lang, greatest(CAST(sum(n) AS BIGINT), 1) AS tot
        |  FROM tok GROUP BY 1
        |), z AS (
        |  SELECT CAST(sum(CAST(sqrt(CAST(tot AS DOUBLE))
        |           AS DECIMAL(30,12))) AS DOUBLE) AS z
        |  FROM tot
        |), rate AS (
        |  SELECT lang,
        |         40000.0 * (sqrt(CAST(tot AS DOUBLE)) / z.z)
        |           / CAST(tot AS DOUBLE) AS r
        |  FROM tot CROSS JOIN z
        |), reps AS (
        |  SELECT t.doc_id, t.lang,
        |         CAST(floor(r) AS BIGINT) +
        |         CASE WHEN CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)),
        |                  1, 8) AS BIGINT) / 4294967296.0 < r - floor(r)
        |              THEN 1 ELSE 0 END AS m
        |  FROM tok t JOIN rate USING (lang)
        |)
        |SELECT doc_id, lang, CAST(epoch AS INT) AS epoch
        |FROM (SELECT doc_id, lang,
        |             unnest(generate_series(1, m)) AS epoch
        |      FROM reps WHERE m >= 1)
        |ORDER BY doc_id, epoch""".stripMargin),

    // ── deterministic corpus shuffle: 8 dataloader shards, hash-order
    //    position within each — reproducible, append-stable layout
    Query("q_shuffle_shards", (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), "doc_id", shards = 8)
        .select("doc_id", "shard", "pos")
        .orderedCorpus("shard", "pos"),
      // same md5 shard + within-shard hash rank (doc_id breaks the
      // theoretical hash tie)
      """WITH keyed AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           AS BIGINT) % 8 AS shard
        |  FROM documents
        |)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |         ORDER BY k, doc_id) - 1 AS INT) AS pos
        |FROM keyed ORDER BY shard, pos""".stripMargin),

    // ── DSIR importance resampling: 100 non-English docs whose hashed-
    //    bigram distribution best matches the English slice, drawn
    //    Gumbel-top-n ∝ importance weight (Xie et al. 2023 recipe)
    Query("q_dsir", (s, dir) =>
      Dsir.select(docs(s, dir), "doc_id", "text",
          col("lang") === "en", n = 100, buckets = 1024)
        .select(col("doc_id"), col("n_bigrams"),
          round(col("log_ratio") + lit(1e-9), 6).as("log_ratio"),
          round(col("sel_key") + lit(1e-9), 6).as("sel_key"))
        .orderedSmall(col("sel_key").desc, col("doc_id")),
      // DSIR replay: same md5 bigram buckets, same add-1 smoothed log2
      // ratio, decimal-summed per-doc weights, same md5-uniform Gumbel
      // key; top-100 taken on the UNROUNDED key (as the engine does),
      // rounding applied after
      """WITH tok AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents
        |), big AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5(w1 || ' ' || w2), 1, 8) AS BIGINT)
        |           % 1024 AS bucket
        |  FROM (SELECT doc_id, lang,
        |               unnest(ts[1:len(ts)-1]) AS w1,
        |               unnest(ts[2:len(ts)]) AS w2
        |        FROM tok WHERE len(ts) >= 2)
        |), tc AS (
        |  SELECT bucket, count(*) AS c FROM big WHERE lang = 'en' GROUP BY 1
        |), rc AS (
        |  SELECT bucket, count(*) AS c FROM big WHERE lang <> 'en' GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT sum(c) FROM tc) AS tt, (SELECT sum(c) FROM rc) AS rt
        |), lr AS (
        |  SELECT b.bucket,
        |         log2((coalesce(tc.c, 0) + 1.0) / (tot.tt + 1.0 * 1024)) -
        |         log2((coalesce(rc.c, 0) + 1.0) / (tot.rt + 1.0 * 1024)) AS lr
        |  FROM (SELECT unnest(range(1024)) AS bucket) b
        |  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot
        |), scored AS (
        |  SELECT big.doc_id, count(*) AS n_bigrams,
        |         CAST(sum(CAST(lr.lr AS DECIMAL(30,12))) AS DOUBLE)
        |           AS log_ratio
        |  FROM big JOIN lr USING (bucket)
        |  WHERE big.lang <> 'en'
        |  GROUP BY 1
        |), keyed AS (
        |  SELECT doc_id, n_bigrams, log_ratio,
        |         log_ratio - ln(-ln(
        |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |             AS BIGINT) / 4294967296.0 + 1e-12)) AS sel_key
        |  FROM scored
        |), sel AS (
        |  SELECT * FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 100
        |)
        |SELECT doc_id, n_bigrams, round(log_ratio + 1e-9, 6) AS log_ratio,
        |       round(sel_key + 1e-9, 6) AS sel_key
        |FROM sel ORDER BY round(sel_key + 1e-9, 6) DESC, doc_id""".stripMargin),

    // ── materialized packed sequences: md5 pins the gathered text
    Query("q_pack_text", (s, dir) =>
      Packing.packSequences(docs(s, dir), "doc_id", "text", seqLen = 512)
        .select(col("seq_id"), col("n_tokens"),
          md5(col("seq_text")).as("seq_md5"))
        .orderedCorpus("seq_id"),
      // slices joined back to token arrays; string_agg ORDER BY doc_id
      // mirrors the engine's sort-within-row gather
      """WITH sized AS (
        |  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS toks,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents
        |), pre AS (
        |  SELECT doc_id, toks, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_token
        |  FROM sized
        |), spans AS (
        |  SELECT doc_id, toks, n_tokens, start_token,
        |         unnest(range(start_token // 512,
        |                      (start_token + n_tokens - 1) // 512 + 1))
        |           AS seq_id
        |  FROM pre WHERE n_tokens > 0
        |), pieces AS (
        |  SELECT seq_id, doc_id,
        |         greatest(seq_id * 512, start_token) - start_token AS f,
        |         least((seq_id + 1) * 512, start_token + n_tokens)
        |           - start_token AS t,
        |         toks
        |  FROM spans
        |)
        |SELECT seq_id, CAST(sum(t - f) AS BIGINT) AS n_tokens,
        |       md5(string_agg(array_to_string(list_slice(toks, f + 1, t), ' '),
        |         ' ' ORDER BY doc_id)) AS seq_md5
        |FROM pieces GROUP BY seq_id ORDER BY seq_id""".stripMargin),

    // ── PII redaction: the corpus has no PII, so append deterministic
    //    synthetic spans (email, IPv4, account number) per doc and
    //    verify both engines scrub them identically
    // ── Unicode normalization (native one-pass expression). Raw docs
    //    are clean ASCII, so (the q_redact trick) append a denormalized
    //    tail exercising every rule: NFC composition (e + U+0301),
    //    NBSP, dropped control, VT-as-whitespace, DEL, edge whitespace
    Query("q_normalize", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.NormalizeText(concat(
          lit("\t "), col("text"),
          lit(" Cafe\u0301 \u00A0 a\u0007b\u000Bz\u007F end  ")))
          .as("norm_text"))
        .orderedCorpus("doc_id"),
      // 'g' flag: replace ALL matches (Spark regexp_replace default)
      // mirrors TextNormKernel step by step: NFC, NBSP→space, control
      // strip (C0 minus ASCII whitespace, DEL), whitespace collapse+trim.
      // chr(769) = U+0301 combining acute: the tail enters DEcomposed and
      // must leave composed through both engines' NFC.
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      replace(nfc_normalize(
        |        chr(9) || ' ' || text || ' Cafe' || chr(769) || ' '
        |        || chr(160) || ' a' || chr(7) || 'b' || chr(11) || 'z'
        |        || chr(127) || ' end  '),
        |        chr(160), ' '),
        |      '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
        |    '[\x09-\x0D ]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── HTML extraction: docs are plain text, so (the q_redact trick)
    //    wrap each in a deterministic HTML skeleton exercising every
    //    rule — script with a stray `<` inside, style, a multi-line
    //    comment, attribute-laden tags, entities incl. the
    //    &amp;amp; no-rescan case — and both engines must strip to the
    //    same visible text
    Query("q_html_extract", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.htmlExtract(concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><style type=\"text/css\">p { margin: 0; }</style>" +
            "<script>var n = 1 < 2 && 3 > 2;</script></head>\n<body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1>\n<p>"), col("text"),
          lit("</p><!-- crawl artifact\nid="), col("doc_id").cast("string"),
          lit(" --><div class=\"foot\">tail &amp;amp; &lt;raw&gt;" +
            "&nbsp;&quot;q&quot; &#39;s&#39;</div>\n</body></html>")))
          .as("extracted_text"))
        .orderedCorpus("doc_id"),
      // mirrors TextAnalysis.htmlExtract step by step; explicit
      // [\x09-\x0D ] classes because Java \s counts \x0B and RE2 \s does
      // not; entity decode order fixed with &amp; LAST (replace never
      // rescans its output, so &amp;amp; -> literal '&amp;' in both)
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        |          || '</title><style type="text/css">p { margin: 0; }</style>'
        |          || '<script>var n = 1 < 2 && 3 > 2;</script></head>' || chr(10)
        |          || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |          || '</h1>' || chr(10) || '<p>' || text
        |          || '</p><!-- crawl artifact' || chr(10)
        |          || 'id=' || CAST(doc_id AS VARCHAR)
        |          || ' --><div class="foot">tail &amp;amp; &lt;raw&gt;'
        |          || '&nbsp;&quot;q&quot; &#39;s&#39;</div>' || chr(10)
        |          || '</body></html>',
        |        '(?is)<script\b[^>]*>.*?</script[\x09-\x0D ]*>', ' ', 'g'),
        |        '(?is)<style\b[^>]*>.*?</style[\x09-\x0D ]*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[\x09-\x0D ]+', ' ', 'g')) AS extracted_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_redact", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 acct 90"),
          lpad(col("doc_id").cast("string"), 8, "0"))).as("redacted"))
        .orderedCorpus("doc_id"),
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@mail.example.com from 10.0.'
        |         || CAST(doc_id % 256 AS VARCHAR) || '.7 acct 90'
        |         || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{9,}\b', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── mean-pool embeddings per label (class centroids / the pool
    //    step of chunk→embed→pool). The centroid is pinned as md5 over
    //    exact scaled integers — never a raw array<double> column (the
    //    driver's pandas hasher cannot sort ndarray cells); round(6)+eps
    //    absorbs summation-order fp differences, ×1e6→long makes every
    //    element an exact integer whose string form both engines agree on
    Query("q_mean_pool", (s, dir) =>
      Similarity.meanPool(embsLight(s, dir), "label", "embedding")
        .select(col("label"), col("n"),
          md5(array_join(transform(col("centroid"),
            x => round(round(x + lit(1e-9), 6) * 1e6).cast("long")
              .cast("string")), ",")).as("centroid_md5"))
        .orderedSmall("label"),
      // per-(label, dim) avgs reassembled in dim order; round(6)+eps
      // absorbs summation-order fp differences, then ×1e6→BIGINT→md5
      // pins every element as an exact integer (no array column in the
      // output — the driver's hasher can't sort arrays)
      """WITH expl AS (
        |  SELECT label,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x,
        |         unnest(range(len(embedding))) AS p
        |  FROM embeddings
        |), dims AS (
        |  SELECT label, p, avg(x) AS m, count(*) AS c
        |  FROM expl GROUP BY 1, 2
        |)
        |SELECT label, max(c) AS n,
        |       md5(array_to_string(list_transform(list(m ORDER BY p),
        |         x -> CAST(CAST(round(round(x + 1e-9, 6) * 1000000)
        |                        AS BIGINT) AS VARCHAR)), ','))
        |         AS centroid_md5
        |FROM dims GROUP BY label ORDER BY label""".stripMargin),

    // ── embedding cluster health: scatter + simplified silhouette per
    //    label (centroids as plan literals, zero-shuffle scoring)
    Query("q_cluster_metrics", (s, dir) =>
      Similarity.clusterMetrics(embs(s, dir), "embedding", "label")
        .select(col("label"), col("n"),
          (round(col("scatter") + lit(1e-9), 6) + lit(0.0)).as("scatter"),
          (round(col("silhouette") + lit(1e-9), 6) + lit(0.0)).as("silhouette"))
        .orderedSmall("label"),
      // centroids decimal-exact per (label, dim); distances via the same
      // dot identity sqrt(max(0, x·x − 2x·c + c·c)), left-to-right folds
      // both sides (list_dot_product ≡ the engine's sequential dot)
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings
        |), expl AS (
        |  SELECT label, unnest(x) AS xv, unnest(range(len(x))) AS p
        |  FROM v
        |), cent AS (
        |  SELECT label AS cl, p,
        |         CAST(sum(CAST(xv AS DECIMAL(30,12))) AS DOUBLE) / count(*)
        |           AS m
        |  FROM expl GROUP BY 1, 2
        |), cvec AS (
        |  SELECT cl, list(m ORDER BY p) AS c FROM cent GROUP BY 1
        |), dists AS (
        |  SELECT v.vec_id, v.label, cv.cl,
        |    sqrt(greatest(0.0,
        |      list_dot_product(v.x, v.x)
        |      - 2.0 * list_dot_product(v.x, cv.c)
        |      + list_dot_product(cv.c, cv.c))) AS d
        |  FROM v CROSS JOIN cvec cv
        |), ab AS (
        |  SELECT vec_id, label,
        |         max(CASE WHEN cl = label THEN d END) AS a,
        |         min(CASE WHEN cl <> label THEN d END) AS b
        |  FROM dists GROUP BY 1, 2
        |), sil AS (
        |  SELECT label, a,
        |         CASE WHEN greatest(a, b) = 0.0 THEN 0.0
        |              ELSE (b - a) / greatest(a, b) END AS s
        |  FROM ab
        |)
        |SELECT label, count(*) AS n,
        |  round(CAST(sum(CAST(a AS DECIMAL(30,12))) AS DOUBLE) / count(*)
        |    + 1e-9, 6) + 0.0 AS scatter,
        |  round(CAST(sum(CAST(s AS DECIMAL(30,12))) AS DOUBLE) / count(*)
        |    + 1e-9, 6) + 0.0 AS silhouette
        |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── int8 symmetric quantization: per-vector scale + md5 over the
    //    exact int codes (pins every element)
    Query("q_quantize", (s, dir) =>
      embs(s, dir)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("__q"))
        .select(col("vec_id"),
          round(col("__q.scale") + lit(1e-9), 6).as("scale"),
          md5(array_join(transform(col("__q.q"), _.cast("string")), ","))
            .as("q_md5"))
        .orderedCorpus("vec_id"),
      // int codes kept as exact-integer DOUBLEs for md5; scale math all
      // double, mirroring Similarity.quantize
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
        |  FROM (SELECT vec_id, v,
        |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
        |        FROM v)
        |)
        |SELECT vec_id, round(scale + 1e-9, 6) AS scale,
        |       md5(array_to_string(list_transform(v,
        |         x -> CAST(CAST(round(x / scale) AS INTEGER) AS VARCHAR)), ','))
        |         AS q_md5
        |FROM s ORDER BY vec_id""".stripMargin),

    // ── ANN over int8-quantized vectors (what a 4×-smaller embedding
    //    store serves): same probe set as q_embed_topk
    Query("q_ann_quant", (s, dir) => {
      val e = embs(s, dir)
      Similarity.quantizedTopK(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 5)
        .withColumn("qcos", round(col("qcos") + lit(1e-9), 4))
        .orderedSmall("query_id", "rank")
    },
      // quantized codes are small ints, so the double list_dot_product is
      // the EXACT integer dot; scales cancel in the quantized cosine, and
      // norms are taken once per side like the Spark plan
      """WITH s AS (
        |  SELECT vec_id, v,
        |         CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |          list_aggregate(list_transform(
        |            CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max') AS m
        |        FROM embeddings)
        |), qz AS (
        |  SELECT vec_id,
        |         list_transform(v, x -> round(x / scale)) AS q
        |  FROM s
        |), nz AS (
        |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS n FROM qz
        |), scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
        |         list_dot_product(a.q, b.q) / (a.n * b.n) AS qcos_raw
        |  FROM nz a CROSS JOIN nz b
        |  WHERE a.vec_id < 20 AND a.vec_id != b.vec_id
        |), ranked AS (
        |  SELECT query_id, match_id, qcos_raw,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY qcos_raw DESC, match_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, match_id, round(qcos_raw + 1e-9, 4) AS qcos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // ── ANN index BUILD (forced, full cost measured: one corpus pass
    //    of assignment + SQ8 quantization, three artifacts); returns
    //    the 1-row audit whose n_cells replays the full corpus
    //    assignment in the oracle. Sorts before q_ann_indexed (the
    //    bm25_index pattern), so every bench pass finds a fresh index
    //    below and measures PROBE-ONLY cost there
    Query("q_ann_index_build", (s, dir) => {
      val idx = s"/tmp/graft_ann_idx_${scratchKey(dir)}"
      Similarity.buildAnnIndex(embs(s, dir), "vec_id", "embedding",
        idx, nlist = 16)
      Similarity.annIndexStats(s, idx)
    },
      // the index-build audit: n_vectors/n_cells replay the FULL corpus
      // assignment (cells = q_ann_ivf's pinned argmax routing)
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, cell FROM sims WHERE rn = 1
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
        |       CAST((SELECT max(len(v)) FROM e) AS BIGINT) AS dim,
        |       CAST(16 AS BIGINT) AS nlist
        |FROM cells""".stripMargin),

    // ── IVF-SQ8 against the PERSISTED index (build once per corpus
    //    version — marker-skipped — probe per query batch): same cell
    //    routing as q_ann_ivf (centroids = 16 lowest-id vectors), same
    //    quantized cosine as q_ann_quant; the oracle replays both from
    //    the raw embeddings, so the stored index must be a pure cost
    //    move — probed cells push into the codes scan as In(cell, …)
    Query("q_ann_indexed", (s, dir) => {
      val idx = s"/tmp/graft_ann_idx_${scratchKey(dir)}"
      val e = embs(s, dir)
      Similarity.ensureAnnIndex(e, "vec_id", "embedding", idx, nlist = 16)
      Similarity.annTopKIndexed(s, idx, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nprobe = 4)
        .withColumn("qcos", round(col("qcos") + lit(1e-9), 4))
        .orderedSmall("query_id", "rank")
    },
      // the persisted-index probe must equal IVF-SQ8 computed in-query:
      // q_ann_ivf's cell routing composed with q_ann_quant's quantized
      // cosine, both replayed from the raw embeddings
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cents AS (
        |  SELECT vec_id AS cell, v AS centv FROM e WHERE vec_id < 16
        |), sims AS (
        |  SELECT e.vec_id, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |           list_dot_product(e.v, c.centv) /
        |             (sqrt(list_dot_product(e.v, e.v)) *
        |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
        |           c.cell ASC) AS rn
        |  FROM e CROSS JOIN cents c
        |), qz AS (
        |  SELECT vec_id, list_transform(v, x -> round(x /
        |           (CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END))) AS q
        |  FROM (SELECT vec_id, v,
        |          list_aggregate(list_transform(v, x -> abs(x)), 'max')
        |            AS m FROM e)
        |), nz AS (
        |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS n FROM qz
        |), corpus_cells AS (
        |  SELECT vec_id AS match_id, cell FROM sims WHERE rn = 1
        |), query_probes AS (
        |  SELECT vec_id AS query_id, cell
        |  FROM sims WHERE vec_id < 20 AND rn <= 4
        |), scored AS (
        |  SELECT qp.query_id, cc.match_id,
        |         list_dot_product(a.q, b.q) / (a.n * b.n) AS qcos_raw
        |  FROM query_probes qp JOIN corpus_cells cc USING (cell)
        |  JOIN nz a ON a.vec_id = qp.query_id
        |  JOIN nz b ON b.vec_id = cc.match_id
        |  WHERE qp.query_id != cc.match_id
        |), ranked AS (
        |  SELECT query_id, match_id, qcos_raw,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY qcos_raw DESC, match_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, match_id, round(qcos_raw + 1e-9, 4) AS qcos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // ── incremental ANN index maintenance (the q_bm25_index_incr
    //    contract in vector space): base IVF-SQ8 index over the
    //    standing 80% corpus, today's 20% embedding batch merged via
    //    updateAnnIndex (delta-sized assignment + quantization,
    //    routing PINNED to the stored centroids, cell ledger merged as
    //    exact longs), then probed — the incrementally-updated index
    //    must serve the FULL corpus bit-identically to what the oracle
    //    replays from the raw embeddings with the same base-corpus
    //    centroids (base vectors with vec_id < 16 — 12 of them here,
    //    ids 1..14 minus the delta's multiples of 5, numbered densely
    //    by ascending id: buildAnnIndex's id < nlist convention)
    Query("q_ann_index_incr", (s, dir) =>
      annMaintProbe(s, dir, "incr", deltas = Seq(5L -> 0L),
        compact = false),
      annIncrProbeOracle),

    // ── index MAINTENANCE journey: build at 4/5 corpus, fragment the
    //    codes dir with TWO append updates (together ≡ q_ann_index_incr's
    //    delta), then compactAnnIndex rewrites the codes into the
    //    fresh-build layout — and the probe must STILL be bit-equal to
    //    the from-scratch replay (content untouched, ranking ties break
    //    on match_id, so the rewrite is invisible; the oracle IS
    //    q_ann_index_incr's).
    Query("q_ann_compact", (s, dir) =>
      annMaintProbe(s, dir, "cpt", deltas = Seq(10L -> 0L, 10L -> 5L),
        compact = true),
      // compaction is content-invariant by contract, so the compacted
      // index probes against the IDENTICAL replay (build 4/5 + delta ≡
      // the same final index; the rewrite only re-files the codes)
      annIncrProbeOracle),

    // ── linear-probe sufficient statistics (the quality-classifier
    //    training pass): upper-triangle XᵀX + per-class XᵀY of the
    //    bias-augmented embeddings, exact decimal sums — ONE corpus
    //    pass each, shuffle carries only the (d+1)(d+2)/2 + (d+1)·C
    //    partials. Only this distributed half is served: the driver-side
    //    ridge solve and the scoring are left to the caller.
    Query("q_probe_stats", (s, dir) => {
      val e = embs(s, dir)
      val gram = Similarity.probeGram(e, "embedding")
        .select(lit("xtx").as("part"), col("i").cast("long").as("a"),
          col("j").cast("long").as("b"),
          round(col("xtx") + lit(1e-9), 6).as("v"))
      val mom = Similarity.probeMoments(e, "embedding", "label")
        .select(lit("xty").as("part"), col("label").as("a"),
          col("i").cast("long").as("b"),
          round(col("xty") + lit(1e-9), 6).as("v"))
      gram.unionByName(mom).orderedSmall("part", "a", "b")
    },
      // probe sufficient stats: same bias-augmented vectors, same exact
      // decimal sums (per-row double products are IEEE-identical in both
      // engines; only the sum needs the exact type)
      """WITH aug AS (
        |  SELECT label, list_append(CAST(embedding AS DOUBLE[]), 1.0) AS v
        |  FROM embeddings
        |), dims AS (
        |  SELECT unnest(range((SELECT len(v) FROM aug LIMIT 1))) AS i
        |), xtx AS (
        |  SELECT a.i AS a, b.i AS b,
        |         round(CAST(sum(CAST(aug.v[CAST(a.i AS INT) + 1]
        |                            * aug.v[CAST(b.i AS INT) + 1]
        |                          AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) AS v
        |  FROM aug, dims a, dims b WHERE a.i <= b.i GROUP BY 1, 2
        |), xty AS (
        |  SELECT CAST(label AS BIGINT) AS a, i.i AS b,
        |         round(CAST(sum(CAST(aug.v[CAST(i.i AS INT) + 1]
        |                          AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) AS v
        |  FROM aug, dims i GROUP BY 1, 2
        |)
        |SELECT 'xtx' AS part, a, b, v FROM xtx
        |UNION ALL SELECT 'xty' AS part, a, b, v FROM xty
        |ORDER BY part, a, b""".stripMargin),

    // ── exact population covariance of the embedding
    //    corpus from one decimal-summed gram pass (upper triangle);
    //    the bias row of the augmented gram supplies sums and n
    Query("q_embed_cov", (s, dir) => {
      val e = embs(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      // eager checkpoint: the bias-row collect AND the main projection
      // both read the gram — without it the corpus-sized pass runs twice
      val g = Similarity.probeGram(e, "embedding").localCheckpoint(true)
      val bias = g.filter(col("j") === lit(d)).collect()
        .map(r => r.getInt(0) -> r.getDouble(2)).toMap
      val n = bias(d)
      val sLit = typedlit((0 until d).map(bias).toSeq)
      g.filter(col("j") < d)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          (round((col("xtx") -
              element_at(sLit, col("i").cast("int") + 1) *
              element_at(sLit, col("j").cast("int") + 1) / lit(n)) / lit(n)
            + lit(1e-9), 6) + lit(0.0)).as("cov"))
        .orderedSmall("i", "j")
    },
      // covariance from the same augmented gram: the bias row holds the
      // per-dimension sums and n; the double arithmetic mirrors the
      // engine's (xtx - s_i*s_j/n)/n exactly (same IEEE operation order)
      """WITH aug AS (
        |  SELECT list_append(CAST(embedding AS DOUBLE[]), 1.0) AS v
        |  FROM embeddings
        |), dims AS (
        |  SELECT unnest(range((SELECT len(v) FROM aug LIMIT 1))) AS i
        |), g AS (
        |  SELECT a.i AS i, b.i AS j,
        |         CAST(sum(CAST(aug.v[CAST(a.i AS INT) + 1]
        |                     * aug.v[CAST(b.i AS INT) + 1]
        |                   AS DECIMAL(30,12))) AS DOUBLE) AS xtx
        |  FROM aug, dims a, dims b WHERE a.i <= b.i GROUP BY 1, 2
        |), dd AS (
        |  SELECT max(i) AS d FROM dims
        |), bias AS (
        |  SELECT i, xtx FROM g WHERE j = (SELECT d FROM dd)
        |), nn AS (
        |  SELECT xtx AS n FROM bias WHERE i = (SELECT d FROM dd)
        |)
        |SELECT g.i AS i, g.j AS j,
        |       round((g.xtx - si.xtx * sj.xtx / nn.n) / nn.n + 1e-9, 6)
        |         + 0.0 AS cov
        |FROM g JOIN bias si ON si.i = g.i
        |       JOIN bias sj ON sj.i = g.j
        |       CROSS JOIN nn
        |WHERE g.j < (SELECT d FROM dd)
        |ORDER BY i, j""".stripMargin),

    // ── incremental LSH dedup: today's crawl (20% of docs) against the
    //    standing corpus (the other 80%) — survivors of the new batch
    Query("q_dedup_incremental", (s, dir) => {
      val d = docs(s, dir)
      Dedup.lshDedupAgainst(
          d.filter(pmod(col("doc_id"), lit(5)) === 0),
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text", numHashes = H, bands = 4, tau = 0.5)
        .select("doc_id", "n_chars").orderedCorpus("doc_id")
    },
      // mirrors Dedup.lshDedupAgainst: incoming (doc_id%5=0) band keys
      // joined against corpus (doc_id%5≠0) band keys, verified at sig
      // agreement ≥ 0.5; matched incoming docs removed
      {
      val bandRows = (0 until 4).map { b =>
        s"SELECT doc_id, $b AS band, md5(CAST(sig_${2 * b} AS VARCHAR) || '_' || " +
          s"CAST(sig_${2 * b + 1} AS VARCHAR)) AS band_key FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      val eq = (0 until H)
        .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shinglesCte, $sigsCte,
         |bandkeys AS (
         |  $bandRows
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corp_id
         |  FROM bandkeys a JOIN bandkeys b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |), removed AS (
         |  SELECT DISTINCT c.in_id AS doc_id
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.in_id
         |  JOIN sigs sb ON sb.doc_id = c.corp_id
         |  WHERE CAST($eq AS DOUBLE) / ${H}.0 >= 0.5
         |)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id % 5 = 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY d.doc_id""".stripMargin
    }),

    // ── incremental EXACT dedup via the Bloom-prefiltered anti-join
    //    (result identical to a plain anti-join on the content hash)
    Query("q_dedup_exact_incr", (s, dir) => {
      val d = docsLight(s, dir)
      Dedup.exactDedupAgainst(
          d.filter(pmod(col("doc_id"), lit(5)) === 0),
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "text", expectedItems = 100000L)
        .select("doc_id", "n_chars").orderedCorpus("doc_id")
    },
      """SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id % 5 = 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents c
        |    WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(d.text))
        |ORDER BY d.doc_id""".stripMargin),

    // ── exact Jaccard threshold self-join (PPJoin prefix filtering —
    //    no cap, no LSH: every pair ≥ τ, provably)
    Query("q_jaccard_join", (s, dir) =>
      Dedup.jaccardJoin(docs(s, dir), "doc_id", "text", tau = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderedCorpus("id_a", "id_b"),
      // exact pair set: DuckDB computes every co-shingle pair's true
      // Jaccard directly (no prefix filter needed at oracle scale)
      s"""WITH $shinglesCte,
         |sizes AS (
         |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
         |         AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // ── directional containment join (|A∩B|/|A| ≥ τ, ORDERED pairs):
    //    the quote/partial-scrape detector symmetric jaccard misses
    Query("q_containment_join", (s, dir) =>
      Dedup.containmentJoin(docs(s, dir), "doc_id", "text", tau = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderedCorpus("id_a", "id_b"),
      // ordered pairs, containment normalized by the CONTAINED side's size
      s"""WITH $shinglesCte,
         |sizes AS (
         |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |       round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = id_a
         |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |ORDER BY 1, 2""".stripMargin),

    // ── keep-maximal filter on top of the containment join: subset
    //    docs collapse into their containers (equal-size ties keep the
    //    smaller id)
    Query("q_drop_contained", (s, dir) =>
      Dedup.dropContained(docs(s, dir), "doc_id", "text", tau = 0.8)
        .select(col("doc_id"), col("n_chars"))
        .orderedCorpus("doc_id"),
      // survivors of the keep-maximal containment filter
      s"""WITH $shinglesCte,
         |sizes AS (
         |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |), dropped AS (
         |  SELECT DISTINCT id_a FROM pairs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.8
         |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND id_b < id_a))
         |)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id_a FROM dropped)
         |ORDER BY doc_id""".stripMargin),

    // ── bounded edit-distance join on 24-char document keys: Ed-Join
    //    prefix filtering (rarest q-gram candidates + length filter),
    //    exact threshold-levenshtein verify — the string-metric sibling
    //    of q_jaccard_join for short fields
    Query("q_edit_join", (s, dir) =>
      Dedup.editDistanceJoin(
          docs(s, dir).select(col("doc_id"),
            substring(col("text"), 1, 24).as("key24")),
          // q=4: the word-salad corpus has a tiny trigram vocabulary, so
          // longer grams buy bucket diversity (output is q-invariant)
          "doc_id", "key24", maxDist = 3, q = 4)
        .orderedCorpus("id_a", "id_b"),
      // exact pair set via PassJoin's pigeonhole prefilter (a string within
      // edit distance 3 must CONTAIN one of the other's 4 disjoint segments
      // verbatim — empty trailing segments pass trivially, still sound),
      // then full levenshtein — the prefilter only buys oracle speed
      """WITH n AS (
        |  SELECT doc_id, substr(text, 1, 24) AS t
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |FROM n a JOIN n b ON a.doc_id < b.doc_id
        |  AND abs(length(a.t) - length(b.t)) <= 3
        |  AND (position(substr(a.t, 1, 6) IN b.t) > 0
        |    OR position(substr(a.t, 7, 6) IN b.t) > 0
        |    OR position(substr(a.t, 13, 6) IN b.t) > 0
        |    OR position(substr(a.t, 19, 6) IN b.t) > 0)
        |WHERE levenshtein(a.t, b.t) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // ── per-shard publishing manifest: counts + order-independent
    //    decimal-summed content checksum over the shuffleShards scheme
    Query("q_manifest", (s, dir) =>
      graft.operators.CorpusStats.manifest(
          docs(s, dir), "doc_id", "text", shards = 8)
        .orderedSmall("shard"),
      // shard = md5(id) first-8-hex mod 8; checksum = 60-bit row hashes
      // summed as DECIMAL(38,0) (exact, order-free) mod 1e18; CASTs keep
      // n_chars/checksum out of HUGEINT
      """WITH r AS (
        |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           AS BIGINT) % 8 AS shard,
        |         CAST(length(text) AS BIGINT) AS c,
        |         CAST(CAST('0x' || substr(md5(
        |             CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15)
        |           AS BIGINT) AS DECIMAL(38,0)) AS h
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(c) AS BIGINT) AS n_chars,
        |       CAST(sum(h) % 1000000000000000000 AS BIGINT) AS checksum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── incremental publish + compaction round trip: base publish,
    //    three appendShards batches (the small-file accretion pattern a
    //    long-lived corpus accumulates), one compactShards rewrite, then
    //    the manifest RECOMPUTED from the compacted bytes — equality
    //    with the raw-corpus oracle proves the appends kept every row
    //    and the compaction moved none (file-count reduction itself is
    //    spec-pinned in CompactSpec; parquet physical sizes aren't
    //    oracle-able)
    Query("q_compact", (s, dir) => {
      val root = s"/tmp/graft_compact_${scratchKey(dir)}"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val d = docsLight(s, dir)
      graft.io.Publish.writeShards(
        d.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
        root, shards = 8)
      (1 to 3).foreach { i =>
        graft.io.Publish.appendShards(
          d.filter(pmod(col("doc_id"), lit(4)) === i), "doc_id", "text",
          root): Unit
      }
      graft.io.Compact.compactShards(s, root, targetBytes = 256L << 10)
      graft.operators.CorpusStats.manifest(
          s.read.parquet(s"$root/data").drop("shard", "pos"),
          "doc_id", "text", shards = 8)
        .orderedSmall("shard")
    },
      // append × 3 + compact must land exactly where a single-writer
      // publish would: the recomputed manifest of the compacted layout
      // equals the raw-corpus manifest replay (same SQL as q_manifest —
      // THAT is the preservation claim)
      """WITH r AS (
        |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           AS BIGINT) % 8 AS shard,
        |         CAST(length(text) AS BIGINT) AS c,
        |         CAST(CAST('0x' || substr(md5(
        |             CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15)
        |           AS BIGINT) AS DECIMAL(38,0)) AS h
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(c) AS BIGINT) AS n_chars,
        |       CAST(sum(h) % 1000000000000000000 AS BIGINT) AS checksum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── staged corpus build (PipelineRunner): gate → exact dedup →
    //    hash sample, each stage checkpointed with its own manifest +
    //    completion marker (resume-from-last-green is spec-pinned; this
    //    row pins every stage's per-shard counts and content checksum
    //    against the oracle's replay of the same chain)
    Query("q_pipeline_stages", (s, dir) => {
      import graft.operators.{PipelineRunner, PipelineStage}
      val root = s"/tmp/graft_pipe_${scratchKey(dir)}"
      // fresh every run: the row measures the full staged build
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val stages = Seq(
        PipelineStage("gate", df => df.filter(col("n_chars") >= 100)),
        PipelineStage("dedup", df => Dedup.exact(df, "text", "doc_id")),
        PipelineStage("sample",
          df => Sampling.hashSample(df, "doc_id", 0.5)))
      PipelineRunner.run(docsLight(s, dir), stages, root,
        "doc_id", "text", shards = 8)
      PipelineRunner.manifests(s, root, stages)
        .orderedSmall("stage", "shard")
    },
      // the staged build replayed: each stage's survivor set (gate →
      // keep-min-id exact dedup → id-hash sample), manifested with
      // q_manifest's shard/checksum formulas
      """WITH s0 AS (
        |  SELECT doc_id, text FROM documents WHERE n_chars >= 100
        |), s1 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text)
        |             ORDER BY doc_id) AS rn
        |    FROM s0
        |  ) WHERE rn = 1
        |), s2 AS (
        |  SELECT doc_id, text FROM s1
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |          AS BIGINT) / 4294967296.0 < 0.5
        |), staged AS (
        |  SELECT 'stage0_gate' AS stage, doc_id, text FROM s0
        |  UNION ALL SELECT 'stage1_dedup', doc_id, text FROM s1
        |  UNION ALL SELECT 'stage2_sample', doc_id, text FROM s2
        |), r AS (
        |  SELECT stage,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           AS BIGINT) % 8 AS shard,
        |         CAST(length(text) AS BIGINT) AS c,
        |         CAST(CAST('0x' || substr(md5(
        |             CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15)
        |           AS BIGINT) AS DECIMAL(38,0)) AS h
        |  FROM staged
        |)
        |SELECT stage, shard, count(*) AS n_docs,
        |       CAST(sum(c) AS BIGINT) AS n_chars,
        |       CAST(sum(h) % 1000000000000000000 AS BIGINT) AS checksum
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── Jaro-Winkler over consecutive doc keys: gates the native
    //    expression against DuckDB's builtin (floored half-transposition
    //    semantics, 0.7 boost threshold)
    Query("q_jaro_winkler", (s, dir) => {
      val keys = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 24).as("k"))
      keys.as("a").join(keys.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          round(graft.functions.JaroWinkler(col("a.k"), col("b.k")), 6)
            .as("jw"))
        .orderedCorpus("doc_id")
    },
      """WITH n AS (
        |  SELECT doc_id, substr(text, 1, 24) AS k FROM documents
        |)
        |SELECT a.doc_id AS doc_id,
        |       round(jaro_winkler_similarity(a.k, b.k), 6) AS jw
        |FROM n a JOIN n b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin),

    // ── two-table edit join: a 5% "crawl" of 24-char keys fuzzy-matched
    //    against the standing corpus (the incremental-family edit tier)
    Query("q_edit_join_incr", (s, dir) => {
      val keys = docsLight(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 24).as("key24"))
      Dedup.editDistanceJoinAgainst(
          keys.filter(pmod(col("doc_id"), lit(20)) === 0),
          keys.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          "doc_id", "key24", maxDist = 3, q = 4)
        .orderedCorpus("probe_id", "corpus_id")
    },
      // same PassJoin pigeonhole prefilter as q_edit_join, across the
      // crawl/corpus split
      """WITH n AS (
        |  SELECT doc_id, substr(text, 1, 24) AS t
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
        |       CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |FROM (SELECT * FROM n WHERE doc_id % 20 = 0) a
        |JOIN (SELECT * FROM n WHERE doc_id % 20 <> 0) b
        |  ON abs(length(a.t) - length(b.t)) <= 3
        |  AND (position(substr(a.t, 1, 6) IN b.t) > 0
        |    OR position(substr(a.t, 7, 6) IN b.t) > 0
        |    OR position(substr(a.t, 13, 6) IN b.t) > 0
        |    OR position(substr(a.t, 19, 6) IN b.t) > 0)
        |WHERE levenshtein(a.t, b.t) <= 3
        |ORDER BY probe_id, corpus_id""".stripMargin),

    // ── exact top-k most-similar pairs via the τ-descending PPJoin
    //    ladder — the scale answer to ngramJaccardPairs' all-pairs term
    Query("q_jaccard_topk", (s, dir) =>
      Dedup.topKJaccardPairs(docs(s, dir), "doc_id", "text", k = 20)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderedSmall(col("jaccard").desc, col("id_a"), col("id_b")),
      // ranks by the UNROUNDED jaccard (like the engine), rounds only the
      // output; floor 0.15 = the engine ladder's last τ
      s"""WITH $shinglesCte,
         |sizes AS (
         |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT id_a, id_b,
         |         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |)
         |SELECT id_a, id_b, round(j, 6) AS jaccard
         |FROM (SELECT * FROM scored WHERE j >= 0.15
         |      ORDER BY j DESC, id_a, id_b LIMIT 20)
         |ORDER BY jaccard DESC, id_a, id_b""".stripMargin),

    // ── weighted sample (Efraimidis–Spirakis, weight = n_chars)
    Query("q_weighted_sample", (s, dir) =>
      Sampling.weightedTopK(docs(s, dir), "doc_id",
          col("n_chars").cast("double"), k = 60)
        .select("doc_id", "n_chars").orderedSmall("doc_id"),
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |         pow(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |               AS BIGINT) / 4294967296.0,
        |             1.0 / CAST(n_chars AS DOUBLE)) AS wk
        |  FROM documents
        |  ORDER BY wk DESC, doc_id LIMIT 60
        |) ORDER BY doc_id""".stripMargin),

    // ── corpus heavy hitters: top word bigrams by occurrence count
    Query("q_top_ngrams", (s, dir) =>
      TextAnalysis.topNgrams(docsLight(s, dir), "text", n = 2, k = 40)
        .orderedSmall(col("cnt").desc, col("ngram")),
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1]) END) AS ngram
        |  FROM t
        |)
        |SELECT ngram, count(*) AS cnt FROM g
        |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 40""".stripMargin),

    // ── PMI collocations: top-30 over-represented adjacent pairs
    Query("q_pmi", (s, dir) =>
      TextAnalysis.pmiCollocations(docsLight(s, dir), "text", k = 30,
        minCount = 5),
      // PMI inputs are all exact integers and the multiply/divide order is
      // mirrored, so the unrounded score is bit-identical; rank on it
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), uni AS (
        |  SELECT term, count(*) AS c1 FROM (
        |    SELECT unnest(toks) AS term FROM t
        |  ) WHERE length(term) > 0 GROUP BY 1
        |), big AS (
        |  SELECT ngram, count(*) AS c2 FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1]) END) AS ngram
        |    FROM t
        |  ) GROUP BY 1
        |), t1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS total1 FROM uni),
        |t2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS total2 FROM big),
        |scored AS (
        |  SELECT b.ngram, b.c2,
        |    ln((CAST(b.c2 AS DOUBLE) * t1.total1 * t1.total1) /
        |       (t2.total2 * ua.c1 * ub.c1)) AS praw
        |  FROM big b
        |  JOIN uni ua ON ua.term = string_split(b.ngram, ' ')[1]
        |  JOIN uni ub ON ub.term = string_split(b.ngram, ' ')[2]
        |  CROSS JOIN t1 CROSS JOIN t2
        |  WHERE b.c2 >= 5
        |)
        |SELECT ngram, c2 AS cnt, round(praw + 1e-9, 6) + 0.0 AS pmi
        |FROM scored ORDER BY praw DESC, ngram LIMIT 30""".stripMargin),

    // ── Zipf rank-frequency audit: one-row OLS fit in log-log space
    Query("q_zipf", (s, dir) =>
      TextAnalysis.zipfFit(docsLight(s, dir), "text"),
      // OLS moments route through decimal(30,12) in both engines
      """WITH uni AS (
        |  SELECT term, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |  ) WHERE length(term) > 0 GROUP BY 1
        |), pts AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term ASC)
        |              AS DOUBLE)) AS x,
        |         ln(CAST(c AS DOUBLE)) AS y
        |  FROM uni
        |), m AS (
        |  SELECT count(*) AS n_terms,
        |    CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx
        |  FROM pts
        |), s AS (
        |  SELECT n_terms, sx, sy,
        |    (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS slope
        |  FROM m
        |)
        |SELECT n_terms, round(-slope + 1e-9, 6) + 0.0 AS alpha,
        |  round((sy - slope * sx) / CAST(n_terms AS DOUBLE) + 1e-9, 6) + 0.0
        |    AS intercept
        |FROM s""".stripMargin),

    // ── KS drift: each source's n_chars distribution vs the rest
    Query("q_ks_drift", (s, dir) =>
      Drift.ksDrift(docsLight(s, dir), "source", "n_chars")
        .select(col("source"), col("n_slice"), col("n_rest"),
          round(col("ks") + lit(1e-9), 6).as("ks"))
        .orderedSmall("source"),
      // KS: cumulative fractions are exact-integer ratios; max (not sum)
      // over per-value D is order-independent
      """WITH s AS (
        |  SELECT source AS sl, count(*) AS ns FROM documents GROUP BY 1
        |), v AS (SELECT DISTINCT n_chars AS vv FROM documents),
        |c AS (
        |  SELECT source AS sl, n_chars AS vv, count(*) AS cc
        |  FROM documents GROUP BY 1, 2
        |), n AS (SELECT count(*) AS nn FROM documents),
        |grid AS (
        |  SELECT s.sl, v.vv, s.ns, coalesce(c.cc, 0) AS cc
        |  FROM s CROSS JOIN v
        |  LEFT JOIN c ON c.sl = s.sl AND c.vv = v.vv
        |), g2 AS (
        |  SELECT sl, vv, ns, cc,
        |         sum(cc) OVER (PARTITION BY vv) AS cv
        |  FROM grid
        |), g3 AS (
        |  SELECT sl, ns, nn,
        |         sum(cc) OVER (PARTITION BY sl ORDER BY vv) AS cumS,
        |         sum(cv) OVER (PARTITION BY sl ORDER BY vv) AS cumAll
        |  FROM g2 CROSS JOIN n
        |)
        |SELECT sl AS source, ns AS n_slice, nn - ns AS n_rest,
        |  round(max(abs(CAST(cumS AS DOUBLE) / CAST(ns AS DOUBLE) -
        |    CAST(cumAll - cumS AS DOUBLE) / CAST(nn - ns AS DOUBLE)))
        |    + 1e-9, 6) + 0.0 AS ks
        |FROM g3 GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // ── PSI drift: binned slice-vs-corpus stability index per source
    Query("q_psi", (s, dir) =>
      Drift.psi(docsLight(s, dir), "source", "n_chars", bins = 10)
        .select(col("source"), col("n_slice"),
          round(col("psi") + lit(1e-9), 6).as("psi"))
        .orderedSmall("source"),
      // PSI: integer equal-width bins over the global [min,max] (no
      // percentile edges), add-one smoothing, decimal-routed sum; the
      // explicit 0..9 spine keeps corpus-empty bins in the formula
      """WITH mm AS (
        |  SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
        |         CAST(max(n_chars) AS DOUBLE) AS hi
        |  FROM documents
        |), b AS (
        |  SELECT source AS sl,
        |    least(9, greatest(0, CAST(floor(
        |      (CAST(n_chars AS DOUBLE) - mm.lo) * 10 / (mm.hi - mm.lo + 1.0)
        |    ) AS INT))) AS bb
        |  FROM documents CROSS JOIN mm
        |), sb AS (SELECT sl, bb, count(*) AS cc FROM b GROUP BY 1, 2),
        |st AS (SELECT sl, count(*) AS ns FROM b GROUP BY 1),
        |cb AS (SELECT bb, count(*) AS ct FROM b GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM b),
        |spine AS (SELECT unnest(range(0, 10)) AS bb),
        |grid AS (
        |  SELECT st.sl, st.ns, sp.bb, coalesce(cb.ct, 0) AS ct, n.nn
        |  FROM st CROSS JOIN spine sp
        |  LEFT JOIN cb USING (bb) CROSS JOIN n
        |), g2 AS (
        |  SELECT g.sl, g.ns, g.ct, g.nn, coalesce(sb.cc, 0) AS cc
        |  FROM grid g LEFT JOIN sb ON sb.sl = g.sl AND sb.bb = g.bb
        |)
        |SELECT sl AS source, ns AS n_slice,
        |  round(CAST(sum(CAST(
        |    (CAST(cc + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) -
        |     CAST(ct + 1 AS DOUBLE) / CAST(nn + 10 AS DOUBLE)) *
        |    ln((CAST(cc + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE)) /
        |       (CAST(ct + 1 AS DOUBLE) / CAST(nn + 10 AS DOUBLE)))
        |    AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) + 0.0 AS psi
        |FROM g2 GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // ── domain concentration: Gini of doc mass across sources
    Query("q_gini", (s, dir) =>
      Drift.gini(docsLight(s, dir), "source")
        .select(col("n_keys"), col("total"),
          round(col("gini") + lit(1e-9), 6).as("gini")),
      // rank formulation over exact integer sums; ties contribute
      // identically under any order so the value is engine-stable
      """WITH c AS (
        |  SELECT source, count(*) AS x FROM documents GROUP BY 1
        |), r AS (
        |  SELECT x, row_number() OVER (ORDER BY x ASC, source ASC) AS i
        |  FROM c
        |), m AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
        |         CAST(sum(CAST(i * x AS DECIMAL(30,0))) AS DOUBLE) AS s1
        |  FROM r
        |)
        |SELECT n AS n_keys, total,
        |  round((2.0 * s1) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6) + 0.0
        |    AS gini
        |FROM m""".stripMargin),

    // ── bounded symmetric drift: JSD per source vs rest
    Query("q_js_div", (s, dir) =>
      Drift.jsDivergence(docsLight(s, dir), "source", "n_chars", bins = 10)
        .select(col("source"), col("n_slice"),
          round(col("jsd") + lit(1e-9), 6).as("jsd"))
        .orderedSmall("source"),
      // same grid as q_psi; jsd = (Σa·ln(a/m) + Σr·ln(r/m))/2 with both
      // sums decimal-routed, m recomputed from the same expressions
      """WITH mm AS (
        |  SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
        |         CAST(max(n_chars) AS DOUBLE) AS hi
        |  FROM documents
        |), b AS (
        |  SELECT source AS sl,
        |    least(9, greatest(0, CAST(floor(
        |      (CAST(n_chars AS DOUBLE) - mm.lo) * 10 / (mm.hi - mm.lo + 1.0)
        |    ) AS INT))) AS bb
        |  FROM documents CROSS JOIN mm
        |), sb AS (SELECT sl, bb, count(*) AS cc FROM b GROUP BY 1, 2),
        |st AS (SELECT sl, count(*) AS ns FROM b GROUP BY 1),
        |cb AS (SELECT bb, count(*) AS ct FROM b GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM b),
        |spine AS (SELECT unnest(range(0, 10)) AS bb),
        |grid AS (
        |  SELECT st.sl, st.ns, sp.bb, coalesce(cb.ct, 0) AS ct, n.nn
        |  FROM st CROSS JOIN spine sp
        |  LEFT JOIN cb USING (bb) CROSS JOIN n
        |), g2 AS (
        |  SELECT g.sl, g.ns, g.ct, g.nn, coalesce(sb.cc, 0) AS cc
        |  FROM grid g LEFT JOIN sb ON sb.sl = g.sl AND sb.bb = g.bb
        |), f AS (
        |  SELECT sl, ns,
        |    CAST(cc + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) AS a,
        |    CAST(ct - cc + 1 AS DOUBLE) / CAST(nn - ns + 10 AS DOUBLE) AS r,
        |    (CAST(cc + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) +
        |     CAST(ct - cc + 1 AS DOUBLE) / CAST(nn - ns + 10 AS DOUBLE)) / 2
        |      AS m
        |  FROM g2
        |)
        |SELECT sl AS source, ns AS n_slice,
        |  round((CAST(sum(CAST(a * ln(a / m) AS DECIMAL(30,12))) AS DOUBLE)
        |       + CAST(sum(CAST(r * ln(r / m) AS DECIMAL(30,12))) AS DOUBLE))
        |       / 2 + 1e-9, 6) + 0.0 AS jsd
        |FROM f GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // ── two-corpus PSI: one source as the "incoming batch" against the
    //    whole corpus as "expected"
    Query("q_psi_between", (s, dir) => {
      val d = docsLight(s, dir)
      Drift.psiBetween(d.filter(col("source") === "src0"), d,
          "n_chars", bins = 10)
        .select(col("n_actual"), col("n_expected"),
          round(col("psi") + lit(1e-9), 6).as("psi"))
    },
      // two-corpus PSI: the engine tags a union frame, so the oracle
      // builds the identical union (bins over the UNION's min/max)
      """WITH u AS (
        |  SELECT 'a' AS s, n_chars AS v FROM documents WHERE source = 'src0'
        |  UNION ALL SELECT 'b' AS s, n_chars AS v FROM documents
        |), mm AS (
        |  SELECT CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
        |  FROM u
        |), b AS (
        |  SELECT s, least(9, greatest(0, CAST(floor(
        |    (CAST(v AS DOUBLE) - mm.lo) * 10 / (mm.hi - mm.lo + 1.0)
        |  ) AS INT))) AS bb
        |  FROM u CROSS JOIN mm
        |), sb AS (SELECT s, bb, count(*) AS c FROM b GROUP BY 1, 2),
        |st AS (SELECT s, count(*) AS ns FROM b GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 10)) AS bb),
        |grid AS (
        |  SELECT st.s, st.ns, sp.bb, coalesce(sb.c, 0) AS c
        |  FROM st CROSS JOIN spine sp
        |  LEFT JOIN sb ON sb.s = st.s AND sb.bb = sp.bb
        |), fa AS (
        |  SELECT bb, ns AS na,
        |         CAST(c + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) AS f
        |  FROM grid WHERE s = 'a'
        |), fb AS (
        |  SELECT bb, ns AS nb,
        |         CAST(c + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE) AS f
        |  FROM grid WHERE s = 'b'
        |)
        |SELECT max(na) AS n_actual, max(nb) AS n_expected,
        |  round(CAST(sum(CAST((fa.f - fb.f) * ln(fa.f / fb.f)
        |    AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) + 0.0 AS psi
        |FROM fa JOIN fb USING (bb)""".stripMargin),

    // ── association audit: is lang independent of source? (MI + χ²)
    Query("q_mutual_info", (s, dir) =>
      Drift.mutualInfo(docsLight(s, dir), "lang", "source")
        .select(col("n"), col("cells"),
          round(col("mi") + lit(1e-9), 6).as("mi"),
          round(col("chi2") + lit(1e-9), 4).as("chi2")),
      // MI over observed cells + χ² over ALL cells (marginal cross grid);
      // count products cast to double before multiplying, like the engine
      """WITH c AS (
        |  SELECT lang AS x, source AS y, count(*) AS cxy
        |  FROM documents GROUP BY 1, 2
        |), mx AS (SELECT lang AS x, count(*) AS cx FROM documents GROUP BY 1),
        |my AS (SELECT source AS y, count(*) AS cy FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM documents),
        |grid AS (
        |  SELECT mx.x, my.y, mx.cx, my.cy, n.nn,
        |         coalesce(c.cxy, 0) AS cxy,
        |         (CAST(mx.cx AS DOUBLE) * CAST(my.cy AS DOUBLE)) /
        |           CAST(n.nn AS DOUBLE) AS ex
        |  FROM mx CROSS JOIN my CROSS JOIN n
        |  LEFT JOIN c ON c.x = mx.x AND c.y = my.y
        |)
        |SELECT max(nn) AS n, count(*) AS cells,
        |  round(CAST(sum(CAST(CASE WHEN cxy > 0 THEN
        |      (CAST(cxy AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |      ln((CAST(nn AS DOUBLE) * CAST(cxy AS DOUBLE)) /
        |         (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
        |    ELSE 0.0 END AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) + 0.0
        |    AS mi,
        |  round(CAST(sum(CAST(
        |      ((CAST(cxy AS DOUBLE) - ex) * (CAST(cxy AS DOUBLE) - ex)) / ex
        |    AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 4) + 0.0 AS chi2
        |FROM grid""".stripMargin),

    // ── dirty media: crawled blobs arrive truncated and corrupted; the
    //    decoders must salvage what is complete and refuse to emit
    //    confident features for what is not. Three deterministic dirt
    //    classes by doc_id % 3, all oracle-checked:
    //      avi_cut   — AVI truncated mid-second-frame; exactly the one
    //                  complete frame harvests (width + exact mean_r)
    //      bad_magic — WAV with its RIFF magic corrupted; decodeMedia
    //                  must route it to 'binary', never 'audio'
    //      wav_cut   — WAV payload cut in half; the container parse
    //                  still runs and stats cover the surviving half
    // ── perceptual media hash (dHash): the LAION/DataComp-style
    //    near-dup image key. Text blobs are not decodable images, so
    //    this rides the deterministic BYTE-domain fallback (same
    //    contract as q_multimodal_features' byte-stat fallback); the
    //    pixel-domain path is gated by q_media_pixel and the adaptive
    //    Hamming-band pair tier (4×16-bit bands at the default
    //    radius 3; 8×8 is the guarded radius-7 opt-in) by
    //    q_media_neardups below
    Query("q_media_phash", (s, dir) =>
      Multimodal.mediaHash(
          Multimodal.attachBlob(docs(s, dir), "doc_id", "text"))
        .select(col("media_id"), col("phash_bits"))
        .orderedCorpus("media_id"),
      // Mirrors the dirty-media salvage contract. avi_cut: the one
      // complete frame is byte slice [0, L//3) (every doc is ≥ 3 bytes,
      // so all three mux slices are nonempty and the cut lands inside
      // frame 1); mean_r = (sum/width)/255 in the engine's division
      // order. bad_magic: routing only — no features asserted. wav_cut:
      // byte-domain dHash replay: block(i) = i*72//n over the UTF-8
      // bytes (recovered via hex two-char slices), exact integer sums →
      // double means, bit k = m[(k//8)*9 + k%8 + 1] > m[... + 0]
      // (missing blocks mean 0.0), emitted MSB-first as a 64-char bit
      // string; empty docs hash to all-zero
      byteDHashBitsOracle),

    // ── perceptual near-dup PAIR tier over the same byte-domain
    //    hashes: adaptive 4×16-bit Hamming bands (radius 3 — the
    //    default mode), band equi-join, bit_count(xor) verify. The
    //    corpus is documents ∪ an id-shifted EXACT copy of every 5th
    //    doc, so hamming-0 pairs exist at every SF and the natural
    //    near-dups (radius ≤ 3 from sf0.1 up) exercise the nonzero
    //    verify. The oracle replays band keys as 16-char slices of the
    //    bit string and the verify as bit_count(xor(bits)).
    Query("q_media_neardups", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
            col("text")))
      Multimodal.mediaNearDups(
          Multimodal.attachBlob(corpus, "doc_id", "text"), "media_id",
          maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderedCorpus("id_a", "id_b")
    },
      // Same byteDHash replay over documents ∪ the id-shifted exact
      // copies, then the Hamming-band pair tier: band b's engine key
      // (phash >> 16b) & 0xFFFF is exactly the 16-char bit-string slice
      // starting at position 49−16b (MSB-first), so band equality joins
      // on substr; the verify is bit_count(xor) over the full 64 bits.
      s"""WITH ${dHashCtes("",
            """SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000000 AS doc_id, text
              |  FROM documents WHERE doc_id % 5 = 0""".stripMargin)},
         |${hammingPairCtes("")}
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // ── the PIXEL-domain dHash path over REAL encoded images: each
    //    doc renders a deterministic block-constant grayscale PNG
    //    (ImageIO's own writer), mediaHash decodes it (ImageIO reader
    //    → Rec.601 luma → block means) and the hash must equal the
    //    pure-integer comparison pattern the oracle computes
    //    arithmetically — a codec-free differential check of the full
    //    encode → decode → luma → dHash journey (a byte-domain
    //    fallback on the PNG bytes CANNOT match it, so this row proves
    //    the pixel path is taken)
    Query("q_media_pixel", (s, dir) =>
      Multimodal.mediaHash(
          Multimodal.buildBlockPng(
            docs(s, dir).select(col("doc_id").cast("long").as("doc_id")),
            "doc_id"))
        .select(col("media_id"), col("phash_bits"))
        .orderedCorpus("media_id"),
      // Pixel-path replay WITHOUT a codec: buildBlockPng renders block
      // (bx, by) of doc id at constant gray v = (id·37 + by·17 + bx·23)
      // mod 199 + 1, PNG is lossless and the 18×16 grid maps exactly
      // onto the 9×8 dHash blocks, so the decoded block mean is the
      // Rec.601 luma of v (monotone in v, adjacent blocks differ by
      // ≥ 1 gray level) and bit k of the hash is exactly the integer
      // comparison v(bx=k%8+1) > v(bx=k%8) in row by=k//8.
      """WITH grid AS (
        |  SELECT doc_id, g.k,
        |         ((doc_id*37 + (g.k//8)*17 + (g.k%8 + 1)*23) % 199 + 1)
        |       > ((doc_id*37 + (g.k//8)*17 + (g.k%8)*23) % 199 + 1)
        |           AS bit
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS k) g
        |)
        |SELECT doc_id AS media_id,
        |       string_agg(CASE WHEN bit THEN '1' ELSE '0' END, ''
        |         ORDER BY k DESC) AS phash_bits
        |FROM grid GROUP BY 1
        |ORDER BY media_id""".stripMargin),

    // ── the AUDIO decode path proven differentially (the audio analog
    //    of q_media_pixel): each doc's text bytes become the PCM
    //    payload of a REAL WAV container (AudioSystem.write — buildWav),
    //    audioHash decodes it back (AudioSystem.getAudioInputStream)
    //    and hashes the SAMPLE stream. 8-bit unsigned PCM passes the
    //    payload through byte-for-byte, so the hash must equal
    //    byteDHash(text bytes) — the same replay as q_media_phash's
    //    oracle. A decode failure (fallback over the RIFF-headered
    //    container bytes) CANNOT match: the row proves the codec path
    //    is taken, and that the hash is container-invariant.
    Query("q_audio_hash", (s, dir) =>
      Multimodal.audioHash(
          Multimodal.buildWav(
            Multimodal.attachBlob(docs(s, dir), "doc_id", "text",
              kind = "audio")))
        .select(col("media_id"), col("phash_bits"))
        .orderedCorpus("media_id"),
      // audioHash over buildWav(text): 8-bit unsigned PCM canonicalizes
      // to samples b·256 — an exact ×256 of the byte stream, so block
      // means scale float-exactly and the sample-stream hash IS STILL
      // byteDHash(text bytes) — the identical replay gates the audio
      // decode path (a fallback over container bytes cannot match)
      byteDHashBitsOracle),

    // ── the COMPANDED audio decode path proven differentially: each
    //    doc's text bytes become G.711 μ-law CODES in a real ULAW WAV
    //    (format tag 7, AudioSystem.write), and audioHash must hash
    //    the EXPANDED linear samples — the oracle replays the fixed
    //    256-entry G.711 table (embedded from the same Scala array the
    //    engine uses, itself unit-pinned against the JDK codec). The
    //    expansion is nonlinear, so a byte-passthrough read of the
    //    codes cannot match: this row gates the companded→linear
    //    conversion itself, not just the container parse.
    Query("q_audio_hash_ulaw", (s, dir) =>
      Multimodal.audioHash(
          Multimodal.buildWavUlaw(
            Multimodal.attachBlob(docs(s, dir), "doc_id", "text",
              kind = "audio")))
        .select(col("media_id"), col("phash_bits"))
        .orderedCorpus("media_id"),
      // audioHash over buildWavUlaw(text): each text byte is a G.711
      // μ-law CODE; the engine must expand code→linear (+32768 to the
      // canonical unsigned grid) before block-averaging. The fixed
      // 256-entry table is embedded below from the very Scala array the
      // engine decodes with (which is itself unit-pinned against the
      // JDK codec), so engine and oracle share one closed form. The
      // expansion is NONLINEAR (log-companded), so block-mean order is
      // not preserved from the raw codes — a byte-passthrough cannot
      // match this oracle.
      {
      val table = graft.operators.Multimodal.ulawToLinear.zipWithIndex
        .map { case (v, code) => s"($code,$v)" }.mkString(",")
      s"""WITH ulaw(code, lin) AS (
         |  SELECT * FROM (VALUES $table) t(code, lin)
         |), ${dHashCtes("", "SELECT doc_id, text FROM documents",
               valExpr = "u.lin + 32768",
               joinExtra = "JOIN ulaw u ON u.code = byte")}
         |SELECT doc_id AS media_id, pb AS phash_bits FROM hashes
         |ORDER BY media_id""".stripMargin
    }),

    // ── VIDEO near-dup pair tier over REAL encoded containers (the
    //    q_media_pixel pattern lifted to the full video journey):
    //    every doc renders a 3-frame AVI of MD5-mixed block-constant
    //    BMP frames (buildAviBlocks), every 5th doc re-renders as an
    //    id-shifted clone whose single jitter block perturbs the
    //    majority-pooled videoHash by 0–2 bits, and videoNearDups
    //    (demux → BMP decode → per-frame pixel dHash → majority pool
    //    → adaptive Hamming bands) must return exactly the pairs the
    //    codec-free arithmetic oracle computes. A byte-domain
    //    fallback on the container bytes cannot match.
    Query("q_video_neardups", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val base = d.select(col("doc_id").as("media_id"),
        col("doc_id").as("content"), lit(0L).as("jitter"))
      val clones = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("media_id"),
          col("doc_id").as("content"), lit(101L).as("jitter"))
      Multimodal.videoNearDups(
          Multimodal.buildAviBlocks(base.unionByName(clones), "media_id",
            "content", "jitter", frames = 3),
          "media_id", n = 3, maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderedCorpus("id_a", "id_b")
    },
      // videoHash over buildAviBlocks: the full codec journey (BMP
      // encode → AVI mux → demux → BMP decode → Rec.601 luma → 2×2
      // block means → per-frame dHash → bitwise majority pool over the
      // 3 frames → 4×16-bit Hamming bands) replayed codec-free — block
      // (by, bx) = k//9, k%9 of frame f is constant gray
      // md5_48("v|content|k") (+53f on row 7, +jitter on the clone's
      // single block (0, content%9)) mod 199 + 1, luma is monotone in
      // the gray level, and ties lose the strict '>' in both engines.
      """WITH corpus AS (
        |  SELECT doc_id AS media_id, doc_id AS content, 0 AS jitter
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS media_id, doc_id AS content,
        |         101 AS jitter
        |  FROM documents WHERE doc_id % 5 = 0
        |), blocks AS (
        |  SELECT media_id, f.f, g.k,
        |         (CAST('0x' || substr(md5('v|' ||
        |              CAST(content AS VARCHAR) || '|' ||
        |              CAST(g.k AS VARCHAR)), 1, 12) AS BIGINT)
        |          + CASE WHEN g.k // 9 = 7 THEN 53 * f.f ELSE 0 END
        |          + CASE WHEN g.k // 9 = 0 AND g.k % 9 = content % 9
        |                 THEN jitter ELSE 0 END) % 199 + 1 AS v
        |  FROM corpus
        |  CROSS JOIN (SELECT unnest(range(0, 3)) AS f) f
        |  CROSS JOIN (SELECT unnest(range(0, 72)) AS k) g
        |), framebits AS (
        |  SELECT a.media_id, a.f,
        |         (a.k // 9) * 8 + (a.k % 9) AS bitpos,
        |         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM blocks a JOIN blocks b
        |    ON b.media_id = a.media_id AND b.f = a.f AND b.k = a.k + 1
        |  WHERE a.k % 9 < 8
        |), pooled AS (
        |  SELECT media_id, bitpos,
        |         CASE WHEN sum(bit) >= 2 THEN '1' ELSE '0' END AS bit
        |  FROM framebits GROUP BY 1, 2
        |), hashes AS (
        |  SELECT media_id,
        |         string_agg(bit, '' ORDER BY bitpos DESC) AS pb
        |  FROM pooled GROUP BY 1
        |), bands AS (
        |  SELECT media_id, pb, g.band,
        |         substr(pb, CAST(49 - 16*band AS INT), 16) AS key
        |  FROM hashes
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g
        |), pairs AS (
        |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        |         bit_count(xor(a.pb::BIT, b.pb::BIT)) AS hamming
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key
        |   AND a.media_id < b.media_id
        |)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // ── DIRTY-video salvage contract, oracle-gated per class (the
    //    q_media_dirty posture on the videoHash path): class 0 cuts
    //    the AVI mid-frame-2 payload (demux clamps — frames 0,1
    //    survive), class 1 corrupts frame 1's BMP magic (that frame
    //    alone fails decode — frames 0,2 survive), class 2 is a bare
    //    text blob (no container — byteDHash fallback). The majority
    //    pool over k=2 surviving frames rounds ties UP (bit = OR), so
    //    each class's hash replays arithmetically from blockVideoLevel
    //    over exactly the surviving frame set — a kernel that decoded
    //    the wrong frames, or fell back to the byte domain on a
    //    salvageable container, cannot match.
    Query("q_video_dirty", (s, dir) => {
      import org.apache.spark.sql.Row
      val d = docs(s, dir)
      val base = d.filter(col("doc_id") % 3 < 2)
        .select(col("doc_id").as("media_id"),
          col("doc_id").as("content"), lit(0L).as("jitter"))
      val avi = Multimodal.buildAviBlocks(base, "media_id", "content",
        "jitter", frames = 3)
      val aIdx = avi.schema.fieldIndex("data")
      val iIdx = avi.schema.fieldIndex("media_id")
      val dirty = avi.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(iIdx)
          val b = r.getAs[Array[Byte]](aIdx)
          val spans = Multimodal.demuxAviSpans(b)
          val out = if (id % 3 == 0) {
            val (o, l) = spans(2)
            java.util.Arrays.copyOfRange(b, 0, o + l / 2)
          } else {
            val c = b.clone(); c(spans(1)._1) = 0; c
          }
          Row.fromSeq(r.toSeq.updated(aIdx, out))
        }
      }(org.apache.spark.sql.Encoders.row(avi.schema))
      val aviOut = Multimodal.videoHash(dirty, n = 3)
        .select(col("media_id"),
          when(col("media_id") % 3 === 0, lit("cut"))
            .otherwise(lit("bad_frame")).as("dirt"),
          col("phash_bits"))
      val textOut = Multimodal.videoHash(
          Multimodal.attachBlob(d.filter(col("doc_id") % 3 === 2),
            "doc_id", "text", kind = "video"), n = 3)
        .select(col("media_id"), lit("no_container").as("dirt"),
          col("phash_bits"))
      aviOut.unionByName(textOut).orderedCorpus("media_id")
    },
      // Per-class salvage replay: the surviving frame SET is part of the
      // oracle (cut → {0,1}, bad_frame → {0,2}), pooled with the k=2
      // tie-up rule (bit = OR ⇔ sum ≥ 1); class 2 is the shared
      // byteDHash replay. A kernel that decoded the dead frame, dropped
      // a live one, or byte-hashed a salvageable container cannot match.
      s"""WITH avicorpus AS (
         |  SELECT doc_id AS media_id, doc_id AS content,
         |         CASE WHEN doc_id % 3 = 0 THEN 'cut'
         |              ELSE 'bad_frame' END AS dirt
         |  FROM documents WHERE doc_id % 3 < 2
         |), blocks AS (
         |  SELECT media_id, dirt, f.f, g.k,
         |         (CAST('0x' || substr(md5('v|' ||
         |              CAST(content AS VARCHAR) || '|' ||
         |              CAST(g.k AS VARCHAR)), 1, 12) AS BIGINT)
         |          + CASE WHEN g.k // 9 = 7 THEN 53 * f.f ELSE 0 END)
         |           % 199 + 1 AS v
         |  FROM avicorpus
         |  CROSS JOIN (SELECT unnest(range(0, 3)) AS f) f
         |  CROSS JOIN (SELECT unnest(range(0, 72)) AS k) g
         |  WHERE (dirt = 'cut' AND f.f < 2)
         |     OR (dirt = 'bad_frame' AND f.f != 1)
         |), framebits AS (
         |  SELECT a.media_id, a.dirt, a.f,
         |         (a.k // 9) * 8 + (a.k % 9) AS bitpos,
         |         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
         |  FROM blocks a JOIN blocks b
         |    ON b.media_id = a.media_id AND b.f = a.f AND b.k = a.k + 1
         |  WHERE a.k % 9 < 8
         |), pooled AS (
         |  SELECT media_id, dirt, bitpos,
         |         CASE WHEN sum(bit) >= 1 THEN '1' ELSE '0' END AS bit
         |  FROM framebits GROUP BY 1, 2, 3
         |), avihashes AS (
         |  SELECT media_id, dirt,
         |         string_agg(bit, '' ORDER BY bitpos DESC) AS phash_bits
         |  FROM pooled GROUP BY 1, 2
         |),
         |${dHashCtes("t",
            "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2")}
         |SELECT media_id, dirt, phash_bits FROM avihashes
         |UNION ALL
         |SELECT doc_id AS media_id, 'no_container' AS dirt,
         |       pb AS phash_bits FROM thashes
         |ORDER BY media_id""".stripMargin),

    Query("q_media_dirty", (s, dir) => {
      import org.apache.spark.sql.Row
      val d = docs(s, dir)
      def blob(k: String, m: Long) = Multimodal.attachBlob(
        d.filter(col("doc_id") % 3 === m), "doc_id", "text", kind = k)
      // class 0: truncate the container mid-frame-1 payload
      val avi = Multimodal.buildAviBmp(blob("video", 0L), frames = 3)
      val aIdx = avi.schema.fieldIndex("data")
      val aviCut = avi.mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]](aIdx)
          val spans = Multimodal.demuxAviSpans(b)
          val out = if (spans.length >= 2) {
            val (o, l) = spans(1)
            java.util.Arrays.copyOfRange(b, 0, o + l / 2)
          } else b
          Row.fromSeq(r.toSeq.updated(aIdx, out))
        }
      }(org.apache.spark.sql.Encoders.row(avi.schema))
      val aviOut = Multimodal.sampleAviFrames(aviCut, n = 3)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_units"),
          min(element_at(col("features"), 1)).cast("long").as("width"),
          min(element_at(col("features"), 3)).as("stat"))
        .select(col("media_id"), lit("avi_cut").as("dirt"),
          lit(1).as("decoded"), col("n_units"), col("width"), col("stat"))
      // class 1: flip the RIFF magic — every codec must reject it
      val wavB = Multimodal.buildWav(blob("audio", 1L))
      val bIdx = wavB.schema.fieldIndex("data")
      val wavBad = wavB.mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]](bIdx).clone(); b(0) = 0
          Row.fromSeq(r.toSeq.updated(bIdx, b))
        }
      }(org.apache.spark.sql.Encoders.row(wavB.schema))
      val badOut = Multimodal.decodeMedia(wavBad)
        .select(col("media_id"), lit("bad_magic").as("dirt"),
          (col("media_kind") === "audio").cast("int").as("decoded"),
          lit(0L).as("n_units"), lit(0L).as("width"), lit(0.0).as("stat"))
      // class 2: drop the back half of the PCM payload (header-size
      // agnostic: keep = total − (L − L/2) leaves exactly L/2 samples)
      val wavC = Multimodal.buildWav(blob("audio", 2L))
      val cIdx = wavC.schema.fieldIndex("data")
      val mIdx = wavC.schema.fieldIndex("meta")
      val wavCut = wavC.mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]](cIdx)
          val L = r.getStruct(mIdx).getLong(0)
          val keep = b.length - (L - L / 2).toInt
          Row.fromSeq(r.toSeq.updated(cIdx,
            java.util.Arrays.copyOfRange(b, 0, keep)))
        }
      }(org.apache.spark.sql.Encoders.row(wavC.schema))
      val cutOut = Multimodal.decodeAudio(wavCut)
        .select(col("media_id"), lit("wav_cut").as("dirt"),
          lit(1).as("decoded"),
          element_at(col("features"), 3).cast("long").as("n_units"),
          lit(0L).as("width"),
          element_at(col("features"), 6).as("stat"))
      aviOut.unionByName(badOut).unionByName(cutOut).orderedCorpus("media_id")
    },
      // the surviving samples are the first L//2 payload bytes; rms as in
      // q_audio_features (exact multiples of 2^-7 ⇒ identical doubles).
      """WITH hexed AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS L
        |  FROM documents
        |), avi AS (
        |  SELECT doc_id,
        |         CAST(L // 3 AS BIGINT) AS width,
        |         (CAST(sum(CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2)
        |            AS INT)) AS DOUBLE) / (L // 3)) / 255.0 AS stat
        |  FROM (SELECT doc_id, hx, L, unnest(range(0, L // 3)) AS i
        |        FROM hexed WHERE doc_id % 3 = 0)
        |  GROUP BY doc_id, L
        |), wavc AS (
        |  SELECT doc_id,
        |         CAST(L // 2 AS BIGINT) AS n_units,
        |         sqrt(avg(
        |           ((CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT)
        |              - 128.0) / 128.0) *
        |           ((CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT)
        |              - 128.0) / 128.0))) AS stat
        |  FROM (SELECT doc_id, hx, L, unnest(range(0, L // 2)) AS i
        |        FROM hexed WHERE doc_id % 3 = 2)
        |  GROUP BY doc_id, L
        |)
        |SELECT * FROM (
        |  SELECT doc_id AS media_id, 'avi_cut' AS dirt, 1 AS decoded,
        |         CAST(1 AS BIGINT) AS n_units, width, stat
        |  FROM avi
        |  UNION ALL
        |  SELECT doc_id, 'bad_magic', 0, CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT), 0.0
        |  FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 'wav_cut', 1, n_units, CAST(0 AS BIGINT), stat
        |  FROM wavc
        |) ORDER BY media_id""".stripMargin),
  )

  // ──────────────────── shared oracle SQL helpers ────────────────────

  /** Distinct word-3-gram shingles per doc (DuckDB), mirroring
    * Dedup.wordShingles + distinct. */
  private val shinglesCte: String =
    """sh_raw AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(range(1, len(toks)-1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |), sh AS (
      |  SELECT DISTINCT doc_id, sh FROM sh_raw
      |)""".stripMargin

  // Shared CTE prefix for the duplicate-span oracles: positions of word
  // 3-grams whose corpus-wide occurrence count ≥ 2, merged into maximal
  // spans (starts ≤ 3 apart share a span — gaps-and-islands windows).
  // lag NULL on a doc's first dup position → CASE else-branch 1, the
  // same null semantics as the engine's `when(...).otherwise(1)`.
  private val dupSpansCte: String =
    """grams AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
      |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |       unnest(range(1, len(toks)-1)) AS r(i)
      |  WHERE len(toks) >= 3
      |), cnt AS (
      |  SELECT g, count(*) AS c FROM grams GROUP BY 1
      |), dup AS (
      |  SELECT grams.doc_id, grams.pos
      |  FROM grams JOIN cnt USING (g) WHERE cnt.c >= 2
      |), isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
      |                                        ORDER BY pos) <= 3
      |              THEN 0 ELSE 1 END AS new_span
      |  FROM dup
      |), sp AS (
      |  SELECT doc_id, pos,
      |         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos)
      |           AS span_id
      |  FROM isl
      |), spans AS (
      |  SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |         CAST(max(pos) + 3 AS INT) AS span_end,
      |         CAST(count(*) AS BIGINT) AS n_dup_grams
      |  FROM sp GROUP BY doc_id, span_id
      |)""".stripMargin

  private def sigSelect: String =
    (0 until H).map(i =>
      s"min(CAST('0x' || substr(md5('$i:' || sh), 1, 15) AS BIGINT)) AS sig_$i")
      .mkString(",\n         ")

  private val sigsCte: String =
    s"""sigs AS (
       |  SELECT doc_id,
       |         $sigSelect
       |  FROM sh GROUP BY doc_id
       |)""".stripMargin

  private val simhashCte: String = {
    val votes = (0 until 60)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val assemble = (0 until 60)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), hashed AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok
       |), votes AS (
       |  SELECT doc_id, $votes FROM hashed GROUP BY doc_id
       |), simhashes AS (
       |  SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM votes
       |)""".stripMargin
  }

  private val qualityExpr: String =
    """0.4 * least(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) / 50.0, 1.0)
      | + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |            / greatest(CAST(length(text) AS DOUBLE), 1.0))
      | + 0.3 * least(((CAST(length(text) AS DOUBLE)
      |            - CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE))
      |            / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) / 8.0, 1.0)"""
      .stripMargin.replace("\n", "")

  private val langHits: String = TextAnalysis.langProfiles.map { case (lang, words) =>
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), x -> x IN ($list))) AS h_$lang"
  }.mkString(",\n         ")

  private val langCase: String = {
    val langs = TextAnalysis.langProfiles.map(_._1)
    langs.map { l =>
      val conds = langs.map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** Shared by q_dedup_cluster and q_dedup_cluster_star: the two CC
    * algorithms must produce identical labels. */
  /** The full LSH→verify→CC cluster derivation as a WITH-body (ending in
    * `clusters(doc_id, cluster_id)`) — shared by q_dedup_cluster,
    * q_dedup_cluster_star, and q_dedup_keep_best. Callers prepend
    * `WITH RECURSIVE` and append their SELECT. */
  /** The LSH half of [[clusterCtes]] — shingles → signatures → band
    * keys → candidates → `verified(id_a, id_b)` — reusable by oracles
    * that feed the verified pairs into a DIFFERENT edge set
    * (q_dedup_multitier unions them with other tiers). */
  private lazy val verifiedCtes: String = {
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, $b AS band, md5(CAST(sig_${2 * b} AS VARCHAR) || '_' || " +
        s"CAST(sig_${2 * b + 1} AS VARCHAR)) AS band_key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    val eq = (0 until H)
      .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$shinglesCte, $sigsCte,
       |bandkeys AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bandkeys a JOIN bandkeys b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.id_a
       |  JOIN sigs sb ON sb.doc_id = c.id_b
       |  WHERE CAST($eq AS DOUBLE) / ${H}.0 >= 0.5
       |)""".stripMargin
  }

  private lazy val clusterCtes: String =
    s"""$verifiedCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM verified
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM verified
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.lab
       |  FROM reach r JOIN edges e ON e.src = r.id
       |), clusters AS (
       |  SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
       |)""".stripMargin

  private lazy val dedupClusterSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  /** The byte→value dHash replay chain every phash oracle shares
    * (block(i) = i*72//n over the UTF-8 bytes, exact integer sums →
    * double means, bit k = m[(k//8)*9 + k%8 + 1] > m[... + 0],
    * MSB-first 64-char bit string; empty docs hash all-'0', NULL text
    * stays NULL — exactly `Multimodal.byteDHash`/`intDHash` over the
    * value stream). Emits CTEs `<p>hexed → <p>bytes → <p>blocks →
    * <p>grid → <p>bits → <p>hashes`, where `<p>hashes` = (doc_id, pb).
    * `corpusSql` must yield (doc_id, text); `valExpr` maps the raw
    * byte (column `byte`) into the value stream, with `joinExtra` for
    * a lookup join (the G.711 table). ONE definition — four oracles
    * ride it, so a grid-layout change cannot drift between them. */
  private def dHashCtes(p: String, corpusSql: String,
      valExpr: String = "byte", joinExtra: String = ""): String =
    s"""${p}hexed AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM ($corpusSql)
       |), ${p}bytes AS (
       |  SELECT doc_id, CAST(i * 72 // n AS INT) AS b,
       |         CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT)
       |           AS byte
       |  FROM (SELECT doc_id, n, hx, unnest(range(0, n)) AS i
       |        FROM ${p}hexed)
       |), ${p}blocks AS (
       |  SELECT doc_id, b, CAST(sum(val) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT doc_id, b, $valExpr AS val
       |        FROM ${p}bytes $joinExtra)
       |  GROUP BY 1, 2
       |), ${p}grid AS (
       |  SELECT h.doc_id, g.k,
       |         coalesce(b2.m, 0.0) > coalesce(b1.m, 0.0) AS bit
       |  FROM ${p}hexed h
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS k) g
       |  LEFT JOIN ${p}blocks b1 ON b1.doc_id = h.doc_id
       |    AND b1.b = (g.k // 8) * 9 + (g.k % 8)
       |  LEFT JOIN ${p}blocks b2 ON b2.doc_id = h.doc_id
       |    AND b2.b = (g.k // 8) * 9 + (g.k % 8) + 1
       |  WHERE h.n > 0
       |), ${p}bits AS (
       |  SELECT doc_id,
       |         string_agg(CASE WHEN bit THEN '1' ELSE '0' END, ''
       |           ORDER BY k DESC) AS pb
       |  FROM ${p}grid GROUP BY 1
       |), ${p}hashes AS (
       |  SELECT h.doc_id,
       |         CASE WHEN h.hx IS NULL THEN NULL
       |              ELSE coalesce(b.pb, repeat('0', 64)) END AS pb
       |  FROM ${p}hexed h LEFT JOIN ${p}bits b USING (doc_id)
       |)""".stripMargin

  /** The adaptive 4×16-bit Hamming band join over `<p>hashes` — band
    * b's engine key `(phash >> 16b) & 0xFFFF` is exactly the 16-char
    * bit-string slice starting at 49−16b (MSB-first), so band
    * equality joins on substr; the verify is bit_count(xor) over the
    * full 64 bits. Emits `<p>bands` and `<p>pairs(id_a, id_b,
    * hamming)`; callers filter to their radius. */
  private def hammingPairCtes(p: String): String =
    s"""${p}bands AS (
       |  SELECT doc_id, pb, g.band,
       |         substr(pb, CAST(49 - 16*band AS INT), 16) AS key
       |  FROM ${p}hashes
       |  CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g
       |  WHERE pb IS NOT NULL
       |), ${p}pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         bit_count(xor(a.pb::BIT, b.pb::BIT)) AS hamming
       |  FROM ${p}bands a JOIN ${p}bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |)""".stripMargin

  // byteDHash replay over the documents table — shared by
  // q_media_phash (byte-domain fallback on text blobs) and
  // q_audio_hash (the WAV payload canonicalizes to exactly ×256 of
  // these bytes, which preserves every block-mean comparison).
  // incrementally-updated index ≡ the same replay with the BASE
  // corpus's centroids (vec_id < 16 excluding the delta's multiples
  // of 5, re-numbered densely by id — buildAnnIndex's zipWithIndex
  // convention): routing is pinned at build time, the delta only
  // appends codes, so the full corpus scores exactly as q_ann_indexed
  // does under these centroids. Shared by q_ann_index_incr and
  // q_ann_compact (compaction is content-invariant by contract).
  private lazy val annIncrProbeOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
      |         v AS centv
      |  FROM e WHERE vec_id < 16 AND vec_id % 5 != 0
      |), sims AS (
      |  SELECT e.vec_id, c.cell,
      |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |           list_dot_product(e.v, c.centv) /
      |             (sqrt(list_dot_product(e.v, e.v)) *
      |              sqrt(list_dot_product(c.centv, c.centv))) DESC,
      |           c.cell ASC) AS rn
      |  FROM e CROSS JOIN cents c
      |), qz AS (
      |  SELECT vec_id, list_transform(v, x -> round(x /
      |           (CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END))) AS q
      |  FROM (SELECT vec_id, v,
      |          list_aggregate(list_transform(v, x -> abs(x)), 'max')
      |            AS m FROM e)
      |), nz AS (
      |  SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS n FROM qz
      |), corpus_cells AS (
      |  SELECT vec_id AS match_id, cell FROM sims WHERE rn = 1
      |), query_probes AS (
      |  SELECT vec_id AS query_id, cell
      |  FROM sims WHERE vec_id < 20 AND rn <= 4
      |), scored AS (
      |  SELECT qp.query_id, cc.match_id,
      |         list_dot_product(a.q, b.q) / (a.n * b.n) AS qcos_raw
      |  FROM query_probes qp JOIN corpus_cells cc USING (cell)
      |  JOIN nz a ON a.vec_id = qp.query_id
      |  JOIN nz b ON b.vec_id = cc.match_id
      |  WHERE qp.query_id != cc.match_id
      |), ranked AS (
      |  SELECT query_id, match_id, qcos_raw,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY qcos_raw DESC, match_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, match_id, round(qcos_raw + 1e-9, 4) AS qcos
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val byteDHashBitsOracle: String =
    s"""WITH ${dHashCtes("", "SELECT doc_id, text FROM documents")}
       |SELECT doc_id AS media_id, pb AS phash_bits FROM hashes
       |ORDER BY media_id""".stripMargin
}
