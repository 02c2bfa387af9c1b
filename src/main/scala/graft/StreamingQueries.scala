package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{StreamingDedup, StreamingDrift, StreamingTopTokens,
  StreamRun}

/** Driver-gated rows for the Structured Streaming tier. Until now the
  * streaming operators were unit-gated only (MemoryStream parity ≤1e-9
  * in the specs); these run the REAL streaming path — file source →
  * watermarked stateful operator → sink, via [[StreamRun]]'s
  * AvailableNow replay — and land in the same DuckDB differential gate
  * as every batch operator.
  *
  * Determinism (the reason these two and not, say, append-mode
  * windowed aggs whose final windows hang on a timeout batch):
  *  - q_stream_dedup: the dedup horizon (100 years) exceeds the data's
  *    event-time span, so no fingerprint is ever evicted and the kept
  *    set is exactly one row per distinct text under ANY micro-batch
  *    split; the projection keeps only duplicate-invariant columns
  *    (md5(text), length(text)) so WHICH copy survived is invisible.
  *  - q_stream_tokens: Complete-mode windowed aggregation — the sink's
  *    final table is the aggregate over all input regardless of batch
  *    boundaries, and capacity (4096) ≥ the corpus vocabulary, where
  *    SpaceSaving is exact (err = 0), so counts equal plain
  *    count(*) and the (cnt desc, token asc) top-k is total-ordered.
  *
  * Event time is synthesized from doc_id (the corpus has no timestamp
  * column): epoch second = doc_id + 10⁶, so a 1000-second window is a
  * 1000-document ingest slice. The 10⁶ s shift keeps every event time
  * strictly above the stream's INITIAL watermark (epoch 0) — a ts==0
  * row sits exactly on the late boundary and
  * dropDuplicatesWithinWatermark drops it (measured: doc_id 0 vanished
  * from the kept set; StreamRunSpec would catch a regression).
  */
object StreamingQueries {

  private val TsShift = 1000000L

  // q_stream_eval's train/test split over the events table — the same
  // literals as TemporalQueries' fleet scan (2024-01-01, day 21 split,
  // 30-day horizon) so the proven oracle replay carries over
  private val EvalHour = 3600L
  private val EvalFrom = 1704067200L
  private val EvalSplit = EvalFrom + 20L * 86400L
  private val EvalTo = EvalFrom + 30L * 86400L

  private def docsPath(dir: String) = s"$dir/documents.parquet"

  private[graft] lazy val declared: Seq[Query] = Seq(
    // ── streaming ingest dedup: dropDuplicatesWithinWatermark over the
    //    md5 fingerprint, horizon >> data span (state bounded by the
    //    horizon in production; global-distinct here so the replay is
    //    batch-split-invariant). Output: one row per distinct text.
    Query("q_stream_dedup", (s, dir) => {
      StreamRun.toTable(s, docsPath(dir), src =>
          StreamingDedup.dedupStream(
              src.withColumn("__ts",
                timestamp_seconds(col("doc_id") + lit(TsShift))),
              "__ts", latenessSec = 3155760000L)
            .select(md5(col("text")).as("fp"),
              length(col("text")).cast("long").as("n_chars")),
          OutputMode.Append())
        .orderBy("fp")
    },
      // one row per distinct text: fp is the dedup key, n_chars is
      // constant within a fp group (same bytes), so min() = the value
      """SELECT md5(text) AS fp,
        |       CAST(min(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),

    // ── live heavy hitters: top-5 tokens per 1000-doc event-time
    //    window through the mergeable SpaceSaving aggregate, Complete
    //    mode (final table = full-input aggregate).
    Query("q_stream_tokens", (s, dir) => {
      StreamRun.toTable(s, docsPath(dir), src =>
          StreamingTopTokens.topTokensStream(
            src.withColumn("__ts",
              timestamp_seconds(col("doc_id") + lit(TsShift))),
            Seq.empty, "__ts", "text", windowSec = 1000L,
            latenessSec = 3155760000L, k = 5, capacity = 4096),
          OutputMode.Complete())
        // windows are epoch-aligned and TsShift is window-divisible, so
        // subtracting it lands buckets back on doc_id // 1000 * 1000
        .select((col("window_start").cast("long") - lit(TsShift))
          .as("bucket"), col("token"), col("cnt"))
        .orderBy("bucket", "token")
    },
      // exact replay of the windowed top-5: tumbling 1000-second windows
      // over epoch-second doc_id, count per token, (cnt desc, token asc)
      // rank — the sketch is exact at this vocabulary (≤ capacity)
      """WITH toks AS (
        |  SELECT CAST(doc_id // 1000 * 1000 AS BIGINT) AS bucket,
        |         unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |), cnt AS (
        |  SELECT bucket, token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks WHERE length(token) > 0 GROUP BY 1, 2
        |), rk AS (
        |  SELECT bucket, token, cnt,
        |         row_number() OVER (PARTITION BY bucket
        |           ORDER BY cnt DESC, token) AS r
        |  FROM cnt
        |)
        |SELECT bucket, token, cnt FROM rk WHERE r <= 5
        |ORDER BY bucket, token""".stripMargin),

    // ── streaming distribution drift: per-(type, day) PSI of the live
    //    value histogram against the corpus baseline (binFractions),
    //    Complete mode — the "is live traffic still shaped like what
    //    we trained on" monitor over the real events stream. Baseline
    //    lo/hi/fractions come from one batch pre-pass (a real monitor
    //    freezes them from the training corpus the same way).
    Query("q_stream_psi", (s, dir) => {
      val ev = graft.sources.Tables.load(s, dir, "events")
      val mm = ev.agg(min(col("value").cast("double")),
        max(col("value").cast("double"))).head()
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      val ref = graft.operators.Drift.binFractions(ev, "value", lo, hi,
        bins = 10)
      StreamRun.toTable(s, s"$dir/events.parquet", src => {
          // the raw stream bypasses Tables.load's dual-layout absorber:
          // normalize here with Tables.load's OWN conversions — exact
          // integer `ts div 1000` (double division of epoch nanos loses
          // ~256 ns past 2^53 and ROUNDS, so a boundary row could land
          // in the next window on the stream side only)
          val ts = src.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType =>
              expr("timestamp_micros(ts div 1000)")
            case _ => col("ts").cast("timestamp")
          }
          StreamingDrift.psiStream(src.withColumn("__t", ts),
            Seq("event_type"), "__t", "value", windowSec = 86400L,
            latenessSec = 3155760000L, lo = lo, hi = hi, bins = 10,
            refFracs = ref)
        }, OutputMode.Complete())
        .select(col("event_type"),
          col("window_start").cast("long").as("bucket"), col("n"),
          (round(col("psi") + lit(1e-9), 6) + lit(0.0)).as("psi"))
        .orderBy("event_type", "bucket")
    },
      // windowed PSI replay: baseline bin fractions = smoothed corpus
      // histogram ((c+1)/(n+bins), binFractions' formula); per-(type,
      // day) smoothed window fractions against them; terms decimal-routed
      // like q_psi so summation order can't move the 6-decimal rounding
      """WITH mm AS (
        |  SELECT CAST(min(value) AS DOUBLE) AS lo,
        |         CAST(max(value) AS DOUBLE) AS hi FROM events
        |), b AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bucket,
        |         least(9, greatest(0, CAST(floor(
        |           (CAST(value AS DOUBLE) - mm.lo) * 10 /
        |           (mm.hi - mm.lo + 1.0)) AS INT))) AS bb
        |  FROM events CROSS JOIN mm
        |), refc AS (SELECT bb, count(*) AS c FROM b GROUP BY 1),
        |nall AS (SELECT count(*) AS nn FROM b),
        |spine AS (SELECT unnest(range(0, 10)) AS bb),
        |ref AS (
        |  SELECT sp.bb,
        |         CAST(coalesce(rc.c, 0) + 1 AS DOUBLE) /
        |         CAST(nall.nn + 10 AS DOUBLE) AS e
        |  FROM spine sp LEFT JOIN refc rc USING (bb) CROSS JOIN nall
        |), wb AS (
        |  SELECT event_type, bucket, bb, count(*) AS cc
        |  FROM b GROUP BY 1, 2, 3
        |), wn AS (
        |  SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2
        |), grid AS (
        |  SELECT wn.event_type, wn.bucket, wn.n, r.bb, r.e,
        |         coalesce(wb.cc, 0) AS cc
        |  FROM wn CROSS JOIN ref r
        |  LEFT JOIN wb ON wb.event_type = wn.event_type
        |    AND wb.bucket = wn.bucket AND wb.bb = r.bb
        |)
        |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
        |  round(CAST(sum(CAST(
        |    (CAST(cc + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE) - e) *
        |    ln((CAST(cc + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)) / e)
        |  AS DECIMAL(30,12))) AS DOUBLE) + 1e-9, 6) + 0.0 AS psi
        |FROM grid GROUP BY 1, 2, n ORDER BY 1, 2""".stripMargin),

    // ── the scheduled-inference journey on the streaming path
    //    (reference semantics: loudml/server.py:1559-1580 — train on
    //    history, score each closed live bucket, hysteresis-scan per
    //    series): the TEST range streams through a Complete-mode keyed
    //    windowed aggregation (decimal sum + count, so the final
    //    bucket table equals the batch aggregate under ANY micro-batch
    //    split), then the snapshot is spine-completed, scored against
    //    the batch-trained per-(type, hour-slot) seasonal profile and
    //    scanned by the SAME fleet hysteresis machine as q_fleet_scan
    //    — streamed bucketization ≡ batch bucketization ≡ DuckDB,
    //    end to end. The cross-RUN state-resume variant of the same
    //    scan is driver-gated too (q_stream_resume below).
    Query("q_stream_eval", (s, dir) => {
      val keys = Seq("event_type")
      val scored = scoredRange(s, dir, evalProfile(s, dir),
        EvalSplit, EvalTo, roster = None)
      val (scanned, _) = graft.ml.FleetScan.scanWithState(
        scored, graft.ml.FleetScan.emptyState(s, keys), keys,
        maxThreshold = 90.0, minThreshold = 60.0,
        gracePeriodSec = 21600L)
      evalPresent(scanned).orderBy("event_type", "bucket")
    },
      // the q_fleet_scan recursive-CTE state machine, replayed over the
      // STREAMED bucketization: profile keys span the full table
      // (TimesQuery's spine semantics), the test spine spans the types
      // observed in the test range (= the streamed snapshot's types);
      // avg is the same decimal-sum-over-count both sides
      streamEvalOracle),

    // ── the reference's actual restart semantics (loudml/server.py:
    //    1559-1580 — the scheduler fires `_start` every interval and
    //    each run resumes hysteresis from PERSISTED state): the test
    //    range is split in two, each half runs as its OWN streaming
    //    job (separate StreamRun checkpoint + snapshot), run 1's fleet
    //    state is saved to parquet (FleetScan.saveState's versioned
    //    ACTIVE-pointer protocol) and run 2 LOADS it back before
    //    scanning — so an anomaly episode spanning the restart must
    //    fire exactly one `start`. The union of both runs' outputs is
    //    differentially checked against the ONE-run recursive-CTE
    //    oracle: state persistence cannot drop, duplicate or re-anchor
    //    an episode without going red. The fleet roster (which series
    //    to monitor) is CONFIGURED, not discovered per run — the
    //    reference declares its models up front — so both runs spine
    //    the same type set and run 1 emits score-0 rows even for a
    //    series that first reports after the restart, exactly like the
    //    one-run oracle.
    Query("q_stream_resume", (s, dir) => {
      val keys = Seq("event_type")
      // both runs broadcast the (type × 24-slot)-sized profile — pin it
      // so the TimesQuery training pipeline behind it runs once, not
      // once per run (r14: one full spine+agg pass saved)
      val profile = evalProfile(s, dir).localCheckpoint(true)
      // the configured roster: every type active in the monitored
      // range (tiny — localCheckpoint so both runs reuse one scan)
      val roster = graft.sources.Tables.load(s, dir, "events")
        .filter(col("ts") >= timestamp_seconds(lit(EvalSplit)) &&
          col("ts") < timestamp_seconds(lit(EvalTo)))
        .select("event_type").distinct().localCheckpoint(true)
      val mid = EvalSplit + 5L * 86400L
      val stRoot = s"/tmp/graft_fleetstate_${graft.io.Scratch.key(dir)}"
      // run 1: empty state, first half; persist the resulting state
      val (scan1, st1) = graft.ml.FleetScan.scanWithState(
        scoredRange(s, dir, profile, EvalSplit, mid, Some(roster)),
        graft.ml.FleetScan.emptyState(s, keys), keys,
        maxThreshold = 90.0, minThreshold = 60.0,
        gracePeriodSec = 21600L)
      // pin run 1's output: saveState executes the scan once to build
      // the state, and the final union would otherwise execute it
      // again (identical rows — the scan is deterministic over the
      // checkpointed snapshot — but double the work)
      val scan1Pinned = scan1.localCheckpoint(true)
      graft.ml.FleetScan.saveState(st1, stRoot, "resume"): Unit
      // run 2: a separate streaming job resuming from the LOADED state
      val loaded = graft.ml.FleetScan.loadState(s, stRoot, "resume", keys)
      val (scan2, _) = graft.ml.FleetScan.scanWithState(
        scoredRange(s, dir, profile, mid, EvalTo, Some(roster)), loaded,
        keys, maxThreshold = 90.0, minThreshold = 60.0,
        gracePeriodSec = 21600L)
      evalPresent(scan1Pinned.unionByName(scan2))
        .orderBy("event_type", "bucket")
    },
      // the resume row's contract is precisely "two persisted-state runs
      // ≡ one run" — so the oracle IS the one-run replay, verbatim
      streamEvalOracle),
  )

  // ── shared scoring pipeline for the scheduled-eval rows ───────────

  private def evalSlot =
    (pmod(col("bucket"), lit(86400L)) / lit(EvalHour)).cast("long")

  /** Batch-trained per-(type, daily-hour-slot) seasonal profile over
    * the training range — exactly q_fleet_scan's (the TimesQuery spine
    * keeps all 24 slots). */
  private def evalProfile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Feature, TimesQuery}
    val ev = graft.sources.Tables.load(s, dir, "events")
    TimesQuery.run(s, ev, "ts", EvalHour, EvalFrom, EvalSplit,
        Seq(Feature("observed", "avg", "value")),
        seriesKeys = Seq("event_type"))
      .groupBy(col("event_type"), evalSlot.as("slot"))
      .agg(avg(col("observed")).as("mu"),
        coalesce(when(stddev_pop(col("observed")) === 0.0, 1.0)
          .otherwise(stddev_pop(col("observed"))), lit(1.0)).as("sigma"))
  }

  /** One scheduled eval run: stream the raw events file, keep
    * [from, to), aggregate per (type, hour) in Complete mode (exact
    * decimal sum — order-invariant, so batch-split-invariant),
    * snapshot, spine-complete (streaming emits only non-empty windows;
    * the scan needs every bucket, empty ⇒ score 0 — the
    * gap-materialization semantics of the batch path) and score
    * against `profile`. `roster` None ⇒ the types observed in THIS
    * run's snapshot (the whole-range q_stream_eval shape); Some ⇒ the
    * externally configured fleet set (the resume row's fixed monitor
    * roster, identical across runs). */
  private def scoredRange(s: SparkSession, dir: String,
      profile: DataFrame, from: Long, to: Long,
      roster: Option[DataFrame]): DataFrame = {
    val streamed = StreamRun.toTable(s, s"$dir/events.parquet", src => {
        // the raw stream bypasses Tables.load's dual-layout absorber:
        // normalize with Tables.load's OWN conversions — exact integer
        // `ts div 1000` (double division of epoch nanos loses ~256 ns
        // past 2^53 and ROUNDS, so a boundary row could land in the
        // next window on the stream side only)
        val ts = src.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            expr("timestamp_micros(ts div 1000)")
          case _ => col("ts").cast("timestamp")
        }
        src.withColumn("__t", ts)
          .filter(col("__t") >= timestamp_seconds(lit(from)) &&
            col("__t") < timestamp_seconds(lit(to)))
          .groupBy(col("event_type"),
            window(col("__t"), s"$EvalHour seconds"))
          .agg(sum(col("value")
              .cast(org.apache.spark.sql.types.DecimalType(30, 12)))
              .as("__s"),
            count(col("value")).as("__n"))
      }, OutputMode.Complete())
      .select(col("event_type"),
        col("window.start").cast("long").as("bucket"),
        (col("__s").cast("double") / col("__n")).as("v"))
    val types = roster.getOrElse(streamed.select("event_type").distinct())
    val spine = types.select(col("event_type"),
      explode(sequence(lit(from), lit(to - EvalHour), lit(EvalHour)))
        .as("bucket"))
    spine.join(streamed, Seq("event_type", "bucket"), "left")
      .withColumn("slot", evalSlot)
      .join(broadcast(profile), Seq("event_type", "slot"))
      .withColumn("score", coalesce(graft.functions.Stats.anomalyScore(
        col("v"), col("mu"), col("mu") + lit(3.0) * col("sigma"),
        "low_high"), lit(0.0)))
      .select(col("event_type"), col("bucket"), col("score"))
  }

  /** The gate presentation both eval rows share. */
  private def evalPresent(scanned: DataFrame): DataFrame =
    scanned.select(col("event_type"), col("bucket"),
      round(col("score"), 4).as("score"),
      col("is_anomaly"), col("anomaly"),
      round(col("episode_max"), 4).as("episode_max"))

  private lazy val streamEvalOracle: String = {
      val det = "(sm.last_end IS NULL OR o.bucket - sm.last_end >= 21600)" +
        " AND o.score >= 90.0"
      s"""WITH RECURSIVE keys AS (SELECT DISTINCT event_type FROM events),
         |train_agg AS (
         |  SELECT event_type,
         |         CAST(floor(epoch(ts)/$EvalHour) AS BIGINT)*$EvalHour AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $EvalFrom AND epoch(ts) < $EvalSplit
         |  GROUP BY 1, 2
         |), train_spine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($EvalFrom, ${EvalSplit - EvalHour},
         |           $EvalHour)) AS bucket
         |  FROM keys k
         |), train_series AS (
         |  SELECT s.event_type, s.bucket, a.v
         |  FROM train_spine s LEFT JOIN train_agg a USING (event_type, bucket)
         |), profile AS (
         |  SELECT event_type, CAST((bucket % 86400) / $EvalHour AS BIGINT) AS slot,
         |         avg(v) AS mu,
         |         CASE WHEN stddev_pop(v) = 0 OR stddev_pop(v) IS NULL THEN 1.0
         |              ELSE stddev_pop(v) END AS sigma
         |  FROM train_series GROUP BY 1, 2
         |), test_keys AS (
         |  SELECT DISTINCT event_type FROM events
         |  WHERE epoch(ts) >= $EvalSplit AND epoch(ts) < $EvalTo
         |), test_agg AS (
         |  SELECT event_type,
         |         CAST(floor(epoch(ts)/$EvalHour) AS BIGINT)*$EvalHour AS bucket,
         |         CAST(sum(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / count(value) AS v
         |  FROM events WHERE epoch(ts) >= $EvalSplit AND epoch(ts) < $EvalTo
         |  GROUP BY 1, 2
         |), test_spine AS (
         |  SELECT k.event_type,
         |         unnest(generate_series($EvalSplit, ${EvalTo - EvalHour},
         |           $EvalHour)) AS bucket
         |  FROM test_keys k
         |), test_series AS (
         |  SELECT s.event_type, s.bucket, a.v
         |  FROM test_spine s LEFT JOIN test_agg a USING (event_type, bucket)
         |), banded AS (
         |  SELECT t.event_type, t.bucket, t.v AS observed, p.mu AS predicted,
         |         p.mu + 3*p.sigma AS upper
         |  FROM test_series t
         |  JOIN profile p ON p.event_type = t.event_type
         |    AND p.slot = CAST((t.bucket % 86400) / $EvalHour AS BIGINT)
         |), xed AS (
         |  SELECT *,
         |    abs((observed - predicted) / greatest((upper - predicted)/3.0, 1e-9)) / sqrt(2) AS x
         |  FROM banded
         |), ted AS (
         |  SELECT *, 1/(1 + 0.3275911*x) AS tp FROM xed
         |), raw_scored AS (
         |  SELECT event_type, bucket,
         |    100 * least(greatest(
         |      2*(0.5*(1 + (1 - ((((1.061405429*tp - 1.453152027)*tp + 1.421413741)*tp
         |                          - 0.284496736)*tp + 0.254829592)*tp * exp(-x*x)))) - 1,
         |      0), 1) AS score
         |  FROM ted
         |), ordered AS (
         |  SELECT event_type,
         |         row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn,
         |         bucket, coalesce(score, 0.0) AS score
         |  FROM raw_scored
         |), sm AS (
         |  SELECT event_type, rn, bucket, score,
         |         score >= 90.0 AS detected,
         |         score >= 90.0 AS open_after,
         |         CAST(NULL AS BIGINT) AS last_end,
         |         CASE WHEN score >= 90.0 THEN score ELSE 0.0 END AS epi_max,
         |         CASE WHEN score >= 90.0 THEN 'start' END AS anomaly
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT o.event_type, o.rn, o.bucket, o.score,
         |         $det AS detected,
         |         CASE WHEN NOT sm.open_after THEN $det
         |              ELSE NOT (NOT ($det) AND o.score < 60.0) END AS open_after,
         |         CASE WHEN sm.open_after AND NOT ($det) AND o.score < 60.0
         |              THEN o.bucket ELSE sm.last_end END AS last_end,
         |         CASE WHEN NOT sm.open_after AND ($det) THEN o.score
         |              WHEN sm.open_after AND ($det)
         |              THEN greatest(sm.epi_max, o.score)
         |              ELSE sm.epi_max END AS epi_max,
         |         CASE WHEN NOT sm.open_after AND ($det) THEN 'start'
         |              WHEN sm.open_after AND NOT ($det) AND o.score < 60.0
         |              THEN 'end'
         |              WHEN sm.open_after THEN 'ongoing' END AS anomaly
         |  FROM sm JOIN ordered o
         |    ON o.event_type = sm.event_type AND o.rn = sm.rn + 1
         |)
         |SELECT event_type, bucket, round(score, 4) AS score,
         |       detected AS is_anomaly, anomaly,
         |       round(CASE WHEN anomaly IS NOT NULL THEN epi_max END, 4)
         |         AS episode_max
         |FROM sm ORDER BY event_type, bucket""".stripMargin
  }
}
