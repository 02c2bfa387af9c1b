package graft.ml

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType, StructField, StructType}

/** The stateful anomaly hysteresis scan — Spark restatement of the
  * reference's `detect_anomalies` state machine
  * (/root/reference/loudml/donut.py:1477-1578):
  *
  *  - per-bucket detection flag (the reference's per-bucket `anomaly`
  *    stat, donut.py:1507-1515): `score ≥ max_threshold` AND not inside
  *    the grace period;
  *  - grace period is anchored to the END of the previous anomaly:
  *    `last_anomaly_ts` is assigned only in the anomaly-close branch
  *    (donut.py:1570), and `in_grace = ts - last_anomaly_ts <
  *    grace_period` (donut.py:1488-1490). A detection suppressed by
  *    grace leaves the state machine CLOSED — no start fires and no
  *    anomaly is open;
  *  - detection while idle → anomaly STARTS; the episode then stays open
  *    until `score < min_threshold` with no detection → ENDS
  *    (hysteresis, donut.py:1518-1569);
  *  - the episode's running max score is updated on detected buckets
  *    only (donut.py:1551) and is what `on_anomaly_end` reports.
  *
  * Implementation: a sequential scan per series. The frame is repartitioned
  * by series key and sorted within partitions by (key, bucket); a single
  * Dataset-typed `mapPartitions` pass (rows never leave Tungsten) keeps
  * O(1) state and resets it on key change — no per-group materialization,
  * no driver collect, so a million independent series scan in parallel
  * while each series stays ordered. A single series runs the same kernel
  * through [[Local.series]]: on the driver when the scored window is a
  * local frame, else as one sorted partition — the reference's
  * sequential loop.
  */
/** The persisted anomaly run state — what the reference keeps in
  * `model._state` across scheduled evals (`last_anomaly_ts` + the open
  * anomaly dict, /root/reference/loudml/donut.py:570-589,1487-1568;
  * persisted per run by /root/reference/loudml/worker.py:255-263). With it
  * an anomaly spanning two eval windows fires exactly one start and one
  * end. */
final case class RunState(
    open: Boolean = false,
    lastEndTs: Option[Long] = None,
    episodeMax: Double = 0.0)

object RunState {
  val empty: RunState = RunState()

  /** Recover the post-scan state from scan output (+ the pre-scan state
    * for fields the window didn't touch): one collect of the window's
    * `(bucket, anomaly, episode_max)` columns, then [[fold]]. */
  def fromScan(scanned: DataFrame, before: RunState): RunState =
    fold(scanned.select("bucket", "anomaly", "episode_max").collect(), before)

  /** The post-scan state as a pure fold over a scanned window's rows (any
    * order; read by the names `bucket`, `anomaly`, `episode_max`): the
    * latest bucket's marker decides `open` and the running episode max,
    * the latest `end` moves `lastEndTs`. An empty window keeps
    * `before`. */
  def fold(rows: Iterable[Row], before: RunState): RunState =
    rows.headOption.fold(before) { r0 =>
      val (bi, ai, ei) = (r0.fieldIndex("bucket"), r0.fieldIndex("anomaly"),
        r0.fieldIndex("episode_max"))
      val last = rows.maxBy(_.getLong(bi))
      val marker = Option(last.getString(ai)).getOrElse("")
      val open = marker == "start" || marker == "ongoing"
      val ends = rows.filter(r => r.getString(ai) == "end").map(_.getLong(bi))
      val epi = if (open && !last.isNullAt(ei)) last.getDouble(ei) else 0.0
      RunState(open, ends.maxOption.orElse(before.lastEndTs), epi)
    }
}

object AnomalyScan {

  /** @return input columns +
    *  - `anomaly: String` ∈ {"start","ongoing","end",null} — episode
    *    lifecycle markers (hook dispatch feeds on start/end rows);
    *  - `is_anomaly: Boolean` — the reference's per-bucket detection flag
    *    (score ≥ max ∧ ¬grace), NOT "inside an open episode";
    *  - `episode_max: Double` — running max score of the current episode
    *    (null outside episodes; on "end" rows it is the episode max that
    *    `on_anomaly_end` reports). */
  /** @param initFromCols keyed-fleet state resume: when true (requires
    *   `seriesKeys`), each key's machine initializes from the row columns
    *   `__init_open` / `__init_last_end` / `__init_episode_max` (joined in
    *   by [[FleetScan]] from the keyed state table; nulls = fresh state)
    *   instead of starting closed — the per-key analog of `initial`. */
  def scan(
      scored: DataFrame,
      scoreCol: String = "score",
      bucketCol: String = "bucket",
      maxThreshold: Double = 99.7,
      minThreshold: Double = 68.0,
      gracePeriodSec: Long = 0L,
      seriesKeys: Seq[String] = Nil,
      initial: RunState = RunState.empty,
      initFromCols: Boolean = false): DataFrame = {
    require(!initFromCols || seriesKeys.nonEmpty,
      "initFromCols requires seriesKeys")
    val inSchema = scored.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("anomaly", StringType, nullable = true),
      StructField("is_anomaly", BooleanType, nullable = false),
      StructField("episode_max", DoubleType, nullable = true)))
    val scoreIdx = inSchema.fieldIndex(scoreCol)
    val bucketIdx = inSchema.fieldIndex(bucketCol)
    val keyIdx = seriesKeys.map(inSchema.fieldIndex)
    val initIdx =
      if (initFromCols)
        Some((inSchema.fieldIndex("__init_open"),
          inSchema.fieldIndex("__init_last_end"),
          inSchema.fieldIndex("__init_episode_max")))
      else None

    val kernel: Iterator[Row] => Iterator[Row] = { it =>
      // unkeyed scans resume from `initial` (cross-run state, §2.9);
      // keyed scans always start fresh per series (curKey=null forces the
      // first-row reset)
      var curKey: Seq[Any] = if (keyIdx.isEmpty) Nil else null
      var open = initial.open         // anomaly episode in progress
      var lastEndTs =                 // last_anomaly_ts: set on episode END
        initial.lastEndTs.getOrElse(Long.MinValue)
      var episodeMax = initial.episodeMax // running max score of the episode
      it.map { r =>
        val key = keyIdx.map(r.get)
        if (key != curKey) {
          curKey = key
          initIdx match {
            case Some((oi, li, ei)) => // resume this key from its state row
              open = !r.isNullAt(oi) && r.getBoolean(oi)
              lastEndTs = if (r.isNullAt(li)) Long.MinValue else r.getLong(li)
              episodeMax = if (r.isNullAt(ei)) 0.0 else r.getDouble(ei)
            case None =>
              open = false; lastEndTs = Long.MinValue; episodeMax = 0.0
          }
        }
        val score = if (r.isNullAt(scoreIdx)) 0.0 else r.getDouble(scoreIdx)
        val ts = r.getLong(bucketIdx)
        val inGrace =
          lastEndTs != Long.MinValue && ts - lastEndTs < gracePeriodSec
        val detected = !inGrace && score >= maxThreshold
        var marker: String = null
        if (!open) {
          if (detected) { open = true; episodeMax = score; marker = "start" }
          // suppressed detection (grace) → state stays CLOSED, no marker
        } else {
          if (detected) {
            episodeMax = math.max(episodeMax, score); marker = "ongoing"
          } else if (score < minThreshold) {
            open = false; lastEndTs = ts; marker = "end"
          } else marker = "ongoing" // hysteresis hold: min ≤ score, no detection
        }
        val epi: java.lang.Double = if (marker != null) episodeMax else null
        Row.fromSeq(r.toSeq ++ Seq(marker, detected, epi))
      }
    }
    if (seriesKeys.isEmpty) Local.series(scored, bucketCol, outSchema)(kernel)
    else {
      val keys = seriesKeys.map(col)
      scored.repartition(keys: _*)
        .sortWithinPartitions((keys :+ col(bucketCol)): _*)
        .mapPartitions(kernel)(Encoders.row(outSchema))
    }
  }
}
