package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The keyed plumbing every model type shares: one implementation for a
  * fleet of series and for a single series, which is the empty key
  * (`keys = Nil`). The reference trains one model per series, one job
  * each (loudml/worker.py); here every key's fit runs
  * inside one Spark job.
  *
  * Key columns are matched as STRINGS (tags in this domain,
  * loudml/model.py match_all): each row's key is the
  * string-cast key tuple, an empty array for a single series.
  *
  * Scale shape: a per-key fit is sequential (a recurrence, SGD epochs)
  * but independent ACROSS keys, so `groupByKey(keys)` is the honest
  * physical plan — ONE shuffle keyed by series, each task folding its
  * keys' bucketized series in memory (O(buckets) per key, bounded by the
  * query range like every keyed window; the heavy reduction — the
  * bucketization — already ran distributed before it). A million hosts
  * = a million model-sized fits spread over the cluster, not a million
  * driver-side training jobs.
  */
private[ml] object Keyed {

  /** A sorted bucketized series: `(bucket, value)`, gaps as `None`. */
  type Series = Seq[(Long, Option[Double])]

  /** One key's bucketized point; `k` is the string-cast key tuple. */
  final case class Point(k: Seq[String], bucket: Long, v: Option[Double])

  /** A window model's trained state (weights flat) — shared by the
    * autoencoder and the Donut VAE. */
  final case class WindowState(k: Seq[String], weights: Seq[Double],
      sigma: Double, mu: Double, sd: Double,
      slot_mean: Seq[Double], slot_sigma: Seq[Double])

  // Encoders derive by Scala reflection under a global lock: once here,
  // not on every predict a daemon serves
  private val keyEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  private val pointEncoder: Encoder[Point] = Encoders.product[Point]
  implicit val windowStateEncoder: Encoder[WindowState] =
    Encoders.product[WindowState]

  /** A degenerate-key rule: the named accumulator that counts skipped
    * keys, and the predicate on the sorted series. */
  final case class Skip(accumulator: String, degenerate: Series => Boolean)

  def keyCol(keys: Seq[String]): Column =
    array(keys.map(col(_).cast("string")): _*).cast("array<string>")

  /** `k` back to one column per key, then every other column. */
  def unpackKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.zipWithIndex.map { case (n, i) => col("k")(i).as(n) } ++
      df.columns.filter(_ != "k").map(col): _*)

  /** A solo model's state: one row, the empty key. */
  def soloState[S: Encoder](spark: SparkSession, state: S): DataFrame =
    unpackKeys(spark.createDataset(Seq(state)).toDF(), Nil)

  /** Fit one state per key from a bucketized frame `(keys…, bucket,
    * valueCol)`: group by key, sort each series by bucket, skip keys the
    * `skip` rule calls degenerate, fit the rest with `fitSeries`. Returns the
    * states with one column per key in place of `k`.
    *
    * Degenerate series (empty, all-null, shorter than a window — routine
    * in a real million-key fleet) must not abort every OTHER key's fit:
    * the fit's preconditions are checked EXPLICITLY per key (not by
    * catching exceptions — an exception from inside the fit is a real
    * bug and still fails the job), mirroring the reference's
    * one-job-per-series isolation (a failed training job fails alone).
    * The skip count in the named accumulator is APPROXIMATE
    * (at-least-once: task retries, speculation, and re-evaluation of the
    * returned lazy frame re-add, and each call registers a fresh
    * accumulator). When an exact count matters, derive it as (distinct
    * input keys) − (output row count). */
  def fit[S: Encoder](bucketed: DataFrame, valueCol: String,
      keys: Seq[String], skip: Option[Skip])(
      fitSeries: (Seq[String], Series) => S): DataFrame = {
    val spark = bucketed.sparkSession
    val skipped = skip.map(s => spark.sparkContext.longAccumulator(s.accumulator))
    val degenerate = skip.map(_.degenerate)
    val states = bucketed
      .select(keyCol(keys).as("k"), col("bucket").cast("long").as("bucket"),
        col(valueCol).cast("double").as("v"))
      .as(pointEncoder)
      .groupByKey(_.k)(keyEncoder).flatMapGroups { (key, rows) =>
        val series = rows.map(r => (r.bucket, r.v)).toSeq.sortBy(_._1)
        if (degenerate.exists(_(series))) {
          skipped.foreach(_.add(1L)); Iterator.empty
        } else Iterator.single(fitSeries(key, series))
      }.toDF()
    unpackKeys(states, keys)
  }

  /** Score a bucketized frame against per-key window-model states
    * (`(keys…, weights, sigma, mu, sd, slot_mean, slot_sigma)`): each
    * key's series, sorted by bucket, slides a window over the last `span`
    * ROWS ending at each bucket. `scorer` builds the per-key kernel ONCE
    * (weights decode once per key) that maps `(endBucket, window)` to
    * `(predicted, σ)`. Output: every input column (the input row is
    * carried through) plus `predicted`, `lower`, `upper` and the
    * Φ-`score` ([[Bands.scored]]). Keys without a state emit nothing. The
    * series should extend span−1 buckets back past the scoring range for
    * full context (donut.py:1210-1217). A fleet cogroups each key's rows
    * with its state row; a single series (`keys = Nil`) brings its one
    * state to the driver and runs through [[Local.series]]. */
  def scoreWindows(bucketed: DataFrame, states: DataFrame, valueCol: String,
      keys: Seq[String], span: Int, anomalyType: String)(
      scorer: WindowState => (Long, Series) => (Double, Double)): DataFrame = {
    val n = bucketed.schema.length
    val outSchema = StructType(bucketed.schema.fields ++
      Seq("predicted", "sigma")
        .map(StructField(_, DoubleType, nullable = true)))
    val rows = bucketed.select(col("*"), keyCol(keys).as("__k"),
      col("bucket").cast("long").as("__b"), col(valueCol).cast("double").as("__v"))
    val (kIdx, bIdx, vIdx) = (n, n + 1, n + 2)
    val sts = states.select(keyCol(keys).as("k"),
        col("weights").cast("array<double>").as("weights"),
        col("sigma").cast("double").as("sigma"),
        col("mu").cast("double").as("mu"),
        col("sd").cast("double").as("sd"),
        col("slot_mean").cast("array<double>").as("slot_mean"),
        col("slot_sigma").cast("array<double>").as("slot_sigma"))
      .as[WindowState]
    // one key: its bucket-sorted rows scored against its state
    def score(st: WindowState, sorted: IndexedSeq[Row]): Iterator[Row] = {
      val f = scorer(st)
      val series = sorted.map(r => (r.getLong(bIdx),
        if (r.isNullAt(vIdx)) None else Some(r.getDouble(vIdx))))
      sorted.indices.iterator.map { i =>
        val (pred, sigma) =
          f(series(i)._1, series.slice(math.max(0, i - span + 1), i + 1))
        Row.fromSeq(sorted(i).toSeq.take(n) ++ Seq(pred, sigma))
      }
    }
    val scored =
      if (keys.isEmpty) {
        // a solo model's state is a local frame: collecting it is free
        val st = sts.collect().headOption
        Local.series(rows, "__b", outSchema)(it =>
          st.fold(Iterator.empty[Row])(score(_, it.toVector)))
      } else
        rows.groupByKey(_.getSeq[String](kIdx))(keyEncoder)
          .cogroup(sts.groupByKey(_.k)(keyEncoder)) { (_, points, stRows) =>
            stRows.nextOption().fold(Iterator.empty[Row])(st =>
              score(st, points.toVector.sortBy(_.getLong(bIdx))))
          }(Encoders.row(outSchema))
    Bands.scored(scored, valueCol, anomalyType)
  }
}
