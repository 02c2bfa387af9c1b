package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Named-source registry — the Spark restatement of the reference's "bucket"
  * concept (a named, typed connection to a data store; see
  * /root/reference/loudml/bucket.py:29-74 and the registry at
  * /root/reference/loudml/__init__.py:13-29).
  *
  * In the reference a bucket is a TSDB connection read via `get_times_data`;
  * here a source is anything that yields a DataFrame. Parquet and CSV are
  * built in; callers can register in-memory frames (the MemBucket analog,
  * /root/reference/loudml/membucket.py:78-287).
  *
  * Scale note: parquet scans get predicate pushdown + column pruning from
  * Catalyst for free; at 100 TB the tables would be date-partitioned so the
  * time-range filter in [[graft.operators.TimesQuery]] prunes partitions.
  */
object Tables {
  /** Load one driver-provided table from a scale-factor directory.
    *
    * The `events` table's `ts` column has shipped in two physical forms:
    * TIMESTAMP(NANOS) (which Spark 4 reads as int64 nanos under the legacy
    * conf) and plain `timestamp[us]`. The reference normalizes per-connector
    * timestamp units as a matter of course (s/ms/us/ns —
    * /root/reference/loudml/influx.py:62-68, elastic.py:48-52,
    * warp10.py:121); we do the same: whichever form arrives, callers see
    * BOTH a microsecond `ts` timestamp and an int64 `ts_nanos`, derived
    * with exact integer arithmetic (no double roundtrip, so bucket/filter
    * boundaries stay exact).
    *
    * Pushdown note: when `ts` is a native file timestamp column, range
    * predicates belong on `ts` itself (typed literals push to the scan and
    * prune row groups — TimesQuery does this); a predicate on the *derived*
    * `ts_nanos` cannot push. In the legacy nanos-as-long layout it is the
    * reverse: `ts_nanos` IS the file column and carries the pushdown.
    */
  /** Canonical logical types for the driver-regenerated synthetic tables.
    * The r7 regression was one physical-layout drift (`events.ts`); this
    * widens the same absorb-don't-break stance to every column a pandas/
    * pyarrow regeneration plausibly re-types (int32↔int64, float32↔
    * float64, int→float). Exact-widening casts (int32→int64,
    * float32→double) are lossless, so DuckDB-oracle parity is unaffected;
    * a float64→float32 embedding narrowing would lose low bits but keeps
    * the engine's Array[Float] kernels running (documented trade: a
    * running engine with an auditable value diff beats 30 hard errors). */
  private val canonicalTypes: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "events" -> Seq("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      // TPC-H tables, pinned to the layout the query surface was written
      // against — a pandas/pyarrow regeneration that re-types a key
      // (int32↔int64) or narrows a price (double↔float32) is absorbed
      // here instead of surfacing as N red queries (the r7 lesson,
      // widened before it happens to this family)
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType),
      "customer" -> Seq("c_custkey" -> LongType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType),
      "supplier" -> Seq("s_suppkey" -> LongType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      "nation" -> Seq("n_nationkey" -> IntegerType,
        "n_regionkey" -> IntegerType),
      "region" -> Seq("r_regionkey" -> IntegerType))
  }

  /** Date-typed columns that have the same dual-layout hazard as
    * `events.ts` (TIMESTAMP(NANOS) reads as int64 nanos under the
    * legacy conf; `timestamp[us]` reads as timestamp): normalize either
    * physical form to a timestamp so date functions keep working. */
  private val timestampCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_shipdate"), "orders" -> Seq("o_orderdate"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    val df = canonicalTypes.getOrElse(name, Nil).foldLeft(raw) {
      case (d, (c, t)) =>
        d.schema.find(_.name == c) match {
          case Some(f) if f.dataType != t => d.withColumn(c, col(c).cast(t))
          case _ => d
        }
    }
    normalizeDates(name, df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        // legacy layout: raw nanos long is the file column — keep it so
        // literal predicates on it push to the scan (row-group pruning).
        // The metadata tag tells TimesQuery.rangeFilter this long IS a
        // file column (worth a redundant pushable predicate), unlike the
        // derived ts_nanos below (pure per-row math, nothing to push).
        val raw = new org.apache.spark.sql.types.MetadataBuilder()
          .putBoolean("graft.rawFileColumn", true).build()
        d.withColumn("ts_nanos", col("ts").as("ts_nanos", raw))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case (d, f) if f.name == "ts" &&
          (f.dataType == org.apache.spark.sql.types.TimestampType ||
           f.dataType == org.apache.spark.sql.types.TimestampNTZType) =>
        // timestamp[us] layout (pandas writes no timezone → Spark infers
        // NTZ): `ts` is the file column (range predicates on it push);
        // derive the nanos view queries consume. The NTZ→instant cast uses
        // the session timezone, which every entry point pins to UTC —
        // matching DuckDB's epoch_ns(ts) on the naive column exactly.
        d.withColumn("ts_nanos",
          expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case (d, _) => d
    })
  }

  /** Scan-parallelism normalizer for CPU-heavy per-row pipelines.
    *
    * Parquet parallelism is bounded by row-group layout: a single-row-
    * group file scans as ONE task no matter how many cores exist, so a
    * narrow kernel pipeline (signatures, text quality, codec decode)
    * runs serially while the rest of the machine idles — measured 2
    * live tasks for the whole sf1 documents scan. At real scale the
    * file layout supplies the splits and this helper is IDENTITY (it
    * no-ops whenever the scan already yields at least half the default
    * parallelism); on an under-split source it inserts one hash
    * exchange on the row key — the exchange carries the raw rows once,
    * which is orders of magnitude cheaper than serializing the kernel.
    * Hash (not round-robin) partitioning: deterministic under retries
    * with no sort-before-repartition pass, and unique ids can't skew.
    *
    * `minBytes` gates the trade for LIGHT per-row work: the exchange
    * costs a fixed ~0.3 s locally, which only pays once the serialized
    * map side is big enough (measured: the events family wins at the
    * 121 MB sf1 file, loses ~0.35 s/query at the 12 MB sf0.1 file).
    * The gate is chosen PER CALL SITE by the work riding the scan, not
    * per table: kernel-heavy pipelines (signatures, codecs, regex
    * scoring) pass 0 — their per-row CPU dwarfs the exchange at any
    * input size — while light token/metadata aggs on the same tables
    * pass a floor sized between the measured footprints (see
    * DataPipelineQueries.docsLight: 2 MB splits the 0.6 MB sf0.1 and
    * 5.8 MB sf1 documents files). */
  def fanOut(df: DataFrame, key: String, minBytes: Long = 0L): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < par &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
      df.repartition(par, col(key))
    else df
  }

  /** Fold run inside [[load]] after the canonical casts: normalize the
    * per-table [[timestampCols]] from either physical layout. */
  private def normalizeDates(name: String, df0: DataFrame): DataFrame =
    timestampCols.getOrElse(name, Nil).foldLeft(df0) { (d, c) =>
      d.schema.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          // nanos-as-long layout → microsecond timestamp
          d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case _ => d // timestamp layouts need no change
      }
    }

  /** CSV ingest mirroring the reference's CSV bucket loader
    * (/root/reference/loudml/membucket.py:90-112): header row, configurable
    * delimiter, numeric coercion with string fallback handled by schema
    * inference. Handles .gz transparently (Spark codec auto-detect).
    */
  def loadCsv(spark: SparkSession, path: String, delimiter: String = ";"): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", delimiter)
      .option("inferSchema", "true")
      .csv(path)
}
