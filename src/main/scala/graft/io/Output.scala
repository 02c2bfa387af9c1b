package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output formatting — the REST-response shapes of the reference
  * (/root/reference/loudml/donut.py:331-412, worker `_read` output
  * /root/reference/loudml/worker.py:130-163). Driver-side by nature (these
  * serialize a model-sized series for an API response, not a 100 TB scan);
  * JSON via json4s (ships with Spark).
  */
object Format {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def nanSafe(d: Any): JValue = d match {
    case null                       => JNull
    case x: Double if x.isNaN       => JNull // NaN→null (loudml/misc.py:345-356)
    case x: Double                  => JDouble(x)
    case x: Long                    => JLong(x)
    case other                      => JString(other.toString)
  }

  /** Columnar `{timestamps: [...], observed: {f: [...]}}` — `format_series`
    * (/root/reference/loudml/donut.py:331-358). Optional predicted columns
    * become `predicted: {f: [...], lower_f: [...], upper_f: [...]}`. */
  def series(df: DataFrame, features: Seq[String],
      predicted: Boolean = false): String =
    JsonMethods.compact(JsonMethods.render(seriesDoc(df, features, predicted)))

  /** [[series]] as a JSON object, for a caller that adds fields. */
  def seriesDoc(df: DataFrame, features: Seq[String],
      predicted: Boolean = false): JObject = {
    val rows = byBucket(df)
    def colVals(c: String): JArray =
      JArray(rows.map(r => nanSafe(r.get(r.fieldIndex(c)))).toList)
    val base: List[(String, JValue)] = List(
      "timestamps" -> JArray(rows.map(r =>
        JLong(r.getLong(r.fieldIndex("bucket")))).toList),
      "observed" -> JObject(features.map(f => f -> colVals(f)).toList))
    val pred: List[(String, JValue)] =
      if (!predicted) Nil
      else List("predicted" -> JObject(
        ("predicted" -> colVals("predicted")) ::
          ("lower" -> colVals("lower")) :: ("upper" -> colVals("upper")) :: Nil))
    JObject(base ++ pred)
  }

  /** Row-wise bucket list with per-bucket stats — `format_buckets`
    * (/root/reference/loudml/donut.py:370-412). */
  def buckets(df: DataFrame, features: Seq[String]): String = {
    val rows = byBucket(df)
    val arr = JArray(rows.map { r =>
      val stats =
        (if (r.schema.fieldNames.contains("score"))
          List("score" -> nanSafe(r.get(r.fieldIndex("score")))) else Nil) ++
        (if (r.schema.fieldNames.contains("is_anomaly"))
          List("anomaly" -> JBool(r.getBoolean(r.fieldIndex("is_anomaly")))) else Nil) ++
        (if (r.schema.fieldNames.contains("mse"))
          List("mse" -> nanSafe(r.get(r.fieldIndex("mse")))) else Nil)
      JObject(
        "timestamp" -> JLong(r.getLong(r.fieldIndex("bucket"))),
        "stats" -> JObject(stats),
        "values" -> JObject(features.map(f =>
          f -> nanSafe(r.get(r.fieldIndex(f)))).toList))
    }.toList)
    JsonMethods.compact(JsonMethods.render(arr))
  }

  /** The frame's rows sorted by `bucket` on the driver: a response frame
    * is O(buckets), and a local one collects without a Spark job. */
  private def byBucket(df: DataFrame): Array[Row] = {
    val b = df.schema.fieldIndex("bucket")
    df.collect().sortBy(_.getLong(b))
  }
}

/** Prediction write-back — /root/reference/loudml/bucket.py:232-253 and the
  * generated schema /root/reference/loudml/donut.py:293-319: predicted
  * value under the feature name, observed under `@<feature>`, `score`
  * field, `is_anomaly` tag, model tag.
  */
object WriteBack {

  /** `io` is the feature's direction string (model.py:126-127:
    * is_output = 'o' in io): an input-only feature contributes NO value
    * columns to the write-back — only the bucket/score/tags row — since
    * its "prediction" is model input, not model output. */
  def predictionFrame(scored: DataFrame, feature: String, model: String,
      io: String = "io"): DataFrame = {
    val valueCols =
      if (!io.contains('o')) Nil
      else Seq(
        col("predicted").as(feature),
        col("observed").as(s"@$feature"),
        col("lower").as(s"lower_$feature"),
        col("upper").as(s"upper_$feature"))
    val cols = Seq(col("bucket")) ++ valueCols ++ Seq(col("score")) ++
      (if (scored.columns.contains("is_anomaly"))
        Seq(col("is_anomaly").cast("string").as("is_anomaly")) // tags are strings (§1.2)
      else Nil)
    scored.select(cols: _*).withColumn("model", lit(model))
  }

  /** Append to a parquet sink partitioned by UTC date — the
    * `insert_times_data`+commit path; date partitioning is what makes the
    * time-range scans prune at 100 TB. */
  def save(df: DataFrame, path: String): Unit =
    df.withColumn("date", to_date(timestamp_seconds(col("bucket"))))
      .write.mode("append").partitionBy("date").parquet(path)
}

/** Dataset publishing: shard-partitioned parquet plus the
  * [[graft.operators.CorpusStats.manifest]] verification artifact, and
  * the consumer-side integrity check — the "same shards, same bytes"
  * release workflow. Shard assignment is
  * [[graft.operators.Sampling.shuffleShards]]'s hash scheme, so layout
  * is append-stable and reproducible across writers. */
object Publish {

  /** Write `df` as shard-partitioned parquet under `dir/data` (+
    * within-shard `pos` for a reproducible read order) and
    * `dir/manifest` (per-shard counts + order-independent checksums).
    * Returns the manifest. */
  def writeShards(df: DataFrame, idCol: String, textCol: String,
      dir: String, shards: Int, salt: String = ""): DataFrame = {
    // materialize the input ONCE, as appendShards does for its delta:
    // the data and manifest writes below each evaluate it, concurrently,
    // and must describe the SAME rows — a nondeterministic input
    // re-executed per write would publish a manifest that does not
    // cover the data
    val input = df.localCheckpoint(true)
    val m = graft.operators.CorpusStats
      .manifest(input, idCol, textCol, shards, salt)
    // layout metadata rides WITH the artifact: the verifier must use
    // the writer's modulus — inferring it as max(stored shard)+1 breaks
    // when the highest-numbered shards got zero docs (small corpus,
    // many shards) and every shard then diffs against a smaller-modulus
    // reassignment
    val spark = df.sparkSession
    import spark.implicits._
    // r15 (guide §2.6): the data and manifest writes each scan `df` and
    // never read each other — overlapped driver threads. The LAYOUT
    // write stays LAST and sequential: it is writeShards' de facto
    // completion marker — appendShards' first read is
    // `parquet($dir/layout)`, so a base publish that died mid-write
    // must fail that read loudly rather than accept a silent append
    // onto partial data (review finding, r15).
    graft.operators.Actions.inParallel(
      () => graft.operators.Sampling.shuffleShards(input, idCol, shards, salt)
        .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/data"),
      () => m.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/manifest"))
    Seq((shards, salt)).toDF("shards", "salt")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/layout")
    m
  }

  /** Incremental publish: append a delta batch into an existing
    * [[writeShards]] layout and merge its manifest EXACTLY — the
    * per-shard checksum is Σ hash mod 10¹⁸, so stored + delta sums
    * mod 10¹⁸ equals the full-corpus recompute (counts and char
    * totals are plainly additive). Delta rows shard under the stored
    * layout's own modulus + salt (ids keep their shard across
    * batches); within-shard `pos` continues from the stored count, so
    * positions stay unique — read order is batch order then hash
    * order, not the single-writer global hash order.
    *
    * Scale shape: the delta alone is tokenized/hashed (one shard-keyed
    * agg of `shards` rows); data files APPEND (no rewrite of standing
    * shards); the manifest merge joins two shards-sized frames. This
    * is the batch-accretion pattern whose small-file debt
    * [[graft.io.Compact.compactShards]] later repays. Returns the
    * merged manifest.
    *
    * Crash contract: the data append and the manifest swap are two
    * steps, not one transaction. The manifest is swapped in via
    * write-to-tmp + rename (readers never see a half-written
    * manifest), but a crash BETWEEN the data append and the swap
    * leaves appended rows a stale manifest doesn't cover —
    * [[verifyShards]] then reports the touched shards `corrupt`
    * (loudly detectable, never silent), and the recovery is a fresh
    * [[writeShards]] republish, NOT a retry of the same delta (a
    * retry would double-append). */
  def appendShards(df: DataFrame, idCol: String, textCol: String,
      dir: String): DataFrame = {
    val spark = df.sparkSession
    val layout = spark.read.parquet(s"$dir/layout").head()
    val (shards, salt) = (layout.getInt(0), layout.getString(1))
    // materialize the DELTA once: the data write and the delta
    // manifest below must describe the SAME rows — a nondeterministic
    // input re-executed per action would publish data whose manifest
    // doesn't cover it (detected only later as `corrupt`).
    // r15 (guide §2.6): the delta materialization and the stored-
    // manifest materialization are independent — overlapped.
    var input0: DataFrame = null
    var stored0: DataFrame = null
    graft.operators.Actions.inParallel(
      () => input0 = df.localCheckpoint(true),
      // materialize the stored manifest BEFORE overwriting its path
      () => stored0 = spark.read.parquet(s"$dir/manifest")
        .localCheckpoint(true))
    val input = input0
    val stored = stored0
    val offsets = stored.select(col("shard"), col("n_docs").as("__off"))
    val delta = graft.operators.CorpusStats
      .manifest(input, idCol, textCol, shards, salt)
      .localCheckpoint(true)
    // loud, not wrapped (the Compact convention): pos is int32-pinned
    // below, so a shard crossing 2^31 rows would silently wrap into
    // duplicate pos keys the manifest (which doesn't cover pos) can't
    // see. Fail BEFORE the data write, naming the shards.
    val over = delta.join(offsets, Seq("shard"), "left")
      .filter(coalesce(col("__off"), lit(0L)) + col("n_docs")
        > lit(Int.MaxValue.toLong))
      .select("shard").collect().map(_.getLong(0))
    require(over.isEmpty,
      s"appendShards: shards ${over.mkString(",")} would exceed " +
        s"Int.MaxValue rows and wrap the int32 pos — raise the shard " +
        s"modulus (republish) before appending further")
    // r15 (guide §2.6): the data append and the merged-manifest
    // MATERIALIZATION (reads the stored/delta checkpoints, not the data
    // files) are independent — overlapped. The crash contract is
    // untouched: the manifest SWAP below still happens strictly after
    // the data append completes, and a crash inside the overlap leaves
    // appended rows + the old manifest — the same loudly-`corrupt`
    // window as the sequential order.
    var merged0: DataFrame = null
    graft.operators.Actions.inParallel(
      () => graft.operators.Sampling.shuffleShards(input, idCol, shards, salt)
        .join(broadcast(offsets), Seq("shard"), "left")
        // keep pos int like the base writer — a mixed int32/int64 column
        // across parquet files fails the vectorized reader; int caps a
        // SHARD at 2^31 rows, which the shard modulus exists to prevent
        // (and the guard above turns the cap into a loud failure)
        .withColumn("pos",
          (col("pos") + coalesce(col("__off"), lit(0L))).cast("int"))
        .drop("__off")
        .write.mode("append").partitionBy("shard").parquet(s"$dir/data"),
      () => merged0 = stored
        .select(col("shard"), col("n_docs").as("__d"),
          col("n_chars").as("__c"), col("checksum").as("__s"))
        .join(delta, Seq("shard"), "full_outer")
        .select(col("shard"),
          (coalesce(col("__d"), lit(0L)) + coalesce(col("n_docs"), lit(0L)))
            .as("n_docs"),
          (coalesce(col("__c"), lit(0L)) + coalesce(col("n_chars"), lit(0L)))
            .as("n_chars"),
          pmod(coalesce(col("__s"), lit(0L)) + coalesce(col("checksum"),
            lit(0L)), lit(1000000000000000000L)).as("checksum"))
        .localCheckpoint(true))
    val merged = merged0
    // swap, don't overwrite-in-place: mode("overwrite") deletes before
    // writing, so a crash mid-write leaves NO manifest and breaks the
    // next append at its read; tmp + delete + rename shrinks the
    // no-manifest window from a full parquet write to two FS metadata
    // ops, and a half-written manifest is never visible at all
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/manifest_tmp")
    val live = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    fs.delete(tmp, true)
    merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    merged
  }

  /** Recompute the manifest from `dir/data` and diff it against the
    * stored one: per-shard status `ok` / `corrupt` (counts or checksum
    * moved) / `missing` (in manifest, absent in data) / `unexpected`
    * (in data, absent in manifest). Empty-diff ⇔ intact. The shard
    * modulus and salt come from the writer's `dir/layout` artifact
    * (pre-layout publishes fall back to max(shard)+1 and the caller's
    * salt). */
  def verifyShards(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String, textCol: String, salt: String = ""): DataFrame = {
    val stored = spark.read.parquet(s"$dir/manifest")
    val layout =
      try {
        val r = spark.read.parquet(s"$dir/layout").head()
        Some((r.getInt(0), r.getString(1)))
      } catch { case _: Exception => None }
    val shards = layout.map(_._1).getOrElse(
      stored.agg(max(col("shard"))).head().getLong(0).toInt + 1)
    val useSalt = layout.map(_._2).getOrElse(salt)
    val actual = graft.operators.CorpusStats.manifest(
      spark.read.parquet(s"$dir/data").drop("shard", "pos"),
      idCol, textCol, shards, useSalt)
    stored.select(col("shard"), col("n_docs").as("m_docs"),
        col("n_chars").as("m_chars"), col("checksum").as("m_sum"))
      .join(actual, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("m_docs").isNull, lit("unexpected"))
          .when(col("n_docs").isNull, lit("missing"))
          .when(col("m_docs") === col("n_docs") &&
            col("m_chars") === col("n_chars") &&
            col("m_sum") === col("checksum"), lit("ok"))
          .otherwise(lit("corrupt")).as("status"))
      .filter(col("status") =!= "ok")
  }
}

/** Versioned model storage — loudml/filestorage.py:57-236: numbered
  * checkpoints `<root>/<model>/ckpt-N` behind an `ACTIVE` pointer, and
  * `_restore`. Profiles persist as parquet, settings as JSON. The
  * version protocol is [[Durable.Versioned]]: concurrent saves of one
  * model get distinct versions, and a load never sees a half-written
  * checkpoint or pointer. Old versions are kept for [[restore]].
  */
object ModelStore {
  import java.nio.file.{Files, Paths}

  private def store(root: String, model: String) =
    new Durable.Versioned(Paths.get(root, model), "ckpt-")

  /** Save a new checkpoint; returns its version and makes it active. */
  def save(profile: DataFrame, settingsJson: String, root: String,
      model: String): Int =
    store(root, model).commit { ckpt =>
      profile.write.mode("overwrite")
        .parquet(ckpt.resolve("profile.parquet").toString)
      Durable.write(ckpt.resolve("settings.json"), settingsJson)
    }

  def listVersions(root: String, model: String): Seq[Int] =
    store(root, model).versions

  def activeVersion(root: String, model: String): Option[Int] =
    store(root, model).active

  /** `_restore`: point ACTIVE at an existing checkpoint
    * (loudml/server.py:890-904). */
  def restore(root: String, model: String, version: Int): Unit = {
    val s = store(root, model)
    require(s.versions.contains(version), s"no ckpt-$version")
    s.activate(version)
  }

  def load(spark: SparkSession, root: String, model: String,
      version: Option[Int] = None): (DataFrame, String) = {
    val s = store(root, model)
    val ckpt = s.path(version.orElse(s.active).getOrElse(
      throw new IllegalStateException(s"no active checkpoint for $model")))
    (spark.read.parquet(ckpt.resolve("profile.parquet").toString),
      Files.readString(ckpt.resolve("settings.json")))
  }
}
