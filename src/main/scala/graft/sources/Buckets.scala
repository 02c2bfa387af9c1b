package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The bucket (data source/sink) seam — Spark restatement of the
  * reference's abstract `Bucket` (/root/reference/loudml/bucket.py:29-74:
  * named, typed connection hiding vendor logic; read via the bucketed-agg
  * contract, write via buffered point inserts) and its plugin registry
  * (`load_bucket`, /root/reference/loudml/bucket.py:297-306; entry points
  * /root/reference/loudml/__init__.py:13-41).
  *
  * A [[Bucket]] yields a *points frame* — `timestampField` plus field/tag
  * columns — which [[graft.operators.TimesQuery]] turns into bucketed
  * series; the seven network TSDB connectors of the reference are
  * unreachable here (no network), but they would implement exactly this
  * trait. Writes go through [[graft.io.WriteBack.save]]-style appends.
  */
trait Bucket {
  def name: String
  /** Field used for time filtering/bucketing
    * (bucket.py:63-68 `timestamp_field`, default "timestamp"). */
  def timestampField: String = "timestamp"
  /** The points frame (lazy plan — no scan happens here). */
  def readPoints(spark: SparkSession): DataFrame
  /** Append points (the `insert_times_data` + commit path). */
  def writePoints(df: DataFrame): Unit =
    throw new UnsupportedOperationException(s"bucket '$name' is read-only")
  /** Drop the underlying data (bucket.py `drop`). */
  def drop(): Unit =
    throw new UnsupportedOperationException(s"bucket '$name' cannot drop")
}

final case class UnsupportedBucket(name: String)
  extends IllegalArgumentException(s"unknown bucket: $name")

/** Name → bucket registry (the `load_bucket` seam). */
class BucketRegistry {
  private val buckets = scala.collection.concurrent.TrieMap.empty[String, Bucket]
  def register(b: Bucket): Unit = buckets.put(b.name, b)
  def apply(name: String): Bucket =
    buckets.getOrElse(name, throw UnsupportedBucket(name))
  def names: Seq[String] = buckets.keys.toSeq.sorted
  def remove(name: String): Boolean = buckets.remove(name).isDefined
}

object BucketSettings {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Settings-JSON bucket factory — the runtime `POST /buckets` schema
    * (docs/reference/api/buckets.asciidoc:47-…; `load_bucket` dispatch on
    * `type`, bucket.py:297-306). Supported types map to the sandbox-
    * reachable sources: `parquet` (path[, timestamp_field]), `csv`
    * (path[, delimiter, timestamp_field]), `json` (path[,
    * timestamp_field]), `orc` (path[, timestamp_field]), `testdata`
    * (dir, table).
    * The reference's network TSDB types would register here the same
    * way. [[MemBucket]] needs a programmatic schema, so it stays
    * code-registered. */
  def fromJson(json: String): Bucket = {
    val j = JsonMethods.parse(json)
    def str(v: JValue, what: String): String = v match {
      case JString(x) => x
      case _ => throw new IllegalArgumentException(s"bucket needs $what")
    }
    def opt(v: JValue): Option[String] =
      v match { case JString(x) => Some(x); case _ => None }
    val name = str(j \ "name", "name")
    str(j \ "type", "type") match {
      case "parquet" => new ParquetBucket(name, str(j \ "path", "path"),
        opt(j \ "timestamp_field").getOrElse("ts"))
      case "csv" => new CsvBucket(name, str(j \ "path", "path"),
        opt(j \ "delimiter").getOrElse(";"),
        opt(j \ "timestamp_field").getOrElse("timestamp"))
      case "json" => new JsonBucket(name, str(j \ "path", "path"),
        opt(j \ "timestamp_field").getOrElse("timestamp"))
      case "orc" => new OrcBucket(name, str(j \ "path", "path"),
        opt(j \ "timestamp_field").getOrElse("ts"))
      case "testdata" => new TestdataBucket(name, str(j \ "dir", "dir"),
        str(j \ "table", "table"),
        opt(j \ "timestamp_field").getOrElse("ts"))
      case "jdbc" => new JdbcBucket(name, str(j \ "url", "url"),
        str(j \ "table", "table"),
        opt(j \ "timestamp_field").getOrElse("ts"))
      case t => throw new IllegalArgumentException(s"unknown bucket type: $t")
    }
  }
}

/** A bucket of self-describing files whose reader infers the schema
  * from one file: the footer of the file whose path sorts first, not the
  * newest. The schema is resolved once and passed to every later read,
  * which skips the footer-reading inference job; each read still lists
  * the files, so appended files are seen. A `writePoints` into a bucket
  * with no resolved schema, or whose frame has a field the schema lacks,
  * resolves it again and widens it with the frame's new fields, so the
  * bucket's own new field shows on the next read (files without it read
  * it as null). A field that another writer adds stays hidden until the
  * bucket is re-registered, or until this bucket writes a new field and
  * the inference sees it (with `mergeSchema`, say). */
abstract class FixedSchemaBucket(format: String, path: String) extends Bucket {
  @volatile private var schema: Option[StructType] = None

  def readPoints(spark: SparkSession): DataFrame = {
    val df = schema.fold(spark.read)(spark.read.schema).format(format).load(path)
    schema = Some(df.schema)
    df
  }

  override def writePoints(df: DataFrame): Unit = {
    df.write.mode("append").format(format).save(path)
    if (schema.forall(s => !df.columns.forall(s.fieldNames.contains))) {
      val found = df.sparkSession.read.format(format).load(path).schema
      schema = Some(StructType(found ++ df.schema
        .filterNot(f => found.fieldNames.contains(f.name))
        .map(_.copy(nullable = true))))
    }
  }
}

/** Parquet-backed bucket (the 100 TB shape: date-partitioned parquet with
  * pushdown + pruning). `path` may be a partitioned directory. */
final class ParquetBucket(
    val name: String, path: String,
    override val timestampField: String = "ts")
  extends FixedSchemaBucket("parquet", path)

/** One driver testdata table as a bucket (nanos-ts normalization via
  * [[Tables.load]]). */
final class TestdataBucket(
    val name: String, sfDir: String, table: String,
    override val timestampField: String = "ts") extends Bucket {
  def readPoints(spark: SparkSession): DataFrame = Tables.load(spark, sfDir, table)
}

/** CSV bucket (`nl.csv.gz`-style, membucket.py:90-112). */
final class CsvBucket(
    val name: String, path: String, delimiter: String = ";",
    override val timestampField: String = "timestamp") extends Bucket {
  def readPoints(spark: SparkSession): DataFrame =
    Tables.loadCsv(spark, path, delimiter)
}

/** JSON-lines bucket (one point object per line — the shape of the
  * reference's `insert_times_data` payloads written to disk; gz
  * transparent). Schema inference happens once per read plan. */
final class JsonBucket(
    val name: String, path: String,
    override val timestampField: String = "timestamp") extends Bucket {
  def readPoints(spark: SparkSession): DataFrame =
    // inferTimestamp is off by default (schema-inference cost); a points
    // frame needs its time column typed, so turn it on here
    spark.read.option("inferTimestamp", "true").json(path)
  override def writePoints(df: DataFrame): Unit =
    df.write.mode("append").json(path)
}

/** ORC bucket — same columnar pushdown/pruning contract as parquet for
  * shops standardized on ORC. */
final class OrcBucket(
    val name: String, path: String,
    override val timestampField: String = "ts")
  extends FixedSchemaBucket("orc", path)

/** JDBC bucket — the one "external store" connector class buildable in a
  * network-less sandbox (embedded/file-backed engines like Derby; in
  * production the same class fronts Postgres/MySQL/anything with a JDBC
  * driver). Mirrors the reference connector contract
  * (/root/reference/loudml/bucket.py:157-194: filtered bucketed read,
  * buffered point insert, drop): the read path hands Spark a JDBC
  * relation whose time-range and tag predicates are PUSHED into the
  * remote store's own SQL (PushedFilters on the JDBC scan — the Spark
  * analog of the reference generating `WHERE time >= … AND tag = …`
  * into InfluxQL, /root/reference/loudml/influx.py:521-546).
  *
  * Scale shape: `extraOptions` passes through Spark's JDBC partitioned
  * read (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`)
  * so a large table reads as N parallel range queries instead of one
  * cursor; writes batch per partition (`batchsize`).
  */
final class JdbcBucket(
    val name: String, url: String, table: String,
    override val timestampField: String = "ts",
    extraOptions: Map[String, String] = Map.empty) extends Bucket {

  def readPoints(spark: SparkSession): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(extraOptions).load()

  override def writePoints(df: DataFrame): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(extraOptions).mode("append").save()

  /** Replace the table's contents (create-or-truncate + load) — the
    * setup path tests/staging use; `columnTypes` overrides the dialect's
    * default DDL types (e.g. `"event_type VARCHAR(32)"` where the
    * dialect would pick CLOB). */
  def overwrite(df: DataFrame, columnTypes: Option[String] = None): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(extraOptions)
    columnTypes.fold(w)(ct => w.option("createTableColumnTypes", ct))
      .mode("overwrite").save()
  }

  override def drop(): Unit = {
    // table comes from user settings JSON and is interpolated into DDL:
    // restrict to plain (possibly schema-qualified) identifiers so a
    // crafted name can't smuggle SQL into the store
    if (!table.matches("^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*$"))
      throw new IllegalArgumentException(
        s"JdbcBucket.drop: table name '$table' is not a plain SQL " +
          "identifier (expected [A-Za-z_][A-Za-z0-9_]*, optionally " +
          "schema-qualified)")
    val conn = java.sql.DriverManager.getConnection(url)
    try { val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $table") finally st.close()
    } finally conn.close()
  }
}

/** In-memory bucket (the MemBucket analog, membucket.py:78-287): points
  * accumulate in a buffer; the frame is rebuilt on read. Test/dev scale. */
final class MemBucket(
    val name: String,
    schema: org.apache.spark.sql.types.StructType,
    override val timestampField: String = "timestamp") extends Bucket {
  private val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
  def readPoints(spark: SparkSession): DataFrame = synchronized {
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .BufferHasAsJava(rows).asJava), schema)
  }
  override def writePoints(df: DataFrame): Unit = synchronized {
    rows ++= df.collect()
  }
  def insert(row: org.apache.spark.sql.Row): Unit = synchronized { rows += row }
  override def drop(): Unit = synchronized { rows.clear() }
}
