package graft.ml

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Where a single series is scored. A series a request has collected is
  * a local relation: O(buckets) rows held on the driver. Over it Catalyst
  * folds projections and filters into a new local relation without
  * starting a Spark job (`ConvertToLocalRelation`), and the sequential
  * kernels below run on the driver. Any other input runs as a Spark plan.
  * The input's plan decides; there is no option. */
object Local {

  /** True when `df`'s optimized plan is a local relation, so collecting
    * it starts no Spark job. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `rows` as a local frame. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `df` collected once into a local frame (O(buckets) by contract). */
  def collect(df: DataFrame): DataFrame =
    frame(df.sparkSession, df.collect().toSeq, df.schema)

  /** The buckets `[from, to[` on an `interval` grid as a local
    * `bucket: Long` frame (a forecast spine). */
  def range(spark: SparkSession, from: Long, to: Long, interval: Long): DataFrame = {
    import spark.implicits._
    (from until to by interval).toDF("bucket")
  }

  /** Run one series' sequential `kernel` over its rows in `bucketCol`
    * order, producing rows of `schema`: on the driver when `df` is local
    * (a local frame comes back), otherwise as `mapPartitions` over the
    * series sorted into one partition. */
  def series(df: DataFrame, bucketCol: String, schema: StructType)(
      kernel: Iterator[Row] => Iterator[Row]): DataFrame =
    if (isLocal(df)) {
      val b = df.schema.fieldIndex(bucketCol)
      frame(df.sparkSession,
        kernel(df.collect().sortBy(_.getLong(b)).iterator).toSeq, schema)
    } else
      df.repartition(1).sortWithinPartitions(bucketCol)
        .mapPartitions(kernel)(Encoders.row(schema))
}
