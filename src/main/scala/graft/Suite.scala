package graft

import org.apache.spark.sql.SparkSession

/** The runner behind the suite tools (`Bench`, `Verify`, `ml.DonutPin`,
  * the test-side audit mains and the specs): one session builder and one
  * subset selector. Each tool keeps its own per-query action and error policy. */
object Suite {
  /** `SPARK_GRAFT_CPUS` as a positive core count (`default` when unset);
    * anything else fails fast, before a session starts. */
  def cpusFromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$s'"))
    }

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time, no
    * UI, WARN-level logging and the `graft_*` SQL functions. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries a comma-separated name list selects (every query when
    * `names` is None), in name order. An unknown name, or a list that
    * names nothing, fails fast. */
  def select(names: Option[String]): Seq[Query] = {
    val table = SparkEntry.table
    val picked = names.fold(table.keys.toSeq)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
    val unknown = picked.filterNot(table.contains)
    require(unknown.isEmpty, s"unknown query name: ${unknown.mkString(", ")}")
    require(picked.nonEmpty, "the query subset names no query")
    picked.sorted.map(table)
  }
}
