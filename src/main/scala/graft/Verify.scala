package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — builder-side subset
    // runs while iterating (the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Suite.select(args.lift(2))
    val spark = Suite.session(Suite.cpusFromEnv(4))
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave an explicit failure record — not just
    // a stderr line — so a shrunk result set can never read as a green
    // suite (the r7 regression shipped exactly that way).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] ${q.name} failed: $msg")
        errors(q.name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // loud summary, but exit 0: the driver must still get the oracle dump
    // and compare the queries that DID succeed
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} of ${selected.size} queries FAILED: " +
          errors.keys.mkString(", "))
    spark.stop()
  }
}
