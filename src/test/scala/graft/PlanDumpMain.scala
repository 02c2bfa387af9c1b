package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dump the AQE-final `explain("formatted")` plan of every SparkEntry
  * query (or a comma-separated subset in arg 3) to `<outDir>/<name>_<tag>.txt`
  * — the round's plan evidence (plans/r14, tags "before" and "after") —
  * and print each plan's exchange, join and codegen counts.
  *
  * Runs each query at sf0.001 (audit-sized) and collect()s it first:
  * collect() executes THIS DataFrame's QueryExecution, so the explain
  * shows the AQE-final plan with codegen markers (a noop write would
  * spawn a separate execution and leave the frame unexecuted /
  * isFinalPlan=false).
  *
  * Usage: Test/runMain graft.PlanDumpMain <outDir> <tag> [names] [dataDir]
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val selected = Suite.select(args.lift(2).filter(_.nonEmpty))
    val dataDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    Files.createDirectories(outDir)
    val spark = Suite.session(8)
    var failed = 0
    selected.foreach { q =>
      try {
        val df = q.run(spark, dataDir)
        df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${q.name}_$tag.txt"),
          plan.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        def n(re: String): Int = re.r.findAllIn(plan).length
        // formatted mode marks codegen'd nodes with a "* " prefix
        println(s"dumped ${q.name}: ReusedExchange=${n("ReusedExchange")} " +
          s"Exchange=${n("\\bExchange\\b")} " +
          s"BroadcastHashJoin=${n("BroadcastHashJoin")} " +
          s"SortMergeJoin=${n("SortMergeJoin")} " +
          s"NestedLoop=${n("BroadcastNestedLoopJoin")} " +
          s"codegen=${n("\\* [A-Z]")}/${n("\\([0-9]+\\)\n")}")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"FAILED ${q.name}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
