package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

/** Operator-level plan dumps for the iterative graph operators, whose
  * DECLARED queries end in `orderedCorpus` (a localCheckpoint that
  * truncates the dumped plan to a leaf): build the operator output
  * directly — no ordering checkpoint — so the explain shows the round
  * structure (e.g. pageRank's lazily-chained tail rounds vs the old
  * one-leaf plan). Same corpus/graph inputs as the q_* queries, at
  * sf0.001.
  *
  * Usage: Test/runMain graft.OpDumpMain <outDir> <tag> [dataDir]
  */
object OpDumpMain {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val dataDir =
      if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    Files.createDirectories(outDir)
    val spark = Suite.session(8)

    val d = graft.sources.Tables.load(spark, dataDir, "documents")
    val pairs = operators.Dedup.lshVerifiedPairs(d, "doc_id", "text",
        numHashes = 8, bands = 4, tau = 0.5)
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true) // pin the graph so the dump isolates the op
    val nodes = d.select(col("doc_id"))

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"dumped $name")
    }

    dump("op_pageRank",
      operators.Dedup.pageRank(nodes, pairs, "doc_id", iters = 10))
    val seeds = d.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(col("doc_id"), pmod(col("doc_id"), lit(3)).as("rating"))
    dump("op_labelPropagation",
      operators.Dedup.labelPropagation(nodes, pairs, "doc_id",
        seeds, "rating", iters = 5))
    spark.stop()
  }
}
