package graft.ml

import graft.operators.{Feature, TimesQuery}
import graft.sources.Tables

/** One-off trainer behind [[PinnedDonut]]: fits the small scoring-tier
  * VAE on the sf0.001 train series (days 1-20 hourly averages — the
  * same split every §2.11 query uses) and prints the full settings
  * JSON (weights + σ/μ/sd) plus the slot profile, ready to paste into
  * `PinnedDonut.scala`. Run:
  *
  *   sbt "runMain graft.ml.DonutPin"
  *
  * The pinned artifact exists so the driver's DuckDB oracle can replay
  * the deterministic scoring path (z = z_mean, MCMC imputation) against
  * a FIXED net — training is covered by DonutVaeSpec/DonutVaeGradSpec;
  * scoring is covered by the q_donut_score correctness row. */
object DonutPin {
  val FROM = 1704067200L
  val SPLIT = FROM + 20L * 86400L

  /** The pinned architecture: small enough that the oracle's unrolled
    * matvec CTEs stay readable, real enough to be a genuine VAE. */
  val params: DonutVae.Params = DonutVae.Params(
    bucketInterval = 3600L, period = 86400L, span = 12,
    intermediate = 8, latent = 3, epochs = 60, batch = 32,
    seed = 42L, mcmcIters = 3)

  def main(args: Array[String]): Unit = {
    val spark = graft.Suite.session(8)
    val series = TimesQuery.run(spark,
      Tables.load(spark, "/root/testdata/sf0.001", "events"),
      "ts", 3600L, FROM, SPLIT,
      Seq(Feature("observed", "avg", "value")))
    val m = DonutVae.train(series, "observed", params)
    println("=== settingsJson ===")
    println(m.settingsJson)
    println("=== profile (slot, mu, sigma) ===")
    m.profile.orderBy("slot").collect().foreach { r =>
      println(s"(${r.getLong(0)}L, ${r.getDouble(1)}, ${r.getDouble(2)}),")
    }
    spark.stop()
  }
}
