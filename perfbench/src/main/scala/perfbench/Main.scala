package perfbench

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Detail lines go to stdout first; the last line is the result object. */
object Main {
  val Workloads: Map[String, Args => String] = Map(
    "serve_model" -> ServeModel.run,
    "ingest_alert" -> IngestAlert.run,
    "curation_dedup" -> CurationDedup.run)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val run = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload: ${a.workload}"))
    val line = run(a)
    System.out.flush()
    println(line)
    System.out.flush()
  }
}
