package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "runs":R,"agg":"min","sf":…,"passes":[…],"queries":{name:sec,…}}
  * — per-query MINIMUMS last so a bounded tail capture keeps them.
  *
  * Each query is materialized through the `noop` sink so the full output
  * (all columns, all rows) is computed — `count()` would let Catalyst prune
  * the payload columns and undercount the real work. A warmup query runs
  * first so JIT/classloading/FS-metadata costs don't land on the first
  * measured query.
  *
  * Each query is timed in SPARK_GRAFT_BENCH_RUNS full passes over the
  * suite (default 2) and the per-query MINIMUM across passes is
  * reported: this host's shared-VM CPU throttles in bursts, and
  * single-shot timings swing 3-10× on identical code (measured across
  * rounds — e.g. one suite run scored a 2.4 s query at 56 s while
  * neighbours were unaffected). The passes are INTERLEAVED — the whole
  * suite runs once, then again — so a throttle burst, which is short
  * and contiguous in time, cannot hit both runs of the same query
  * (back-to-back runs sat inside one burst and defeated min-of-2 in
  * round 4). The JSON carries every pass's raw numbers as evidence
  * alongside the per-query min.
  *
  * Self-adjudication (r11 verdict item): cross-round comparisons keep
  * having to separate "the code regressed" from "the driver regenerated
  * the testdata" from "the VM throttled". Two artifact features close
  * that from the JSON alone:
  *  - `"data"`: per-table bytes, rows and an order-invariant content
  *    checksum (sum of crc32 over the JSON-serialized row) of every
  *    parquet table in the SF dir — two BENCH files with different
  *    checksums are measuring different corpora and their per-query
  *    deltas are level shifts, not regressions. The fingerprint scan
  *    doubles as the warmup.
  *  - `"isolated"`: the throttle-sensitive pure-CPU codec/signature
  *    family re-timed AFTER the suite, interleaved min-of-N per query
  *    — the adjudication re-run the builder previously did ad hoc,
  *    recorded in the artifact. A suite number far above its isolated
  *    floor is a burst, not a regression. Override the family with
  *    SPARK_GRAFT_BENCH_ISOLATED (comma-separated; empty disables).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Suite.cpusFromEnv(32)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // optional subset for local iteration: comma-separated query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val names = Suite.select(only).map(_.name)
    val spark = Suite.session(cpus)

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // data fingerprint = warmup: one scan per table exercises codegen,
    // parquet footer reads and JIT, and pins WHAT was measured. Raw
    // reads must absorb the TIMESTAMP(NANOS) events layout the same
    // way Tables.load does (the dual-layout contract), and a single
    // unreadable/empty table records as an error entry — the
    // fingerprint exists to adjudicate regen incidents, so it must
    // survive them. Skipped under SPARK_GRAFT_BENCH_ONLY: the
    // single-query iteration loop shouldn't pay a full-corpus
    // serialize+crc pass per run.
    import org.apache.spark.sql.functions.{col, crc32, struct, sum, to_json}
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Exception => () }
    val dataJson = if (only.isDefined) "{}" else {
      val d = new java.io.File(sfDir)
      val tables = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
      tables.map { f =>
        val name = f.getName.stripSuffix(".parquet")
        // a table may be a single file or a parquet DIRECTORY (the
        // sf1 clone layout) — bytes = total data-file footprint
        val bytes: Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array.empty)
            .filter(_.isFile).map(_.length()).sum
        try {
          val t = spark.read.parquet(f.getPath)
          val r = t.agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"),
            sum(crc32(to_json(struct(t.columns.map(col): _*)))).as("c"))
            .head()
          val sum_ = if (r.isNullAt(1)) 0L else r.getLong(1)
          s""""$name":{"bytes":$bytes,"rows":${r.getLong(0)},"checksum":$sum_}"""
        } catch {
          case e: Exception =>
            // strip the FULL control range (plus quote/backslash), not
            // just the common whitespace escapes — a corrupt-footer
            // message can carry raw bytes that would break the JSON
            // artifact this fingerprint exists to produce
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(120)
            s""""$name":{"bytes":$bytes,"error":"$msg"}"""
        }
      }.mkString("{", ",", "}")
    }

    // subset runs skip the fingerprint — keep the classic cheap warmup
    // so JIT/classloading doesn't land on the first measured pass
    if (only.isDefined)
      SparkEntry.queries.get("q_agg_stats").foreach(f =>
        f(spark, sfDir).write.format("noop").mode("overwrite").save())
    // interleaved passes: run the WHOLE suite once per pass, min per
    // query across passes — a contiguous throttle burst can inflate a
    // query in at most one pass. r15 (VERDICT r14 item 2): each pass
    // visits the suite in a DIFFERENT deterministic shuffled order —
    // r14's five "regressions" were all alphabetically-early rows whose
    // suite position aliased with the after-run's warmup/throttle ramp;
    // distinct per-pass orders decorrelate suite position from ramp, so
    // min-of-passes stops inheriting positional bias. Seeds are fixed
    // (pass index), so two bench invocations still time identical
    // orderings — runs remain comparable.
    val passes: Seq[Map[String, Double]] =
      (1 to runs).map { p =>
        val order = new scala.util.Random(0xC0FFEEL + p)
          .shuffle(names)
        order.map(n => n -> once(n)).toMap
      }
    val results = names.map { n =>
      val ts = passes.map(_(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val ok = results.filter(_._2 >= 0)
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val passesJson = passes.map(p => names.map(n => s""""$n":${p(n)}""")
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // isolated adjudication floors for the throttle-sensitive pure-CPU
    // family: re-timed after the suite, interleaved min-of-N
    val isolatedFamily = sys.env.get("SPARK_GRAFT_BENCH_ISOLATED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_video_features", "q_multimodal_features",
        "q_media_dirty", "q_audio_features", "q_frame_sample",
        "q_audio_hash", "q_audio_hash_ulaw", "q_video_neardups",
        "q_video_dirty"))
      .filter(names.contains)
    val isolatedPasses =
      (1 to runs).map(_ => isolatedFamily.map(n => n -> once(n)).toMap)
    val isoJson = isolatedFamily.map { n =>
      val ts = isolatedPasses.map(_(n))
      s""""$n":${if (ts.exists(_ < 0)) -1.0 else ts.min}"""
    }.mkString("{", ",", "}")
    // Full evidence line (per-query mins LAST within it, the round-5
    // ordering lesson). r15 measurement fix (VERDICT r14 item 1): this
    // line is ~8 KB for 212 queries, but the driver keeps only a
    // bounded ~2000-char TAIL of stdout — so the line arrives
    // decapitated and unparseable, and BOTH r13/r14 PERF tables came
    // back empty. The full line still prints FIRST (nothing removed —
    // every query entry, pass evidence and data fingerprint stays on
    // stdout and in the sidecar below); a COMPACT parseable line
    // prints LAST so the tail capture always contains one complete
    // JSON object with the suite totals.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"agg":"min","interleaved":true,"sf":"$sfDir","data":$dataJson,"passes":$passesJson,"isolated":$isoJson,"queries":$qs}"""
    println(fullLine)
    // sidecar: the SAME JSON, whole, for anything with file access
    // (committed per round as BENCH_LOCAL_r<N>.json). Measurement
    // artifact only — nothing reads it back.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"agg":"min","interleaved":true,"sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"queries_file":"BENCH_LOCAL.json"}""")
    spark.stop()
  }
}
