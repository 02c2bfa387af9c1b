package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
  }
}

/** Wall clock in milliseconds with sub-millisecond digits. */
object Clock {
  def nowMs(): Double = System.nanoTime() / 1e6

  /** Untimed seconds of load between the warm-up and the timed window,
    * so the JIT settles before samples are taken. */
  val SettleSeconds = 5.0
}

/** Order statistics over latency samples. */
object Pct {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def q(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)
}

/** Operations attempted and failed, plus named check failures (each
  * failed output check counts as one failed operation). */
final class Tally {
  private var attemptedN = 0L
  private var failedN = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def attempt(n: Long = 1): Unit = synchronized { attemptedN += n }
  def fail(why: String): Unit = synchronized {
    failedN += 1
    if (problems.size < 20) problems += why
  }
  /** Run one output check on an attempted operation; an exception or
    * `false` is a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    val passed =
      try ok
      catch { case scala.util.control.NonFatal(e) => fail(s"$what: $e"); return }
    if (!passed) fail(what)
  }
  def attempted: Long = synchronized { attemptedN }
  def failed: Long = synchronized { failedN }
}

/** Where a run keeps its files: `.bench_build/run/<workload>` under the
  * working directory, emptied at the start of every run. */
object WorkDir {
  def fresh(workload: String): Path = {
    val dir = Path.of(".bench_build", "run", workload).toAbsolutePath
    delete(dir)
    Files.createDirectories(dir)
    dir
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }

  def sizeBytes(p: Path, suffix: String): (Long, Int) = {
    val walk = Files.walk(p)
    try {
      val fs = walk.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toArray.map(_.asInstanceOf[Path])
      (fs.map(Files.size).sum, fs.length)
    } finally walk.close()
  }
}

/** Spark session at `local[nproc]`, UTC session time zone, keeping every
  * file it writes inside the run directory and binding no web UI port.
  * The daemon session is built the way `GraftServer.main` builds one
  * (Spark's default shuffle partitions); a batch session sets shuffle
  * partitions to the core count, the way `graft.Bench` does. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def start(work: Path, batch: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(if (batch) "perfbench" else "graft-server")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = (if (batch) b.config("spark.sql.shuffle.partitions", cores.toString) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** JVM-level probes: live heap after a full collection, and GC time. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** Heap in use after full collections, repeated until it stops
    * falling: Spark's cleaner drops broadcast and shuffle blocks only after
    * a collection has found their handles unreachable. */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var next = used()
    var n = 0
    while (next < last - 0.5 && n < 8) { last = next; next = used(); n += 1 }
    math.min(last, next)
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}

/** Set-up accounting: session start to the end of the warm-up, minus
  * the excluded parts (input generation, model pre-training), which are
  * recorded separately. */
final class SetupClock {
  private val t0 = Clock.nowMs()
  private var excludedMs = 0.0
  val excluded = mutable.LinkedHashMap.empty[String, Double]
  def exclude[T](what: String)(body: => T): T = {
    val s = Clock.nowMs()
    try body
    finally {
      val d = Clock.nowMs() - s
      excludedMs += d
      excluded(what) = excluded.getOrElse(what, 0.0) + d
    }
  }
  def setupSeconds: Double = (Clock.nowMs() - t0 - excludedMs) / 1000.0
}

/** The result line and the detail lines printed before it. */
object Report {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  /** The result line; the first failed checks go to a detail line. */
  def result(correct: Boolean, tally: Tally, ms: Seq[(String, Double, String)]): String = {
    if (tally.problems.nonEmpty)
      detail("failures", tally.problems.zipWithIndex.map { case (p, i) => s"f$i" -> p }.toSeq)
    s"""{"correct": $correct, "attempted": ${tally.attempted.max(1)}, "failed": ${tally.failed}, """ +
      s""""metrics": ${metricsJson(ms)}}"""
  }

  def detail(label: String, kv: Seq[(String, Any)]): Unit = {
    val body = kv.map {
      case (k, d: Double) => s""""$k": ${num(d)}"""
      case (k, n: Int) => s""""$k": $n"""
      case (k, n: Long) => s""""$k": $n"""
      case (k, s) => s""""$k": "${s.toString.replace("\"", "'")}""""
    }.mkString(", ")
    println(s"""{"detail": "$label", "uptime_ms": ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime}, $body}""")
  }
}
