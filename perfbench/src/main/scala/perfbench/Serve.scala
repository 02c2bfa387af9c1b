package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

import graft.api.GraftConfig

/** The daemon as a user runs it: a config document with one parquet
  * bucket, booted in-process by `GraftConfig.serve` on an ephemeral
  * port. */
final class Daemon(spark: SparkSession, work: Path, bucketDir: Path) {
  val storeRoot: String = work.resolve("store").toString
  private val config =
    s"""{"storage": {"path": "$storeRoot"},
       | "buckets": [{"name": "metrics", "type": "parquet",
       |              "path": "$bucketDir", "timestamp_field": "ts"}]}""".stripMargin
  private val (engine0, api, addr) =
    GraftConfig.serve(spark, GraftConfig.fromJson(config), Some(0))
  val engine: graft.api.Engine = engine0
  val http = new Http(s"http://127.0.0.1:${addr.getPort}")
  def stop(): Unit = api.stop()
}

/** The points bucket `serve_model` serves: 4 hosts (sin, saw, flat, sin
  * shapes), one point per host every 5 minutes over 90 days, written as
  * 4 time-ordered parquet files, with 3 planted one-hour anomalies per
  * host in the last 14 days. */
final class ServeData(seed: Long) {
  import PointsGen.Day
  val hosts = 4
  val end: Long = 1711929600L // 2024-04-01T00:00:00Z
  val start: Long = end - 90 * Day
  val step = 300L
  val files = 4
  val noise = 2.0
  val spike = 30.0
  val evalFirstDay = 76

  val planted: Seq[Planted] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    (0 until hosts).flatMap { h =>
      Iterator.continually((evalFirstDay + rnd.nextInt(90 - evalFirstDay), rnd.nextInt(24)))
        .distinct.take(3).map { case (d, hr) =>
          val f = start + d * Day + hr * 3600L
          Planted(h, f, f + 3600L)
        }
    }
  }

  val spec: PointsSpec = PointsSpec(seed, hosts, start, end, step, noise, planted, spike)
}

/** JSON field helpers for daemon responses. */
object J {
  def long(v: JValue): Long = v match {
    case JInt(x) => x.toLong; case JLong(x) => x; case JDouble(x) => x.toLong
    case o => throw new IllegalArgumentException(s"not a number: $o")
  }
  def optDouble(v: JValue): Option[Double] = v match {
    case JDouble(x) => Some(x); case JInt(x) => Some(x.toDouble)
    case JLong(x) => Some(x.toDouble); case JDecimal(x) => Some(x.toDouble)
    case _ => None
  }
  def arr(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case o => throw new IllegalArgumentException(s"not an array: $o")
  }
}

/** Closed-loop clients: each of `clients` threads calls `work(client)`
  * again as soon as the previous call returns, until `seconds` have
  * passed. Returns the wall time until the last call ended, in ms. */
object Loop {
  def closed(clients: Int, seconds: Double)(work: Int => Unit): Double = {
    val t0 = Clock.nowMs()
    val deadline = t0 + seconds * 1000
    each(clients)(c => while (Clock.nowMs() < deadline) work(c))
    Clock.nowMs() - t0
  }

  /** Run `work(i)` for i in [0, n[ on n threads and wait for all. */
  def each(n: Int)(work: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        try work(i) catch { case e: Throwable => errors.add(e) }
      }, s"bench-worker-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}

/** Helpers of the traced runs: a single-client untraced pass, then the
  * same requests again through the layers' functions with tracing on. */
object Traced {
  /** Local frame over already-collected rows (no recomputation). */
  def local(spark: SparkSession, rows: Array[Row], df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  /** Medians of the HTTP job timings of the untraced single-client pass:
    * the `api` layer as the daemon's client sees it. */
  def apiMetrics(ts: Seq[JobTiming]): Map[String, Double] =
    if (ts.isEmpty) Map.empty
    else Map(
      "api.submit_ms" -> Pct.median(ts.map(_.submitMs)),
      "api.wait_ms" -> Pct.median(ts.map(_.waitMs)),
      "api.run_ms" -> Pct.median(ts.map(_.runMs)),
      "api.polls" -> Pct.median(ts.map(_.polls.toDouble)))

  def overhead(traced: Seq[Double], untraced: Seq[Double]): Map[String, Double] = {
    val t = Pct.median(traced); val u = Pct.median(untraced)
    Map("trace.overhead_ms" -> (t - u),
      "trace.overhead_pct" -> (if (u > 0) 100 * (t - u) / u else 0.0))
  }
}

/** Thread-safe per-request records of a timed phase. */
final class Records[T] {
  private val q = new ConcurrentLinkedQueue[T]()
  def add(t: T): Unit = q.add(t)
  def all: Seq[T] = q.asScala.toSeq
  def clear(): Unit = q.clear()
}
