package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One span: a call into a layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, req: Int,
    startMs: Double, endMs: Double)

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var cpuNs = 0L; var inRows = 0L; var inBytes = 0L
}

/** In-memory span recorder plus a Spark listener that attributes jobs,
  * tasks, shuffle, spill, CPU and input metrics to the span whose id the
  * calling thread carries in the `perfbench.span` local property. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val extras = mutable.Map.empty[(Int, String), Double]
  private var nextId = 1
  private var current = 0
  private var currentReq = 0
  sc.addSparkListener(this)

  /** A root span for request `req`. */
  def request[T](req: Int)(body: => T): T = {
    currentReq = req
    span("request")(body)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = current
    current = id
    sc.setLocalProperty(Key, id.toString)
    val start = Clock.nowMs()
    try body
    finally {
      val end = Clock.nowMs()
      spans += Span(id, name, parent, currentReq, start, end)
      current = parent
      sc.setLocalProperty(Key, if (parent == 0) null else parent.toString)
    }
  }

  /** Attach a counted value to the current request. */
  def note(key: String, value: Double): Unit = {
    val k = (currentReq, key)
    extras(k) = extras.getOrElse(k, 0.0) + value
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    sid.foreach { s =>
      val id = s.toInt
      val c = counters.computeIfAbsent(id, _ => new Counters)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (id != 0 && m != null) {
      val c = counters.computeIfAbsent(id, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inRows += m.inputMetrics.recordsRead
        c.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Wait for every listener event, then detach. */
  def finish(): Unit = {
    BenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(this)
    sc.setLocalProperty(Key, null)
  }

  private def countersOf(id: Int): Counters =
    Option(counters.get(id)).getOrElse(new Counters)

  /** Self time: duration minus the union of the children's intervals
    * (children of one span never overlap: calls are sequential). */
  private def selfMs(s: Span, children: Map[Int, Seq[Span]]): Double =
    (s.endMs - s.startMs) -
      children.getOrElse(s.id, Nil).map(c => c.endMs - c.startMs).sum

  /** Span file: one JSON object per line. */
  def write(path: Path): Unit = {
    val children = spans.toSeq.groupBy(_.parent)
    val lines = spans.sortBy(_.id).map { s =>
      val c = countersOf(s.id)
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "req": ${s.req}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, """ +
        f""""self_ms": ${selfMs(s, children)}%.3f, "jobs": ${c.jobs}, "tasks": ${c.tasks}, """ +
        f""""cpu_ms": ${c.cpuNs / 1e6}%.3f, "shuffle_bytes": ${c.shuffleBytes}, """ +
        f""""spill_bytes": ${c.spillBytes}, "input_rows": ${c.inRows}, "input_bytes": ${c.inBytes}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** Per-request values of every span-derived per-layer metric. A
    * request contributes to a metric only if it crossed that layer. */
  def perRequest(): Map[Int, Map[String, Double]] = {
    val byReq = spans.filter(_.name != "request").groupBy(_.req)
    byReq.map { case (req, ss) =>
      val m = mutable.Map.empty[String, Double]
      def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
      ss.foreach { s =>
        add(s.name + "_ms", s.endMs - s.startMs)
        val layer = s.name.takeWhile(_ != '.')
        val c = countersOf(s.id)
        add(s"$layer.jobs", c.jobs.toDouble)
        add(s"$layer.tasks", c.tasks.toDouble)
        add(s"$layer.shuffle_bytes", c.shuffleBytes.toDouble)
        add(s"$layer.spill_bytes", c.spillBytes.toDouble)
        add(s"$layer.cpu_ms", c.cpuNs / 1e6)
        add(s"$layer.input_rows", c.inRows.toDouble)
        add(s"$layer.input_bytes", c.inBytes.toDouble)
      }
      extras.collect { case ((r, k), v) if r == req => add(k, v) }
      // derived ratios
      for (rows <- m.get("sources.rows_in_range"); read <- m.get("sources.input_rows"))
        if (read > 0) m("sources.scan_yield") = rows / read
      for (rows <- m.get("sources.rows_in_range"); b <- m.get("times.buckets"))
        if (b > 0) m("times.rows_per_bucket") = rows / b
      for (v <- m.get("dedup.verified_pairs"); c <- m.get("dedup.candidate_pairs"))
        if (c > 0) m("dedup.verify_yield") = v / c
      req -> m.toMap
    }
  }

  /** Root-span duration of every request, in request order. */
  def requestMs(): Seq[(Int, Double)] =
    spans.filter(_.name == "request").sortBy(_.req).map(s => s.req -> (s.endMs - s.startMs)).toSeq
}

object Tracer {
  /** The per-layer metrics every driven workload's traced run crosses,
    * in report order (BENCHMARK.json `per_layer`). */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_points_ms" -> "ms", "sources.input_rows" -> "count",
    "sources.input_bytes" -> "bytes", "sources.scan_yield" -> "ratio",
    "sources.files" -> "count", "sources.bytes_per_point" -> "bytes",
    "times.build_ms" -> "ms", "times.plan_ms" -> "ms", "times.exec_ms" -> "ms",
    "times.jobs" -> "count", "times.tasks" -> "count",
    "times.shuffle_bytes" -> "bytes", "times.cpu_ms" -> "ms",
    "times.rows_per_bucket" -> "count",
    "ml.predict_ms" -> "ms", "ml.scan_ms" -> "ms", "ml.jobs" -> "count",
    "ml.cpu_ms" -> "ms", "io.model_load_ms" -> "ms", "spark.gc_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** Medians over the requests that define each metric. Returns the
    * `PerLayer` metrics (a layer the workload never crosses reads 0) and
    * every metric the run measured, for the detail line. `extra`
    * supplies values measured outside spans (HTTP job timings, GC,
    * tracing overhead). */
  def report(perReq: Iterable[Map[String, Double]], extra: Map[String, Double])
      : (Seq[(String, Double, String)], Seq[(String, Double)]) = {
    val names = (perReq.flatMap(_.keys) ++ extra.keys).toSeq.distinct.sorted
    val all = names.map { n =>
      n -> extra.getOrElse(n, Pct.median(perReq.flatMap(_.get(n))))
    }
    val m = all.toMap
    (PerLayer.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }, all)
  }
}
