package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Deterministic per-query plan-metric probe: runs each named query
  * through the noop sink and prints jobs / stages / tasks / shuffle
  * read+write bytes / executor CPU / wall — the noise-free evidence
  * backing optimization claims (wall on this throttled VM swings 3-10×;
  * job counts and shuffle bytes do not).
  *
  * Usage: Test/runMain graft.MetricsProbeMain [names] [dataDir] [cpus]
  *   names: comma-separated query subset (default: all)
  */
object MetricsProbeMain {
  def main(args: Array[String]): Unit = {
    val selected = Suite.select(args.lift(0).filter(_.nonEmpty))
    val dataDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Suite.session(args.lift(2).fold(32)(_.toInt))

    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new LongAdder
    val shufRead = new LongAdder
    val shufWrite = new LongAdder
    val cpuNs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.add(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
          cpuNs.add(m.executorCpuTime)
        }
      }
    })

    // warmup so JIT/classloading doesn't land on the first probe
    SparkEntry.queries.get("q_agg_stats").foreach(f =>
      f(spark, dataDir).write.format("noop").mode("overwrite").save())

    selected.foreach { q =>
      jobs.set(0); stages.set(0)
      tasks.reset(); shufRead.reset(); shufWrite.reset(); cpuNs.reset()
      val t0 = System.nanoTime()
      try {
        q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async (no public drain API) — settle briefly
        Thread.sleep(500)
        println(f"${q.name}%-28s jobs=${jobs.get}%-4d stages=${stages.get}%-5d " +
          f"tasks=${tasks.sum}%-6d shufRead=${shufRead.sum / 1024}%-8dK " +
          f"shufWrite=${shufWrite.sum / 1024}%-8dK " +
          f"cpu=${cpuNs.sum / 1e9}%-7.2fs wall=$wall%.2fs")
      } catch {
        case e: Throwable =>
          System.err.println(s"FAILED ${q.name}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
