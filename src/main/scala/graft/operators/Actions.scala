package graft.operators

/** Run INDEPENDENT Spark actions concurrently from driver threads —
  * guide §2.6 "overlap independent jobs": the scheduler happily runs
  * several jobs at once inside one application; actions are only
  * sequential because driver code calls them sequentially. The index
  * journeys (BM25 / ANN build + update) write 2-3 artifacts that all
  * derive from one persisted frame and do not read each other, so
  * their wall cost is max(writes), not sum(writes) — task back-fill
  * keeps the executor pool busy through each write's straggler tail.
  *
  * Crash-contract note (why overlapping is sound for the journeys):
  * the completion marker is deleted BEFORE the first overlapped write
  * starts and rewritten only after ALL of them succeed, so every crash
  * window — including a window where one write finished and a
  * concurrent sibling did not — leaves a marker-less, visibly
  * incomplete artifact set, exactly like the sequential order. Ordering
  * between the writes was never load-bearing; only the
  * materialize-before-overwrite and everything-before-marker barriers
  * are, and both stay.
  *
  * Concurrent first-use of a shared persisted frame is safe: Spark's
  * CacheManager computes each partition once under a per-partition
  * lock; concurrent readers block on the computing thread rather than
  * duplicating work.
  *
  * Failure semantics: waits for every task to settle, then rethrows
  * the FIRST failure with later failures attached as suppressed (a
  * concurrent sibling may have completed its write — harmless, the
  * marker is never written on any failure). An interrupt of the
  * calling thread interrupts the running tasks and waits up to
  * [[DrainSeconds]] for them to stop, so the caller's cleanup (unpersist,
  * marker deletion) does not run beside a task's driver thread; it then
  * rethrows with the interrupt status restored and any failure already
  * recorded attached as suppressed. The interrupt does not cancel Spark
  * jobs a task already submitted. */
private[graft] object Actions {
  private val DrainSeconds = 60L

  def inParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        })
      }
      var firstFailure: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: InterruptedException =>
            if (firstFailure != null) e.addSuppressed(firstFailure)
            pool.shutdownNow()
            try pool.awaitTermination(DrainSeconds,
              java.util.concurrent.TimeUnit.SECONDS)
            catch { case _: InterruptedException => () }
            Thread.currentThread().interrupt()
            throw e
          case e: java.util.concurrent.ExecutionException =>
            val cause = if (e.getCause != null) e.getCause else e
            if (firstFailure == null) firstFailure = cause
            else firstFailure.addSuppressed(cause)
          case e: Throwable =>
            if (firstFailure == null) firstFailure = e
            else firstFailure.addSuppressed(e)
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }
}
