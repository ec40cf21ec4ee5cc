package graft

/** Bounded-pool driver-side parallelism with cancel-on-failure — the
  * core of queries.TextOps.parSteps (disjoint-table commit overlap).
  * Tasks are independent Spark job chains; jobs submitted from
  * different threads interleave in Spark's scheduler, so a sequential
  * loop would make wall-clock the SUM of per-task latencies. On any
  * task failure the siblings are cancelled and the pool drained
  * before the cause rethrows, so no task outlives the call. Results
  * return in input order (deterministic downstream commits). */
object Par {
  def all[T](maxThreads: Int, tasks: Seq[() => T]): Seq[T] = {
    if (tasks.lengthCompare(1) <= 0) return tasks.map(_.apply())
    // the submitting thread's operation-scoped commit tag rides along
    // to every task: parallel driver steps inside a tagged epoch
    // (parSteps advance commits) must stamp like the serial path
    // would, while the tag stays invisible to any thread outside this
    // call ([[CommitTag]]'s scope contract)
    val tag = CommitTag.get
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(maxThreads, tasks.size))
    var futures: Seq[java.util.concurrent.Future[T]] = Nil
    try {
      futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = CommitTag.run(tag)(t())
        }))
      futures.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } catch {
      case t: Throwable =>
        futures.foreach(_.cancel(true))
        pool.shutdownNow()
        // the cancel path must actually DRAIN before the cause
        // rethrows: callers clean up shared resources (drop sibling
        // tables) right after, and a straggler task outliving this
        // wait could commit after that cleanup. Interrupted Spark job
        // chains can take a while to unwind, so wait up to 300s — but
        // in short polls (awaitTermination returns the moment the
        // pool drains), bailing out early when the active
        // SparkContext is stopped: under a session-shutdown cascade
        // every in-flight Par.all hits this path at once, and with
        // the context dead no straggler can commit through Spark
        // anyway, so paying the full drain wait per call would only
        // stack minutes of teardown latency. If the pool still holds
        // a runaway thread, say so on the rethrown cause (as a
        // suppressed marker) so the caller's cleanup can record what
        // may leak instead of assuming the world is quiet.
        var waitedSec = 0
        var drained = false
        // (conservative when no session is visible from this thread:
        // keep waiting — only a POSITIVELY stopped context cuts the
        // drain short. The bail still grants 15s: a straggler's
        // DRIVER-SIDE work — the catalog's metadata-JSON swap needs
        // no live context — is ms-scale once its Spark jobs have
        // died, so three polls cover the in-flight-commit window the
        // full 300s used to)
        // "alive" = ANY resolvable session has a live context, not
        // just the first one found: in a multi-session JVM the
        // default can still point at a just-stopped session while a
        // live one exists — stragglers scheduled on the live context
        // can still commit, so the drain must keep waiting
        def contextAlive: Boolean = {
          val sessions = Seq(
            org.apache.spark.sql.SparkSession.getActiveSession,
            org.apache.spark.sql.SparkSession.getDefaultSession).flatten
          sessions.isEmpty ||
            sessions.exists(s => !s.sparkContext.isStopped)
        }
        while (!drained && waitedSec < 300 &&
            (waitedSec < 15 || contextAlive)) {
          drained =
            pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
          waitedSec += 5
        }
        if (!drained)
          t.addSuppressed(new IllegalStateException(
            s"Par pool failed to drain within ${waitedSec}s of " +
              "cancellation: a straggler task may still be running and " +
              "can touch shared state after the caller's cleanup"))
        throw t
    } finally pool.shutdown()
  }

  /** True iff `t` carries [[all]]'s failed-drain marker — callers
    * whose failure cleanup releases shared resources check this to
    * record a potential leak instead of cleaning silently under a
    * still-running straggler. */
  def drainFailed(t: Throwable): Boolean =
    t.getSuppressed.exists(s =>
      s.isInstanceOf[IllegalStateException] &&
        s.getMessage != null && s.getMessage.startsWith(
          "Par pool failed to drain"))
}
