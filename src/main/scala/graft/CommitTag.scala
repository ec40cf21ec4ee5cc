package graft

/** OPERATION-scoped commit tagging — the idempotence marker behind the
  * streaming ingest twins' exactly-once-per-table epochs.
  *
  * While a tag is active, every lake commit the wrapped operation
  * makes is stamped with `graft.commit.tag` in its snapshot summary
  * (the catalog's `stampCommitTag` hook — Iceberg exposes the same
  * capability as commit-time snapshot summary properties), readable
  * back through the `.snapshots` metadata table. The epoch replay
  * guard (TextOps.epochCommittedOnMain) checks it for per-table exactly-once
  * under foreachBatch's at-least-once delivery.
  *
  * Scope: the tag lives in a THREAD-LOCAL, not the session conf, so
  * it binds to exactly the operation that set it — a concurrent
  * unrelated writer on the SAME SparkSession (another thread mid-
  * epoch) can never inherit the tag, be stamped, and then be silently
  * skipped as a "replay". [[Par.all]] propagates the submitting
  * thread's tag to its worker threads, so the epoch body's
  * parallel-driver-step commits (parSteps) stay inside the
  * scope while anything else on the pool's threads stays outside.
  * Soundness rests on Spark executing a v2 write's driver-side commit
  * on the thread that runs the write action — pinned by
  * ConcurrencySuite's racing-writers spec.
  *
  * The session conf `spark.graft.commit.tag` remains supported as the
  * public SESSION-scoped opt-in (a session that sets it stamps every
  * commit until unset); when both are present the operation scope
  * wins. With neither set, snapshot summaries are byte-identical to
  * an untagged engine.
  */
object CommitTag {

  private val tl = new ThreadLocal[String]

  /** The calling thread's active operation tag, if any. */
  def get: Option[String] = Option(tl.get()).filter(_.nonEmpty)

  /** Run `f` with `tag` active on THIS thread (restored after).
    * None = no scope change, so callers thread an optional tag
    * through without branching. */
  def run[T](tag: Option[String])(f: => T): T = tag match {
    case None => f
    case Some(t) =>
      val prev = tl.get()
      tl.set(t)
      try f
      finally if (prev == null) tl.remove() else tl.set(prev)
  }
}
