package graft

/** Driver-side fan-out for INDEPENDENT store mutations (guide §2.6:
  * "Overlap independent jobs" — Spark's scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because driver code calls them sequentially). The composed fan-out
  * sinks advance 5-7 standing stores per micro-batch, and the composed
  * maintenance pass (Streams.fanoutVacuum) vacuums and compacts them,
  * each a short chain of small actions against ITS OWN directory; running
  * them from a thread each lets the next surface's tasks back-fill the
  * cores the previous surface's tail leaves idle, instead of paying
  * ~40 fixed per-action overheads end to end. Semantics are unchanged:
  * the surfaces already tolerate ANY completion subset (each store's
  * sink is idempotent and a crash mid-fan-out redelivers — the
  * convergence argument in Streams.fanoutIngestBatch's scaladoc never
  * assumed an ordering), the writer leases are per-store, and the
  * returned counts are per-surface values independent of schedule.
  *
  * Every thunk runs to completion (no cancellation — a half-cancelled
  * store mutation is exactly the crash case, safe but noisy); the
  * FIRST failure by input order is rethrown after all thunks settle,
  * so a caller observes the same exception a sequential loop would
  * have surfaced, with every other surface either advanced or cleanly
  * finished rather than interrupted.
  */
object Par {
  def run[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = t()
          })
        }
        val settled: Seq[Either[Throwable, T]] = futs.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(Option(e.getCause).getOrElse(e))
          }
        }
        settled.collectFirst { case Left(e) => e }.foreach(e => throw e)
        settled.collect { case Right(v) => v }
      } finally { pool.shutdown(); () }
    }

  /** Two-result convenience overload, preserving static types. */
  def run2[A, B](a: => A, b: => B): (A, B) = {
    val rs = run(Seq(() => (a: Any), () => (b: Any)))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }
}
