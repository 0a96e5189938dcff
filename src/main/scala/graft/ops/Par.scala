package graft.ops

/** Overlap INDEPENDENT Spark jobs from the driver (guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. A query composed of independent legs (three table
  * formats, three index structures) leaves most of the cluster idle
  * during each leg's planning/commit/straggler tail; submitting the
  * legs from a small pool back-fills those gaps.
  *
  * A FRESH pool per call, created on the calling thread: Spark's job
  * group / description / scheduler-pool live in SparkContext local
  * properties backed by an InheritableThreadLocal, so threads spawned
  * here inherit them — Bench's runCapped group cancellation still
  * reaches every job these thunks submit. Failures propagate as they
  * would sequentially, but only once EVERY leg has finished — a leg may
  * be mid-commit, so none is interrupted: the first failure in
  * submission order is rethrown, the others ride along as suppressed. */
object Par {
  def run[T](thunks: Seq[() => T], maxThreads: Int = 4): Seq[T] = {
    if (thunks.size <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, maxThreads))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        })
      }
      // .get() in submission order: deterministic result order, and an
      // ExecutionException surfaces the leg's own failure
      val outcomes = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
      // every leg has finished unless the CALLER was interrupted while
      // waiting; only then does this interrupt the legs still running
    } finally pool.shutdownNow()
  }
}
