package graft

/** Run INDEPENDENT Spark actions concurrently from the driver (guide §2.6:
  * actions are only sequential because driver code calls them sequentially
  * — submitting them from a small pool lets one job's tasks back-fill
  * executors freed by another job's tail, and on small inputs overlaps the
  * fixed per-job planning + scheduling latency, which dominates multi-write
  * pipelines like signature catalogs and IVF index persists).
  *
  * Callers must pass actions with NO data dependency and disjoint output
  * paths. Failures rethrow the original cause after all tasks settle.
  */
object Par {
  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.length <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      // settle every task before rethrowing: a failed sibling must not
      // leave the others still writing when the caller sees the error
      val failures = futs.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}
