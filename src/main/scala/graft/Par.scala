package graft

import org.apache.spark.sql.DataFrame

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

  /** Write a persisted artifact under `path` whose one-row `params` table
    * is its commit marker: delete the marker, write each (subdirectory,
    * frame) table — concurrently, via [[run]] — and write `params` LAST.
    * A build that dies midway, a rebuild over an existing artifact
    * included, leaves no marker, so no reader ever keys new tables with
    * old parameters or old tables with new ones (a signature catalog
    * banded another way, a cover index at another resolution). */
  private[graft] def commit(path: String, params: DataFrame, tables: (String, DataFrame)*): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/params")
    marker.getFileSystem(params.sparkSession.sparkContext.hadoopConfiguration).delete(marker, true)
    run(tables.map { case (sub, t) => () => t.write.mode("overwrite").parquet(s"$path/$sub") }: _*)
    params.coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }
}
