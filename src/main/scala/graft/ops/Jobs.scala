package graft.ops

/** Driver-side fan-out for INDEPENDENT Spark actions (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once
  * inside one application — actions are only sequential because the
  * driver calls them sequentially. Operators that must materialize
  * several independent artifacts (the q103 calibration card trains
  * four codebook families; the stored-index writers persist several
  * small artifacts; the pipeline writes a repo's nine artifacts) fan the actions out on a small thread pool so a
  * later job's tasks back-fill executors idled by an earlier job's
  * tail and the driver round-trips overlap. Each thunk must be
  * independent of the others (no shared mutable state, no ordering
  * assumption); determinism of each result is the thunk's own
  * property and is unaffected by concurrency. */
object Jobs {

  /** Run the thunks concurrently on up to `parallelism` driver
    * threads and return their results in input order; any failure
    * rethrows. Degenerate sizes run inline.
    *
    * Failure semantics: the first failing thunk cancels every job the
    * call submitted (each pool thread tags its jobs with a per-call job
    * tag, interrupting on cancel) and `shutdownNow()`s the pool, so
    * sibling Spark actions stop instead of running to completion in the
    * background while the caller unwinds — a failed mutation's staged
    * writes die with it (the staged dirs are cleaned by the families'
    * retire/GC sweeps either way; this just stops burning the cluster
    * on work whose generation will never commit). JobsSpec pins it.
    *
    * A tag, not a job group: pool threads inherit the caller's local
    * properties, so the fan-out jobs keep the caller's job group and
    * description — a caller's `cancelJobGroup` still reaches them, and
    * they are counted and attributed like the caller's other jobs. */
  def par[T](thunks: Seq[() => T], parallelism: Int = 6): Seq[T] =
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft-jobs-par-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, thunks.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          thunks.map(t => scala.concurrent.Future {
            sc.foreach { c =>
              c.addJobTag(tag)
              c.setInterruptOnCancel(true)
            }
            t()
          })),
        scala.concurrent.duration.Duration.Inf)
      catch {
        case e: Throwable =>
          sc.foreach(_.cancelJobsWithTag(tag))
          pool.shutdownNow()
          throw e
      } finally pool.shutdown()
    }

  /** Two-result convenience over [[par]]. */
  def par2[A, B](a: () => A, b: () => B): (A, B) = {
    val rs = par(Seq(() => a(): Any, () => b(): Any))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }
}
