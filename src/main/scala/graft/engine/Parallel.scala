package graft.engine

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent driver-side work run as concurrent Spark jobs. Spark's
  * scheduler runs several jobs at once, so ingest writes that would
  * otherwise run one after another overlap each job's driver-side
  * planning gap with another's tasks ([[graft.SparkEntry.stage]], and
  * the artifact writes of one segment commit in
  * [[graft.operators.SegmentedIndex]]).
  *
  * Each call runs its pieces on a pool of its own, at most one thread
  * per core (the global `ExecutionContext`'s width), whose threads the
  * calling thread starts. Spark's local properties (job description,
  * scheduler pool) are inheritable thread-locals, so those threads
  * carry the caller's: a job started under [[graft.Run.labelled]]
  * keeps its label, AQE's stage jobs included. The global
  * `ExecutionContext`'s shared threads are started by whichever thread
  * first needed one and inherit nothing, so their jobs showed AQE's
  * call site (`CompletableFuture.java`) instead.
  */
object Parallel {

  /** Runs every piece concurrently and blocks until all finish; the
    * first failure (in argument order) propagates after the pieces
    * before it are done. */
  def all(work: (() => Any)*): Unit = {
    val width = math.max(1, math.min(work.size, Runtime.getRuntime.availableProcessors))
    val pool = Executors.newFixedThreadPool(width, { (r: Runnable) =>
      val t = new Thread(r, "graft-parallel")
      t.setDaemon(true)
      t
    })
    try {
      val ec = ExecutionContext.fromExecutorService(pool)
      work.map(w => Future(w())(ec)).foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }
}
