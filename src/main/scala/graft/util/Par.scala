package graft.util

/**
 * Driver-side concurrency for INDEPENDENT Spark actions: jobs launched
 * from separate threads share the session's scheduler, so a sequence
 * of small metadata/commit/probe jobs collapses to its slowest member
 * instead of paying per-job latency serially — the machinery-probe
 * discipline every multi-leg verb and fsck battery uses. Not for
 * dependent work: the thunks must not rely on each other's effects.
 *
 * Two failure-mode guarantees (both matter to MUTATING callers, e.g.
 * the fsck fixtures' parallel ingests):
 *  - `par` returns/throws only after EVERY thunk has finished — a
 *    failing sibling never leaves background writers still committing
 *    when control returns; the FIRST failure (in argument order) is
 *    rethrown after the join.
 *  - the pool is a dedicated bounded ForkJoinPool (parallelism 32,
 *    hard thread cap 256, saturate-instead-of-reject) — nested
 *    par calls' `Await` still gets ForkJoin managed-blocking
 *    compensation up to the cap, but can no longer grow the global
 *    pool's compensation threads without bound.
 *
 * Each thunk runs under the caller's Spark job properties (job group,
 * tags, SQL execution), so its jobs cancel and count with the caller's.
 */
object Par {
  import java.util.concurrent.{ForkJoinPool, TimeUnit}
  import org.apache.spark.sql.graftbridge.GraftLocalProps
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration.Duration
  import scala.util.{Failure, Try}

  private val pool = new ForkJoinPool(
    32, ForkJoinPool.defaultForkJoinWorkerThreadFactory,
    null /* default uncaught handler */, true /* asyncMode */,
    32 /* corePoolSize */, 256 /* maximumPoolSize */,
    1 /* minimumRunnable */, _ => true /* saturate: block, don't throw */,
    60L, TimeUnit.SECONDS)
  private val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def par[T](fs: Seq[() => T]): Seq[T] = {
    implicit val e: ExecutionContext = ec
    val props = GraftLocalProps.capture()
    // Try-wrapped so Future.sequence cannot short-circuit: the await
    // completes only when ALL thunks have run to completion
    val done = Await.result(Future.sequence(
      fs.map(f => Future(Try(GraftLocalProps.runWith(props)(f()))))), Duration.Inf)
    done.collectFirst { case Failure(err) => err }.foreach(throw _)
    done.map(_.get)
  }
}
