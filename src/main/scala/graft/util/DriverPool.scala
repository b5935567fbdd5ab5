package graft.util

import java.util.concurrent.{Callable, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The driver's one thread pool, for waves of independent blocking
  * calls: a write's staged-file moves and footer reads, a listing's
  * per-directory walks, a warehouse op's constraint probes. At most
  * [[size]] daemon threads, started on demand and then kept: an idle
  * thread that exited could still be alive when its replacement
  * starts, one over the bound.
  *
  * The bound cannot deadlock because no pooled call waits on another:
  * a wave started FROM a pool thread runs inline on it, so a nested
  * wave degrades to sequential instead of queueing behind its caller.
  */
private[graft] object DriverPool {

  /** 2 × cores, never under the 16 lanes the I/O-bound file moves and
    * listings had when each call built its own pool.
    */
  val size: Int = math.max(16, 2 * graft.GraftSession.cpus)

  private final class Worker(r: Runnable, n: Int)
      extends Thread(r, s"graft-driver-$n") { setDaemon(true) }

  private val pool = {
    val n = new AtomicInteger
    new ThreadPoolExecutor(size, size, 0L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => new Worker(r, n.incrementAndGet()))
  }

  /** `f` over every element, concurrently; results in input order.
    * Every call runs to completion, then the FIRST failure in input
    * order is rethrown — what a sequential loop would surface, whatever
    * order the calls finished in.
    */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    def attempt(x: A): Either[Throwable, B] =
      try Right(f(x)) catch { case t: Throwable => Left(t) }
    val results =
      if (xs.sizeIs <= 1 || Thread.currentThread.isInstanceOf[Worker])
        xs.map(attempt)
      else xs.map(x => pool.submit(new Callable[Either[Throwable, B]] {
        override def call(): Either[Throwable, B] = attempt(x)
      })).map(_.get())
    results.map(_.fold(throw _, identity))
  }
}
