package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import scala.concurrent.duration._

/** Independent Dataset constructions (the recall gate's tiers, the
  * capstone's probe legs) built concurrently on a dedicated fixed-size
  * pool, with a bounded wait: a builder that hangs fails the query by
  * name instead of blocking its caller forever. */
private[graft] object ConcurrentBuild {

  /** The longest the caller waits for all builders together. They build
    * models, indexes and plans, which take seconds to minutes at the
    * fixture scales; past this bound a builder is stuck, not slow. */
  val Timeout: FiniteDuration = 30.minutes

  /** Results in builder order; the first failure is rethrown as is. */
  def apply[A](builders: Seq[(String, () => A)]): Seq[A] = {
    val threads = math.max(1,
      math.min(builders.size, Runtime.getRuntime.availableProcessors()))
    val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graft-concurrent-build")
        t.setDaemon(true)
        t
      }
    })
    try {
      val futures = builders.map { case (name, build) =>
        name -> pool.submit(new Callable[A] { def call(): A = build() })
      }
      val deadline = System.nanoTime() + Timeout.toNanos
      futures.map { case (name, f) =>
        try f.get(math.max(0L, deadline - System.nanoTime()), TimeUnit.NANOSECONDS)
        catch {
          case _: TimeoutException => throw new IllegalStateException(
            s"concurrent build '$name' did not finish within $Timeout")
          case e: ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }
}
