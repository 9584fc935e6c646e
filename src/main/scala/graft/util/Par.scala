package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.util.{Failure, Success, Try}

/** Runs a command's independent Spark actions side by side, so a chain
  * of small jobs stops leaving all but one core idle.
  *
  *  - One pool per call, one thread per element: callers hand in the
  *    few actions of one command, never a data-sized list.
  *  - The pool's threads are created by the calling thread, so they
  *    inherit its active session and SparkContext local properties
  *    (job group, description) through their inheritable thread locals.
  *  - Every action is awaited and the pool is joined before returning:
  *    no thread or job outlives the call.
  *  - Any failure is rethrown as the original exception (not an
  *    `ExecutionException`); with several, the first in input order
  *    wins, so callers can keep a check precedence.
  */
object Par {

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.isEmpty) Seq.empty
    else {
      // awaitTermination returns once the workers finish their tasks,
      // which can be before their threads have exited: join them too
      val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(xs.size, (r: Runnable) => {
        val t = Executors.defaultThreadFactory().newThread(r)
        threads.add(t)
        t
      })
      val results = try {
        xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
          .map(fu => Try(fu.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        threads.forEach(_.join())
      }
      results.map(_.get)
    }
}
