package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}

/** Driver-side fan-out of independent blocking calls (Spark actions,
  * parquet footer reads). Each call makes its own pool and shuts it down
  * before returning: the worker threads are then created by the caller,
  * so they inherit its SparkContext local properties (job group,
  * description, scheduler pool), which a long-lived shared pool would
  * not. Results come back in submission order, and a failed call
  * rethrows its own exception, not the pool's `ExecutionException`.
  */
object Parallel {

  /** `xs.map(f)` with at most `threads` calls of `f` running at once.
    * Zero or one element runs on the calling thread.
    */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(threads, xs.size))
      try xs.map(x => submit(pool)(f(x))).map(join)
      finally pool.shutdown()
    }

  /** `(fa, fb)`, the two evaluated concurrently. */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = submit(pool)(fa)
      val b = submit(pool)(fb)
      (join(a), join(b))
    } finally pool.shutdown()
  }

  private def submit[T](pool: ExecutorService)(f: => T): Future[T] =
    pool.submit(new Callable[T] { override def call(): T = f })

  private def join[T](f: Future[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
}
