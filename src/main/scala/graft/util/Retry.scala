package graft.util

import scala.util.control.NonFatal

/** Exponential-backoff retry, the mirror of the reference's standalone
  * util (util/RetryUtil.java:36-59: maxAttempts with initialDelay doubling
  * per attempt). No graft code path calls it; only its specs do.
  * Executor-side task retries are Spark's own. Sleep is injectable so
  * specs don't wait. */
object Retry {
  def withRetry[T](maxAttempts: Int = 3, initialDelayMs: Long = 500,
                   sleep: Long => Unit = Thread.sleep)(op: () => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var delay = initialDelayMs
    var attempt = 1
    while (true) {
      try return op()
      catch {
        case NonFatal(e) =>
          if (attempt >= maxAttempts) throw e
          sleep(delay)
          delay *= 2
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
