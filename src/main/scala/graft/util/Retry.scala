package graft.util

import scala.util.control.NonFatal

/** I1 — retry with backoff (src/lib/retry.ts):
  *  - 429: honor `retry-after` (seconds or HTTP-date), else exponential
  *    backoff capped at maxDelayMs;
  *  - 5xx: exponential backoff + jitter ≤ 200 ms;
  *  - other 4xx / non-HTTP errors: fail fast;
  *  - at most maxRetries retries.
  */
object Retry {

  /** An error with HTTP-ish status + headers (client faults map here). */
  case class HttpError(status: Int, message: String,
                       headers: Map[String, String] = Map.empty)
    extends RuntimeException(message)

  /** retryAfterCapMs: optional ceiling on an honored `retry-after`
    * (the reference honors the header verbatim, retry.ts:61-63 — the
    * default None preserves that parity; production paths set a cap so
    * one bad header can't stall a single-threaded pull for days). */
  case class RetryOptions(maxRetries: Int, baseDelayMs: Long = 500L,
                          maxDelayMs: Long = 10000L,
                          retryAfterCapMs: Option[Long] = None)

  case class RetryDecision(shouldRetry: Boolean, delayMs: Long)

  def parseRetryAfterMs(header: Option[String], nowMs: Long): Option[Long] =
    header.flatMap { h =>
      h.toDoubleOption match {
        case Some(secs) => Some(math.max(0L, math.round(secs * 1000)))
        case None =>
          try Some(math.max(0L,
            java.time.ZonedDateTime.parse(h,
              java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
              .toInstant.toEpochMilli - nowMs))
          catch { case _: Exception => None }
      }
    }

  def defaultDecision(error: Throwable, attempt: Int, options: RetryOptions,
                      nowMs: Long, jitter: () => Long): RetryDecision = error match {
    case HttpError(429, _, headers) =>
      val ra = parseRetryAfterMs(
        headers.collectFirst { case (k, v) if k.equalsIgnoreCase("retry-after") => v },
        nowMs)
      ra match {
        case Some(ms) => RetryDecision(shouldRetry = true,
          options.retryAfterCapMs.fold(ms)(math.min(ms, _)))
        case None => RetryDecision(shouldRetry = true,
          math.min(options.baseDelayMs * (1L << attempt), options.maxDelayMs))
      }
    case HttpError(s, _, _) if s >= 500 && s <= 599 =>
      RetryDecision(shouldRetry = true,
        math.min(options.baseDelayMs * (1L << attempt), options.maxDelayMs) + jitter())
    case _ => RetryDecision(shouldRetry = false, 0L)
  }

  /** Run `op` with retries; clock injectable for deterministic tests.
    * Only non-fatal errors are considered for a retry: a fatal one (a
    * VirtualMachineError such as OutOfMemoryError, a LinkageError, or an
    * interrupt) propagates at once, without a decision or a sleep. */
  def retry[T](options: RetryOptions, clock: Clock = SystemClock,
               jitter: () => Long = () => scala.util.Random.nextInt(201).toLong)
              (op: () => T): T = {
    var attempt = 0
    while (true) {
      try return op()
      catch {
        case NonFatal(e) =>
          if (attempt >= options.maxRetries) throw e
          val d = defaultDecision(e, attempt, options, clock.nowMs(), jitter)
          if (!d.shouldRetry) throw e
          clock.sleep(d.delayMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
