package graft.streaming

import scala.annotation.tailrec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** Reliability surface: fatal-vs-transient error classification, retry with
  * capped exponential backoff, and the restart policy that
  * [[graft.tools.Main.Running]] supervises with (reference S4/E4:
  * internal/wal/reader.go:233-293, 533-592; internal/engine/engine.go:223-226,
  * 698-704).
  */
object Reliability {

  /** SQLSTATE classes the reference treats as fatal (no reconnect):
    * 28xxx invalid authorization, 42501 insufficient privilege, 42704
    * undefined object (missing replication slot) — reader.go:543-572.
    * Everything else (network drops, timeouts) is transient.
    */
  def isFatalSqlState(sqlState: String): Boolean =
    sqlState != null && (sqlState.startsWith("28") ||
      sqlState == "42501" || sqlState == "42704")

  /** The socket transport renders server ErrorResponses as IOExceptions
    * with a trailing parenthesized SQLSTATE ([[graft.sources.PgWireProtocol
    * .errorString]]) — extract it so those classify like SQLExceptions.
    */
  private val SqlStateSuffix = """.*\(([0-9A-Z]{5})\)\s*$""".r

  /** Spark's refusal to resume a checkpoint whose state schema or set of
    * stateful operators differs from the query's: every restart from
    * that checkpoint fails alike. */
  private val FatalConditions = Set(
    "STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE",
    "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE",
    "STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA")

  def isFatal(e: Throwable): Boolean = e match {
    case s: java.sql.SQLException => isFatalSqlState(s.getSQLState)
    case _: SecurityException => true
    case s: org.apache.spark.SparkThrowable
        if FatalConditions.contains(s.getCondition) => true
    case io: java.io.IOException
        if io.getMessage != null &&
          SqlStateSuffix.pattern.matcher(io.getMessage).matches() =>
      val SqlStateSuffix(st) = io.getMessage
      isFatalSqlState(st) ||
        (io.getCause != null && (io.getCause ne io) && isFatal(io.getCause))
    case _ if e.getCause != null && (e.getCause ne e) => isFatal(e.getCause)
    case _ => false
  }

  /** Exponential backoff 1s·2^(n−1) capped at 8s (engine.go:223-226,
    * 698-704); n is 1-based attempt count.
    */
  def backoffMillis(attempt: Int, baseMillis: Long = 1000L, capMillis: Long = 8000L): Long =
    math.min(capMillis, baseMillis << math.min(attempt - 1, 30))

  /** Reconnect backoff 1s→30s with 50% jitter (reader.go:24, 574-592).
    * Jitter is seeded deterministically per attempt for testability.
    */
  def reconnectBackoffMillis(attempt: Int, seed: Long = 42L): Long = {
    val base = math.min(30000L, 1000L << math.min(attempt - 1, 30))
    val jitter = new java.util.Random(seed + attempt).nextDouble() * 0.5 * base
    base + jitter.toLong
  }

  /** Retry a side-effecting operation with the reference's publish policy:
    * up to maxRetries attempts after the first (MAX_PUBLISH_RETRIES=3,
    * config.go:84), capped exponential backoff, fatal errors never retried.
    */
  @tailrec
  def withRetry[A](maxRetries: Int = 3, attempt: Int = 1,
      sleep: Long => Unit = Thread.sleep,
      onRetry: () => Unit = () => ())(op: () => A): A = {
    val r = try Right(op()) catch { case e: Throwable => Left(e) }
    r match {
      case Right(a) => a
      case Left(e) if attempt > maxRetries || isFatal(e) => throw e
      case Left(_) =>
        onRetry() // publish_retries_total in the reference (engine.go:566)
        sleep(backoffMillis(attempt))
        withRetry(maxRetries, attempt + 1, sleep, onRetry)(op)
    }
  }

  /** Pipeline metrics via StreamingQueryListener (reference M1,
    * internal/metrics/metrics.go): counters for batches/rows, gauge for the
    * last progress timestamp, terminal-state capture for the restart policy.
    * Register with `spark.streams.addListener(listener)`; the same numbers
    * surface in the Spark metrics system / UI in a real deployment.
    *
    * Pass a [[CdcMetrics.Registry]] to additionally publish under the
    * reference's Prometheus metric names (events_total,
    * batches_published_total, batch_latency_microseconds,
    * events_per_second, replication_errors_total) — scrapable via
    * [[HealthServer]]'s /metrics. `ofQuery` picks the queries counted
    * (by id, which a restart from the same checkpoint keeps); the rate
    * gauge follows micro-batches that read rows, so a no-data batch
    * (watermark or timeout housekeeping) does not zero it.
    */
  final class CdcMetricsListener(registry: Option[CdcMetrics.Registry] = None,
      ofQuery: java.util.UUID => Boolean = _ => true)
      extends StreamingQueryListener {
    val batches = new AtomicLong(0)
    val inputRows = new AtomicLong(0)
    val starts = new AtomicLong(0)
    val terminations = new AtomicLong(0)
    val lastError = new AtomicReference[Option[String]](None)

    override def onQueryStarted(event: QueryStartedEvent): Unit =
      if (ofQuery(event.id)) starts.incrementAndGet()
    override def onQueryProgress(event: QueryProgressEvent): Unit =
      if (ofQuery(event.progress.id)) {
        batches.incrementAndGet()
        inputRows.addAndGet(event.progress.numInputRows)
        registry.foreach { r =>
          r.eventsTotal.add(event.progress.numInputRows)
          r.batchesPublished.inc()
          Option(event.progress.durationMs.get("triggerExecution"))
            .foreach(ms => r.batchLatency.observe(ms * 1000L)) // micros
          if (event.progress.numInputRows > 0)
            r.eventsPerSecond.set(event.progress.processedRowsPerSecond.toLong)
        }
      }
    override def onQueryIdle(event: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
      if (ofQuery(event.id)) {
        terminations.incrementAndGet()
        lastError.set(event.exception)
        if (event.exception.isDefined)
          registry.foreach(_.replicationErrors.inc())
      }

    def snapshot: Map[String, Long] = Map(
      "batches" -> batches.get, "input_rows" -> inputRows.get,
      "starts" -> starts.get, "terminations" -> terminations.get)
  }
}
