package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poison-message quarantine / dead-letter queue (reference E5:
  * internal/publisher/errors.go:13-31, internal/publisher/dlq.go,
  * internal/engine/engine.go:229-351).
  *
  * The reference classifies publish errors as permanent (max payload, bad
  * subject, JetStream 10054) vs transient; permanent failures are routed by
  * policy `dlq|skip|crash` (default dlq, config.go:101). Here the classifier
  * is a column predicate evaluated batch-wide; failed rows become a side
  * DataFrame written to the DLQ sink, successful rows continue — one scan,
  * two outputs, no per-row control flow.
  */
object Dlq {

  /** Failure policies (reference config.go:101). */
  sealed trait Policy
  case object PolicyDlq extends Policy
  case object PolicySkip extends Policy
  case object PolicyCrash extends Policy

  /** Payload prefix cap — 64 KiB in the reference (dlq.go:15). */
  val MaxPayloadPrefix: Int = 64 * 1024

  /** Permanent-error classification for a payload column, mirroring
    * errors.go:13-31: payload over the sink's max size, or an unroutable
    * (empty/invalid) subject. Returns a nullable error-message column —
    * null = publishable.
    */
  def classify(payload: Column, subject: Column, maxPayloadBytes: Long): Column =
    // octet_length, not length: the reference's max-payload limit is BYTES
    // (server-side message cap) — a multi-byte UTF-8 payload can be ~4x
    // over the sink limit while its character count stays under it.
    when(octet_length(payload) > maxPayloadBytes,
        concat(lit("maximum payload exceeded: "), octet_length(payload).cast("string")))
      .when(subject.isNull || subject === "" || subject.contains(" ") ||
            subject.contains("*") || subject.contains(">"),
        lit("invalid subject"))
      .otherwise(lit(null).cast("string"))

  /** Apply the publish-failure policy to a batch
    * (engine.go:229-351, engine_failure_policy_test.go):
    *  - [[PolicyDlq]]: failed rows become dead-letter records (the second
    *    frame) and the batch continues;
    *  - [[PolicySkip]]: failed rows are dropped — the count is surfaced
    *    through `onSkip` (the reference logs + counts them);
    *  - [[PolicyCrash]]: any permanent failure fails the batch — Spark
    *    retries/replays the micro-batch, the analog of the reference's
    *    process exit + WAL replay.
    * Transient failures never reach this path: they stay inside the
    * retry/backoff loop regardless of policy (Reliability.withRetry), so
    * an outage cannot cause skips — the same invariant the reference
    * documents at config.go:50-55.
    */
  def applyPolicy(events: DataFrame, errorCol: Column, payloadCol: Column,
      database: String, policy: Policy, dlqPrefix: String = "dlq",
      onSkip: Long => Unit = _ => ()): (DataFrame, DataFrame) = {
    val (ok, dlq) = quarantine(events, errorCol, payloadCol, database, dlqPrefix)
    policy match {
      case PolicyDlq => (ok, dlq)
      case PolicySkip =>
        onSkip(dlq.count())
        (ok, dlq.limit(0))
      case PolicyCrash =>
        val n = dlq.count()
        if (n > 0) throw new IllegalStateException(
          s"$n events failed with permanent errors under PUBLISH_FAILURE_POLICY=crash")
        (ok, dlq.limit(0))
    }
  }

  /** Split normalized events into (publishable, quarantined) by the given
    * error column; quarantined rows carry the reference's dead-letter
    * fields (dlq.go:19-33): event_id, dlq-routed subject, database,
    * schema, table, operation, lsn, txid, error, payload_size, truncated,
    * payload_prefix (truncated) and quarantined_at.
    */
  def quarantine(events: DataFrame, errorCol: Column, payloadCol: Column,
      database: String, dlqPrefix: String = "dlq"): (DataFrame, DataFrame) = {
    val tagged = events.withColumn("_error", errorCol)
    val ok = tagged.filter(col("_error").isNull).drop("_error")
    val dlq = tagged.filter(col("_error").isNotNull)
      .select(
        col("event_id"),
        Transform.dlqSubject(dlqPrefix, database, col("schema"), col("table")).as("subject"),
        lit(database).as("database"),
        col("schema"), col("table"), col("operation"), col("lsn"), col("txid"),
        col("_error").as("error"),
        octet_length(payloadCol).cast("long").as("payload_size"),
        (octet_length(payloadCol) > MaxPayloadPrefix).as("truncated"),
        // byte-accurate 64 KiB cap (dlq.go:15 truncates bytes): encode ->
        // binary substring -> decode. A multi-byte char split at the
        // boundary decodes to U+FFFD — same data loss the reference's byte
        // slice has.
        decode(substring(encode(payloadCol, "UTF-8"), 1, MaxPayloadPrefix), "UTF-8")
          .as("payload_prefix"),
        current_timestamp().as("quarantined_at"))
    (ok, dlq)
  }
}
