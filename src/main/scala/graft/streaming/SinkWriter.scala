package graft.streaming

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** One message bound for the broker (reference `publisher.PublishItem`,
  * internal/publisher/publisher.go): subject-routed, carrying the
  * deterministic event id (the broker's dedup key — Nats-Msg-Id in the
  * reference) and the numeric WAL position for ack-ledger checkpointing.
  */
final case class PublishItem(subject: String, eventId: String,
    payload: String, position: Long)

/** Per-batch publish outcome (reference `publisher.BatchResult`,
  * jetstream.go:404-457): `lastSuccessPosition` is the CONTIGUOUS-from-
  * the-start high-water mark (jetstream.go:459-474) — checkpointing past a
  * failed item would silently skip it on restart, so gaps never advance
  * the position.
  */
final case class PublishBatchResult(total: Int, succeeded: Int, failed: Int,
    failedItems: Seq[Int], quarantined: Seq[Int],
    lastSuccessPosition: Option[Long], firstError: Option[Throwable]) {
  def isComplete: Boolean = failed == 0
}

/** An error that can never succeed on retry — the reference's
  * IsPermanentPublishError classes (errors.go:14-31: payload exceeds the
  * broker max, malformed subject). Retrying poison burns the retry budget
  * without progress; the failure policy (DLQ/skip/crash) decides instead.
  */
class PermanentPublishException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** WRITER-level permanence, not ITEM-level poison: a transactional writer
  * was fenced by a newer incarnation of its transactional id (task retry /
  * failover took over). Every remaining item is healthy — the successor
  * publishes them — so the publish loops must fail the task immediately
  * and must NEVER consult the quarantine policy: under PolicyDlq a fenced
  * zombie would otherwise DLQ-record the rest of its batch (a side effect
  * OUTSIDE the aborted transaction) even though the items are fine.
  */
class FencedWriterException(msg: String, cause: Throwable = null)
    extends PermanentPublishException(msg, cause)

/** Broker-facing sink seam (reference E6, the JetStream publisher,
  * internal/publisher/jetstream.go:316-433). `publish` sends one item and
  * awaits its broker ack — the reference publishes async and awaits the
  * PubAckFuture per item; awaiting one-at-a-time IS its ordered mode
  * (engine.go:444-447). Failure contract: throw
  * [[PermanentPublishException]] for never-succeeds errors; any other
  * exception is transient and retried with capped backoff.
  *
  * Implementations: [[ParquetSinkWriter]] (the sandbox deployment),
  * MockBrokerSinkWriter in StreamingSpec (ack-failure matrix), and the
  * seam a real JetStream/Kafka client plugs into — constructed per
  * executor partition via a factory because broker connections do not
  * serialize.
  */
trait SinkWriter extends Serializable {
  def publish(item: PublishItem): Unit

  /** Publish many items, implementation-grouped (a broker writer groups
    * by destination partition into multi-record batches — one RPC per
    * GROUP instead of per item, the unordered mode's throughput shape).
    * Contract: return = every item acked; throw = unknown subset landed,
    * and the caller re-drives per item (safe under at-least-once — the
    * broker dedups retries on sequence/event-id). Default: per-item loop.
    */
  def publishAll(items: Seq[PublishItem]): Unit = items.foreach(publish)

  /** True when [[publishAll]] actually batches (one RPC per group).
    * Gates the unordered loop's batched fast path: for per-item writers
    * the pre-pass would only add double-publish exposure with no RPC
    * saving.
    */
  def batches: Boolean = false

  /** End-of-partition SUCCESS hook: a transactional writer atomically
    * commits everything published since construction (one control-marker
    * write flips the whole partition's publish for read_committed
    * consumers); non-transactional writers no-op. Called by
    * [[SinkPublisher.writeBatchVia]] only after the partition's publish
    * loop completed without error — [[close]] still runs either way and
    * must roll back anything uncommitted.
    */
  def commit(): Unit = ()

  /** Flush/close any buffered broker state at end of partition. */
  def close(): Unit = ()
}

/** The publish loops of the reference engine re-expressed over a
  * [[SinkWriter]] (internal/engine/engine.go:436-530 ordered,
  * 539-661 unordered).
  */
object SinkPublisher {

  /** Ordered publish-with-retry over one (subject-partitioned, commit-
    * order-sorted) iterator: one item at a time, its ack awaited before
    * advancing — later items are never committed before earlier ones
    * (engine.go:444-447). Transient failures retry up to `maxRetries`
    * with capped exponential backoff; permanent failures go to
    * `quarantine` when set (the reference's dlq/skip policy,
    * engine.go:228-260) and count as handled, else the batch stops at the
    * failed item (fail-fast: nothing later publishes out of order).
    */
  def publishOrdered(items: Iterator[PublishItem], writer: SinkWriter,
      maxRetries: Int = 3,
      sleep: Long => Unit = Thread.sleep,
      onRetry: () => Unit = () => (),
      quarantine: Option[(PublishItem, Throwable) => Unit] = None): PublishBatchResult = {
    val buf = items.toVector
    val acked = Array.fill(buf.size)(false)
    val quarantined = ArrayBuffer[Int]()
    var firstError: Option[Throwable] = None
    var stopped = false
    var i = 0
    while (i < buf.size && !stopped) {
      val item = buf(i)
      var attempt = 0
      var lastErr: Throwable = null
      var permanent = false
      var fenced = false
      var done = false
      while (!done && attempt <= maxRetries) {
        if (attempt > 0) { onRetry(); sleep(Reliability.backoffMillis(attempt)) }
        try { writer.publish(item); acked(i) = true; done = true }
        catch {
          case e: FencedWriterException =>
            lastErr = e; fenced = true; done = true
          case e: PermanentPublishException =>
            lastErr = e; permanent = true; done = true
          case e: Throwable =>
            lastErr = e; attempt += 1
        }
      }
      if (!acked(i)) {
        // fencing fails the whole task unquarantined (see
        // FencedWriterException — the items belong to the successor)
        (if (permanent && !fenced) quarantine else None) match {
          case Some(q) =>
            try { q(item, lastErr); quarantined += i; acked(i) = true }
            catch { case qe: Throwable =>
              firstError = Some(new RuntimeException(
                s"quarantine after permanent failure: ${lastErr.getMessage}", qe))
              stopped = true }
          case None =>
            firstError = Some(lastErr); stopped = true
        }
      }
      i += 1
    }
    result(buf, acked, quarantined.toSeq, firstError)
  }

  /** Unordered publish-with-retry (reference E3, engine.go:539-661): every
    * item publishes each round, and only the FAILED items are retried in
    * the next round — later events can commit before earlier failed ones,
    * which is exactly the documented trade-off of
    * UNSAFE_UNORDERED_ASYNC_PUBLISH.
    */
  def publishUnordered(items: Iterator[PublishItem], writer: SinkWriter,
      maxRetries: Int = 3,
      sleep: Long => Unit = Thread.sleep,
      onRetry: () => Unit = () => (),
      quarantine: Option[(PublishItem, Throwable) => Unit] = None): PublishBatchResult = {
    val buf = items.toVector
    val acked = Array.fill(buf.size)(false)
    val quarantined = ArrayBuffer[Int]()
    var firstError: Option[Throwable] = None // unrecoverable failures only
    var lastTransient: Throwable = null
    var fenced = false // writer-level: stop everything, quarantine nothing
    var pending = buf.indices.toVector
    // batching writers take the whole buffer in one grouped publishAll
    // first — one RPC per destination partition instead of per item. A
    // throw means an unknown subset landed: the per-item rounds below
    // re-drive everything unacked, which the broker dedups (idempotent
    // sequences within this writer, event-id across writers).
    if (writer.batches && pending.nonEmpty) {
      try {
        writer.publishAll(pending.map(buf(_)))
        pending.foreach(acked(_) = true)
        pending = Vector.empty
      } catch {
        case e: FencedWriterException => fenced = true; firstError = Some(e)
        case e: Throwable => lastTransient = e
      }
    }
    var round = 0
    while (pending.nonEmpty && round <= maxRetries && !fenced) {
      if (round > 0) { onRetry(); sleep(Reliability.backoffMillis(round)) }
      val stillFailed = ArrayBuffer[Int]()
      pending.foreach { idx =>
        if (fenced) { stillFailed += idx } else
        try { writer.publish(buf(idx)); acked(idx) = true }
        catch {
          case e: FencedWriterException =>
            // a newer incarnation owns the id: every subsequent publish
            // from this writer is fenced too — fail the task, never DLQ
            fenced = true
            if (firstError.isEmpty) firstError = Some(e)
            stillFailed += idx
          case e: PermanentPublishException =>
            quarantine match {
              case Some(q) =>
                try { q(buf(idx), e); quarantined += idx; acked(idx) = true }
                catch { case qe: Throwable =>
                  if (firstError.isEmpty) firstError = Some(qe) }
              case None => if (firstError.isEmpty) firstError = Some(e)
            }
          case e: Throwable => stillFailed += idx; lastTransient = e
        }
      }
      pending = stillFailed.toVector
      round += 1
    }
    if (pending.nonEmpty && firstError.isEmpty)
      firstError = Option(lastTransient) // retry budget exhausted
    result(buf, acked, quarantined.toSeq, firstError)
  }

  /** Map the reference's failure policy (engine_failure_policy_test.go) to
    * a quarantine handler: `crash` = None (a poison message fails the
    * batch), `skip` = handled-but-unrecorded, `dlq` = recorded via
    * `record`. ONLY permanent failures consult the policy — transient
    * exhaustion fails the batch under every policy (the reference's
    * TransientExhaustionStillFailsUnderDLQPolicy).
    */
  def quarantineFor(policy: graft.cdc.Dlq.Policy,
      record: (PublishItem, Throwable) => Unit): Option[(PublishItem, Throwable) => Unit] =
    policy match {
      case graft.cdc.Dlq.PolicyCrash => None
      case graft.cdc.Dlq.PolicySkip => Some((_, _) => ())
      case graft.cdc.Dlq.PolicyDlq => Some(record)
    }

  private def result(buf: Vector[PublishItem], acked: Array[Boolean],
      quarantined: Seq[Int], firstError: Option[Throwable]): PublishBatchResult = {
    // contiguity is POSITIONAL, not iteration-order: a partition holds
    // several subjects back-to-back, so the first unacked item need not
    // precede later-iterated-but-earlier-positioned items. The safe
    // checkpoint is the largest P with every item at position <= P acked —
    // STRICTLY below the minimum unacked position, so an acked item tying
    // an unacked one at the same position can never advance the mark past
    // the failure.
    val unackedMin = buf.indices.filterNot(acked(_)).map(buf(_).position)
      .minOption
    val lastSuccess = buf.indices.filter(acked(_)).map(buf(_).position)
      .filter(p => unackedMin.forall(p < _)).maxOption
    PublishBatchResult(
      total = buf.size,
      succeeded = acked.count(identity),
      failed = acked.count(!_),
      failedItems = buf.indices.filterNot(acked),
      quarantined = quarantined,
      lastSuccessPosition = lastSuccess,
      firstError = firstError)
  }

  /** What one batch published: the items acked or quarantined, and the
    * publish loops' retries. Summed over partitions on the driver.
    */
  final case class Published(items: Long, retries: Long)

  /** foreachBatch adapter: repartition by subject, sort each partition in
    * commit order (numeric LSN + seq — the OrderedSink ordering), serialize
    * the envelope, and run the ordered publish loop per partition on the
    * executors. `writerFactory` runs ON the executor (broker clients do
    * not serialize). A partition whose result carries an error throws —
    * Spark retries the task, and at-least-once redelivery is safe because
    * the broker dedups on eventId (Nats-Msg-Id, reference E7). Each
    * partition returns what it published, so the counts add no job.
    */
  def writeBatchVia(batch: DataFrame, writerFactory: () => SinkWriter,
      maxRetries: Int = 3, numPartitions: Int = 0, ordered: Boolean = true,
      quarantine: Option[(PublishItem, Throwable) => Unit] = None,
      sleep: Long => Unit = Thread.sleep): Published = {
    val envelope = OrderedSink.inCommitOrder(batch, numPartitions)
      .select(col("subject"), col("event_id"),
        graft.cdc.Transform.envelopeJson(batch).as("payload"),
        OrderedSink.lsnNumeric(col("lsn")).as("position"))
    val perPartition = OrderedSink.eachPartition(envelope, "graft publish") { (_, rows) =>
      def str(r: InternalRow, i: Int) =
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString
      val writer = writerFactory()
      var retries = 0L
      try {
        val items = rows.map(r => PublishItem(str(r, 0), str(r, 1), str(r, 2), r.getLong(3)))
        val res =
          if (ordered) publishOrdered(items, writer, maxRetries, sleep, () => retries += 1, quarantine)
          else publishUnordered(items, writer, maxRetries, sleep, () => retries += 1, quarantine)
        res.firstError.foreach(e => throw new RuntimeException(
          s"publish failed at ${res.succeeded}/${res.total} " +
            s"(lastSuccessPosition=${res.lastSuccessPosition})", e))
        writer.commit() // transactional writers flip the partition atomically
        Published(res.succeeded.toLong, retries)
      } finally writer.close()
    }
    Published(perPartition.map(_.items).sum, perPartition.map(_.retries).sum)
  }
}

/** The sandbox deployment of [[SinkWriter]] semantics is the parquet
  * `batch_id=` sink ([[OrderedSink]]); this adapter exists so tests and a
  * future broker deployment drive the SAME publish loop — it appends each
  * acked payload to a per-partition buffer and "acks" unconditionally.
  * Used by contract tests; production parquet writes go through
  * [[ParquetBatchWriter]] (a single distributed write beats per-row
  * appends).
  */
final class CollectingSinkWriter extends SinkWriter {
  val published = ArrayBuffer[PublishItem]()
  override def publish(item: PublishItem): Unit = published += item
}
