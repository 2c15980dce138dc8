package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream, ObjectStreamClass}
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Decoded WAL event as a typed stream row (Wal2Json.decode output shape). */
case class DecodedWalEvent(
    wal_start: Long,
    operation: String,
    is_begin: Boolean,
    is_commit: Boolean,
    schema_name: String,
    table_name: String,
    old_values: Map[String, String],
    new_values: Map[String, String],
    txid: Long,
    action_time: Timestamp)

/** One line entering transaction assembly: its WAL position, the payload
  * carried through state untouched, and the header fields assembly reads.
  * `action` is "B"/"C" for Begin/Commit, "A" for an abort marker, anything
  * else for a data line; `action_time` is set on commit markers only. The
  * payload is the raw wal2json document (`String`) or a decoded pgoutput
  * row ([[PgRow]]).
  */
case class TxLine[P](
    wal_start: Long,
    data: P,
    action: String,
    txid: Long,
    action_time: Timestamp)

/** Per-transaction buffer of (wal_start, payload) lines; after the commit
  * emits, the state stays behind as a tombstone carrying the commit's
  * event time AND WAL position, so a replayed delivery of the same
  * transaction (source reconnect replaying unacked WAL — the
  * at-least-once case) emits nothing. Suppression is POSITIONAL, not
  * txid-based: only lines at or below the committed position are
  * replays; higher positions under the same txid are a genuinely new
  * transaction (PostgreSQL recycles txids at wraparound — the reference
  * likewise keys event identity on lsn:txid, never txid alone). The
  * tombstone is evicted when the WATERMARK passes commit_time + dedup
  * window — exactly dropDuplicatesWithinWatermark's retention rule, the
  * DUPLICATE_WINDOW analog. Stored as a [[TxState]].
  */
case class TxBuffer[P](lines: List[(Long, P)],
    committedAtMs: Option[Long] = None,
    // sentinel MinValue = nothing committed: 0 is a VALID carrier position
    // (fileIndex 0, line 0) and must not be swallowed by the replay filter
    committedLsn: Long = Long.MinValue,
    // true when the abandoned-tx deadline was armed before ANY watermark
    // existed (first micro-batch, wm=0): that deadline fires the moment a
    // real watermark establishes, and the handler must then START the TTL
    // clock rather than evict a possibly-live buffer
    provisionalTimeout: Boolean = false) {
  def stored: TxState = TxState(if (lines.isEmpty) null else StateBlob.write(lines),
    committedAtMs, committedLsn, provisionalTimeout)
}

/** A [[TxBuffer]] as the assembly operator stores it: the flat fields as
  * columns and the buffered lines as one [[StateBlob]], null when nothing
  * is buffered (so the per-trigger timeout scan over tombstones decodes
  * no blob). A state type without collection or map fields gets a codec
  * whose generated source is the same on every trigger, so Spark compiles
  * it once per JVM instead of once per trigger. Field names and types are
  * the checkpointed state layout: keep them.
  */
case class TxState(lines: Array[Byte], committedAtMs: Option[Long],
    committedLsn: Long, provisionalTimeout: Boolean) {
  def buffer[P]: TxBuffer[P] = TxBuffer(
    if (lines == null) Nil else StateBlob.read[List[(Long, P)]](lines),
    committedAtMs, committedLsn, provisionalTimeout)
}

/** Java serialization of a keyed-state value into one binary column, and
  * of the replication source's decode context into its planned ranges.
  * Classes are resolved through the task's context class loader, where
  * the application's classes live. Every project class stored this way
  * (`PgRow`, `PgSlotState`, `PgOutput.RelationInfo`) carries an explicit
  * `@SerialVersionUID`, so recompiling does not orphan a checkpoint.
  */
private[graft] object StateBlob {
  def write(v: AnyRef): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(v)
    out.close()
    bytes.toByteArray
  }

  def read[T](b: Array[Byte]): T = {
    val loader = Thread.currentThread().getContextClassLoader
    val in = new ObjectInputStream(new ByteArrayInputStream(b)) {
      override def resolveClass(d: ObjectStreamClass): Class[_] =
        try Class.forName(d.getName, false, loader)
        catch { case _: ClassNotFoundException => super.resolveClass(d) }
    }
    try in.readObject().asInstanceOf[T] finally in.close()
  }
}

/** Assembled line with commit metadata + deterministic ordinal; the
  * payload is unpacked downstream (Wal2Json.decodePayload, or a flatten of
  * the pgoutput row).
  */
case class SequencedLine[P](
    wal_start: Long,
    data: P,
    txid: Long,
    seq_in_tx: Long,
    commit_time: Timestamp,
    commit_lsn: Long)

/** Streaming transaction assembly (reference P3+P4:
  * internal/parser/pgoutput.go:247-304, 467-531): buffer each transaction's
  * lines in keyed state until its Commit marker arrives, then emit every
  * line stamped with commitTime/commitLSN and a WAL-order `seq_in_tx`. The
  * one operator both plugins run: wal2json buffers its raw documents,
  * pgoutput its decoded rows.
  *
  * Spark-first restatement:
  *  - `flatMapGroupsWithState` keyed by txid — state lives in the state
  *    store, so the reference's hand-rolled 100k-event disk spill (P4,
  *    pgoutput.go:38-111) is subsumed by the store, on whatever provider
  *    the session configures.
  *  - abandoned transactions (crash before commit) are evicted by an
  *    event-time timeout instead of growing state forever — the
  *    100 TB-scale bound the reference gets from MaxTxBufferSize.
  */
object StreamingTxAssembly {

  /** Commit-gated assembly of one txid's lines. Only (action, txid,
    * action_time) are read; the payload rides through state as-is. For
    * wal2json ([[CdcStream.pipeline]]) that is the raw JSON document, so
    * the expensive payload parse (columns/identity arrays → maps) runs
    * AFTER assembly, on data rows only — begin/commit markers never pay
    * it. For pgoutput ([[CdcStream.pipelinePgOutput]]) it is the decoded
    * row.
    *
    * E7 replay suppression lives HERE, at transaction granularity: after
    * the commit emits, a tombstone (carrying the commit's event time)
    * remains in state, and any replayed delivery of the same tx (WAL
    * replays are offset-range, hence tx-granular) emits nothing — the
    * reference's semantics (slot replay after reconnect + Nats-Msg-Id
    * sink dedup) without a second stateful operator shuffling the whole
    * stream on event_id. Duplicate lines WITHIN a buffered tx collapse by
    * (wal_start, payload) at emission: a pgoutput TRUNCATE frame carries
    * one row per relation at the same position.
    *
    * An abort marker ("A": protocol v2 StreamAbort, RollbackPrepared)
    * retracts the buffered lines at or below its own position.
    *
    * Timeouts are EVENT-TIME (the stream must carry a watermark on
    * action_time): the tombstone evicts when the watermark passes
    * commit_time + dedupTtl — dropDuplicatesWithinWatermark's retention
    * rule — and an abandoned (never-committed) tx evicts when the
    * watermark advances txTtl past the batch that buffered it.
    * Processing-time timeouts would busy-loop an ASAP-triggered query
    * (every armed timeout schedules another no-data batch).
    */
  def assembleRawTx[P](txTtlMs: Long, dedupTtlMs: Long)(
      txid: Long, it: Iterator[TxLine[P]],
      state: GroupState[TxState]): Iterator[SequencedLine[P]] = {
    // setTimeoutTimestamp rejects timestamps at or behind the watermark —
    // clamp (a tombstone whose window already passed evicts next batch)
    def armAt(ms: Long): Unit =
      state.setTimeoutTimestamp(math.max(ms, state.getCurrentWatermarkMs() + 1))
    if (state.hasTimedOut) {
      val st = state.get
      if (st.lines != null && st.provisionalTimeout) {
        // the pre-watermark sentinel deadline (armed at wm+1 in the first
        // micro-batch) fired: a watermark now exists, so start the REAL
        // abandoned-tx clock — evicting here would drop a transaction
        // whose commit may simply sit in a later batch
        state.update(st.copy(provisionalTimeout = false))
        armAt(state.getCurrentWatermarkMs() + txTtlMs)
      } else state.remove()
      Iterator.empty
    } else {
      val st = state.getOption.fold(TxBuffer[P](Nil))(_.buffer[P])
      // positional replay drop: anything at or below the last committed
      // position of this txid is a redelivery; higher positions are the
      // NEXT transaction under a recycled txid. Arrivals are processed in
      // WAL order so one batch may carry a commit AND the next tx's lines
      // (even its commit) under the same txid — each commit emits only
      // the buffered lines at or below its own position.
      val arrived = it.filter(_.wal_start > st.committedLsn).toList.sortBy(_.wal_start)
      var buf = st.lines
      var tombAtMs = st.committedAtMs
      var tombLsn = st.committedLsn
      val out = List.newBuilder[SequencedLine[P]]
      arrived.foreach { l =>
        l.action match {
          case "B" => ()
          case "A" => buf = buf.filter(_._1 > l.wal_start)
          case "C" =>
            val (emit, beyond) = buf.partition(_._1 <= l.wal_start)
            // `buf` is newest-first: reverse so lines sharing a position
            // keep their arrival order
            emit.reverse.sortBy(_._1).distinct.zipWithIndex.foreach {
              case ((ws, d), i) =>
                out += SequencedLine(ws, d, txid, i.toLong, l.action_time, l.wal_start)
            }
            buf = beyond
            // a commit with an unparseable/missing timestamp still emits
            // (null commit_time, the lenient-decode contract); its
            // tombstone window is then clocked off the watermark instead
            // of the commit's own event time
            tombAtMs = Option(l.action_time).map(_.getTime)
            tombLsn = l.wal_start
          case _ => buf = (l.wal_start, l.data) :: buf
        }
      }
      // the tombstone exists whenever suppression is on and ANY commit has
      // ever been recorded for this txid — dropping it just because the
      // commit's timestamp failed to parse would let a replayed delivery
      // re-emit the whole transaction
      val tombstone = dedupTtlMs > 0 && tombLsn != Long.MinValue
      if (buf.nonEmpty || tombstone) {
        // abandoned-tx eviction clock = the watermark at buffering time;
        // before any watermark exists (wm=0) a wm+txTtl deadline would
        // pin near the 1970 epoch and fire the moment real event times
        // arrive — evicting freshly-buffered txs whose commit is merely
        // in a later batch. Instead arm a PROVISIONAL sentinel at wm+1:
        // when it fires (first real watermark) the timeout handler starts
        // the true TTL clock. Without it, a first-batch txid that never
        // receives another line would leak its buffer permanently (fMGWS
        // only re-invokes a group on input or armed timeout). NEVER arm
        // the tombstone deadline while a live buffer exists: firing would
        // delete buffered lines of an in-flight transaction (event LOSS,
        // not a duplicate). The tombstone outliving its window until the
        // buffer resolves is safe — it only suppresses already-emitted
        // positions.
        val provisional =
          buf.nonEmpty && txTtlMs > 0 && state.getCurrentWatermarkMs() <= 0
        state.update(
          TxBuffer(buf, if (tombstone) tombAtMs else None, tombLsn, provisional).stored)
        if (buf.nonEmpty) {
          if (txTtlMs > 0) {
            if (provisional) armAt(1L) // clamps to wm+1
            else armAt(state.getCurrentWatermarkMs() + txTtlMs)
          }
        } else {
          armAt(tombAtMs.getOrElse(state.getCurrentWatermarkMs()) + dedupTtlMs)
        }
      } else if (state.exists) {
        // suppression disabled (no dedupTtl) and nothing buffered
        state.remove()
      }
      out.result().iterator
    }
  }

  /** Apply [[assembleRawTx]] to a streaming DataFrame of [[TxLine]]
    * columns (wal_start, data, action, txid, action_time). With either TTL
    * set, `lines` MUST carry a watermark on action_time (event-time
    * timeouts). TTLs are interval strings ([[CdcStream.intervalMs]]).
    * @param txTtl    abandoned (never-committed) tx eviction; None = never.
    * @param dedupTtl how long a committed tx's tombstone suppresses
    *                 replayed deliveries past its commit_time (the
    *                 DUPLICATE_WINDOW analog); None = no suppression
    *                 (state removed at commit).
    */
  def assembleRaw[P: TypeTag](spark: SparkSession, lines: DataFrame,
      txTtl: Option[String] = None,
      dedupTtl: Option[String] = None): Dataset[SequencedLine[P]] = {
    import spark.implicits._
    val txMs = txTtl.fold(0L)(CdcStream.intervalMs)
    val dedupMs = dedupTtl.fold(0L)(CdcStream.intervalMs)
    val timeoutConf = if (txMs == 0 && dedupMs == 0) GroupStateTimeout.NoTimeout
      else GroupStateTimeout.EventTimeTimeout
    lines.select("wal_start", "data", "action", "txid", "action_time")
      .as[TxLine[P]]
      .groupByKey(_.txid)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        assembleRawTx[P](txMs, dedupMs))
  }
}
