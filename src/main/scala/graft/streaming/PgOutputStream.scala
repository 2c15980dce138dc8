package graft.streaming

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.PgOutput

/** One replication frame addressed to a slot's decoder. */
case class PgOutputFrame(slot: String, wal_start: Long, data: Array[Byte])

/** A slot decoder's cross-batch state, one value per slot: the relation
  * registry, the transaction cursor (xid + commit timestamp of the last
  * Begin — pgoutput carries xid only on Begin, so a transaction split
  * across micro-batches keeps stamping its data messages), the open
  * protocol-v2 segment's top-level xid (-1 between segments; a segment
  * can span a batch boundary like a v1 transaction can) and, per
  * in-flight streamed top-level tx, the (sub)xids whose changes were
  * observed, so a StreamCommit in a later batch still fans out to every
  * member. Stored as one [[StateBlob]] (see [[TxState]] for why), so this
  * class and those it holds keep explicit serial version UIDs: they are
  * the checkpointed state layout.
  */
@SerialVersionUID(1L)
case class PgSlotState(
    relations: Map[Int, PgOutput.RelationInfo],
    xid: Long,
    ts: Timestamp,
    streamTop: Long,
    streams: Map[Long, Seq[Long]])

/** A decoded pgoutput data row: the payload transaction assembly buffers
  * ([[StreamingTxAssembly]]), flattened again after it. Buffered rows are
  * stored in a [[StateBlob]], hence the explicit serial version UID.
  */
@SerialVersionUID(1L)
case class PgRow(
    operation: String,
    schema_name: String,
    table_name: String,
    old_values: Map[String, String],
    new_values: Map[String, String])

/** Streaming pgoutput decode on `flatMapGroupsWithState`, keyed by SLOT:
  * the per-stream relation registry that the batch path keeps in a
  * per-partition map ([[PgOutput.decodePartition]]) here lives in the
  * slot's state value, so it survives across micro-batches — mirroring the
  * reference, whose registry lives for the stream's lifetime and is
  * replaced in place by mid-stream Relation messages
  * (internal/parser/pgoutput.go:216-230). The same value carries the
  * transaction cursor for transactions that span batch boundaries.
  *
  * Scale shape: ONE slot = one key = serial decode — inherent to a WAL
  * (the stream is serial; the reference decodes its slot on one goroutine
  * too). Parallelism comes from slot cardinality (each slot's registry and
  * cursor are independent keys) and from everything downstream of decode.
  * Frames are processed in wal_start order within the batch regardless of
  * arrival partitioning.
  */
object PgOutputStream {

  /** Decode one slot's frames of one micro-batch. Curried so the policy is
    * captured in the task closure.
    */
  def decodeSlot(corruptPolicy: String)(slot: String,
      frames: Iterator[PgOutputFrame],
      state: GroupState[Array[Byte]]): Iterator[DecodedWalEvent] = {
    val session = new PgOutput.DecodeSession
    state.getOption.map(StateBlob.read[PgSlotState]).foreach { st =>
      session.registry ++= st.relations
      session.currentXid = st.xid
      session.currentTs = st.ts
      session.streamTop = st.streamTop
      st.streams.foreach { case (top, xids) =>
        session.streamXids(top) = mutable.LinkedHashSet(xids: _*)
      }
    }
    // a slot's WAL is serial: decode in wal_start order whatever the
    // batch's arrival order was. Corrupt frames follow the parser-fatal
    // policy (the reference classifies any parse error fatal and hands it
    // to the dlq/skip/crash failure policy, parser.go:33-38 +
    // config.go:101): crash propagates the NAMED error (task fails, the
    // micro-batch replays — never a bare BufferUnderflow), dlq emits a
    // CORRUPT marker row the pipeline routes to the dead-letter subject,
    // skip drops the frame.
    val out = frames.toArray.sortBy(_.wal_start).flatMap { f =>
      try session.decode(f.wal_start, f.data)
      catch {
        case e @ (_: PgOutput.CorruptFrameException | _: IllegalStateException)
            if corruptPolicy != "crash" =>
          if (corruptPolicy == "skip") Nil
          else Seq(DecodedWalEvent(f.wal_start, "CORRUPT",
            is_begin = false, is_commit = false, null, null, null,
            Map("error" -> e.getMessage,
              "payload_size" -> f.data.length.toString,
              // forensic prefix, hex — 256 bytes covers any frame header
              "payload_prefix_hex" ->
                f.data.take(256).map("%02x".format(_)).mkString),
            session.currentXid, session.currentTs))
      }
    }
    state.update(StateBlob.write(PgSlotState(session.registry.toMap,
      session.currentXid, session.currentTs, session.streamTop,
      session.streamXids.map { case (top, xids) => top -> xids.toSeq }.toMap)))
    out.iterator
  }

  /** Streaming analog of [[PgOutput.decode]]: (wal_start LONG, data
    * BINARY[, slot]) frames → DecodedWalEvent rows, registry + tx cursor in
    * keyed state. Without `slotCol` every frame belongs to one implicit
    * slot ("slot0") — the single-replication-connection shape of the
    * reference; pass a slot column to fan out multiple slots in one query.
    *
    * `corruptPolicy` routes structurally invalid frames mid-stream (the
    * reference's parser-fatal failure policy, parser.go:33-38): "crash"
    * (default) fails the task with the named [[PgOutput
    * .CorruptFrameException]] taxonomy, "dlq" emits an operation=CORRUPT
    * marker row (error message + payload forensics in `new_values`) and
    * decodes on, "skip" drops the frame.
    */
  def decode(spark: SparkSession, raw: DataFrame,
      walStartCol: String = "wal_start", dataCol: String = "data",
      slotCol: Option[String] = None,
      corruptPolicy: String = "crash"): Dataset[DecodedWalEvent] = {
    import spark.implicits._
    require(Set("crash", "dlq", "skip")(corruptPolicy),
      s"corruptPolicy must be crash|dlq|skip, got '$corruptPolicy'")
    val slot = slotCol.map(c => col(c).cast("string")).getOrElse(lit("slot0"))
    raw.select(slot.as("slot"), col(walStartCol).as("wal_start"),
        col(dataCol).as("data"))
      .as[PgOutputFrame]
      .groupByKey(_.slot)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        decodeSlot(corruptPolicy))
  }
}
