package graft.streaming

import java.sql.Timestamp

import graft.cdc.PgOutput

/** A slot's pgoutput decode context as of one WAL position: the relation
  * registry, the transaction cursor (xid + commit timestamp of the last
  * Begin — pgoutput carries xid only on Begin, so a transaction split
  * across micro-batches keeps stamping its data messages), the open
  * protocol-v2 segment's top-level xid (-1 between segments; a segment
  * can span a batch boundary like a v1 transaction can) and, per
  * in-flight streamed top-level tx, the (sub)xids whose changes were
  * observed, so a StreamCommit in a later batch still fans out to every
  * member; `prepared` marks those ended by StreamPrepare and not yet
  * resolved. The replication source ships it with each planned range as
  * one [[StateBlob]] ([[PgOutput.DecodeSession.snapshot]]). Only the
  * prepared streams' members are checkpointed, in the source's offsets:
  * a restarted stream rebuilds the rest from what the slot re-sends.
  */
@SerialVersionUID(1L)
case class PgSlotState(
    relations: Map[Int, PgOutput.RelationInfo],
    xid: Long,
    ts: Timestamp,
    streamTop: Long,
    streams: Map[Long, Seq[Long]],
    prepared: Set[Long])

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
