package graft.model

import java.sql.Timestamp

// Core event model, re-expressed from the reference's data model
// (reference: internal/model/events.go:14-43, 105-119). The row payload
// (before/after) is a dynamic string->string map so that "column absent"
// (unchanged TOAST, reference internal/parser/pgoutput.go:613-614) stays
// distinguishable from "column null" (SURVEY.md §7.4.3).

/** Decoded WAL change event (reference: internal/model/events.go:24-43).
  * `oldValues`/`newValues` are nullable maps; absence of a key means the
  * column was not present in the WAL image (e.g. unchanged TOAST).
  */
case class WalEvent(
    operation: String,
    isBegin: Boolean,
    isCommit: Boolean,
    schemaName: String,
    tableName: String,
    oldValues: Map[String, String],
    newValues: Map[String, String],
    txid: Long,
    commitTime: Timestamp,
    lsn: String,
    walStart: Long,
    seqInTx: Long
)

/** Normalized CDC event — the wire format
  * (reference: internal/model/events.go:105-119, JSON tags).
  */
case class CdcEvent(
    event_id: String,
    event_type: String,
    source: String,
    timestamp: Timestamp,
    commit_time: Timestamp,
    lsn: String,
    txid: Long,
    schema: String,
    table: String,
    operation: String,
    before: Map[String, String],
    after: Map[String, String],
    metadata: Map[String, String]
)

/** Dead-letter record (reference: internal/publisher/dlq.go:19-33). */
case class DeadLetterRecord(
    event_id: String,
    subject: String,
    database: String,
    schema: String,
    table: String,
    operation: String,
    lsn: String,
    txid: Long,
    error: String,
    payload_size: Long,
    truncated: Boolean,
    payload_prefix: String,
    quarantined_at: Timestamp
)
