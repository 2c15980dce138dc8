package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction assembly (reference P3: internal/parser/pgoutput.go:247-304,
  * 387-398): stamp every change event of a transaction with the commit
  * position/time and a deterministic WAL-order ordinal `seq_in_tx`.
  *
  * Batch mode is a window: `row_number() over (partition by txid order by
  * wal_start) - 1` (the reference ordinal starts at 0, pgoutput.go:391) plus a
  * per-txid max-aggregate to propagate the commit marker's time/position.
  * One shuffle on `txid`, reused by both the window and the commit join via
  * the same partitioning.
  *
  * Streaming mode is `flatMapGroupsWithState` keyed by txid (see
  * [[graft.streaming.StreamingTxAssembly]]) — state-store backed, which also
  * subsumes the reference's large-transaction disk spill (P4,
  * pgoutput.go:38-111): the state store spills for free.
  */
object TxAssembly {

  /** Assign `seq_in_tx` ordinals and commit metadata to decoded WAL rows.
    *
    * Input: Wal2Json.decode output (operation, is_begin, is_commit,
    * schema_name, table_name, old_values, new_values, txid, action_time,
    * wal_start).
    *
    * Output adds: seq_in_tx (0-based, WAL order within tx), commit_time (from
    * the tx's commit marker; falls back to the event's own action_time for
    * streams without commit markers), commit_lsn (the commit marker's
    * wal_start — the checkpoint position, pgoutput.go:247-304).
    *
    * Begin/Commit marker rows are dropped from the output (they are consumed
    * into the per-tx metadata), mirroring the reference which emits data
    * events followed by a checkpoint-carrying marker.
    */
  def assemble(decoded: DataFrame): DataFrame = {
    val byTx = Window.partitionBy(col("txid"))
    val seqW = byTx.orderBy(col("wal_start"))
    decoded
      // commit metadata propagated across the tx: max() is correct because at
      // most one commit marker exists per txid and nulls are ignored.
      .withColumn("commit_time",
        max(when(col("is_commit"), col("action_time"))).over(byTx))
      .withColumn("commit_lsn",
        max(when(col("is_commit"), col("wal_start"))).over(byTx))
      // protocol v2 StreamAbort: an ABORT marker retracts its whole
      // (sub)transaction — the no-commit-marker action_time fallback below
      // must never resurrect rolled-back rows, so aborted groups are
      // dropped wholesale (rides the same txid window, no extra shuffle)
      .withColumn("__aborted",
        max(when(col("operation") === "ABORT", lit(true))).over(byTx))
      .filter(!col("is_begin") && !col("is_commit") &&
        col("operation") =!= "ABORT" &&
        !coalesce(col("__aborted"), lit(false)))
      .drop("__aborted")
      .withColumn("seq_in_tx", row_number().over(seqW).cast("long") - 1)
      .withColumn("commit_time", coalesce(col("commit_time"), col("action_time")))
      .withColumn("commit_lsn", coalesce(col("commit_lsn"), col("wal_start")))
  }

  /** Micro-batch assignment within a transaction (reference E1,
    * internal/engine/engine.go:124-220): the reference flushes on
    * batch >= BATCH_SIZE (500) or commit. In batch form the equivalent
    * deterministic grouping is `batch_no = seq_in_tx / batchSize` — commit
    * boundaries are implicit because batches never span transactions.
    */
  def assignBatches(sequenced: DataFrame, batchSize: Int = 500): DataFrame =
    sequenced.withColumn("batch_no", (col("seq_in_tx") / batchSize).cast("long"))
}
