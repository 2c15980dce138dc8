package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.Transform

/** Snapshot bootstrap: initial table load + LSN handoff into the
  * incremental stream (SURVEY.md S1 "snapshot bootstrap via JDBC batch
  * read"; the reference leaves this to operators — readme Known
  * limitations — so the semantics here follow the standard
  * Debezium/pglogical initial-load contract: read a consistent snapshot,
  * record the slot's consistent point, then stream WAL strictly after it).
  *
  * Scale shape: the snapshot is a plain batch read (JDBC with
  * partitionColumn/numPartitions against a real database, or any
  * DataFrame) normalized per-row with pure column expressions — no
  * shuffle, no driver loop; a 100 TB initial load parallelizes exactly as
  * well as the batch source does. Snapshot rows carry no meaningful
  * order, so they are written unordered ([[UnorderedSink]] shape) under a
  * dedicated `batch_id=snapshot` partition.
  *
  * Exactly-once across the handoff comes from two layers:
  *  - the stream starts at `wal_start > snapshotLsn` (events captured in
  *    the snapshot are never replayed), and
  *  - deterministic snapshot event-ids (`snapshot:<lsn>:<table>:<key>`)
  *    make a re-run of the bootstrap itself idempotent at the sink.
  */
object SnapshotBootstrap {

  /** Normalize a batch table state into the published event envelope (same
    * columns as [[graft.cdc.Transform.normalize]]): operation SNAPSHOT,
    * txid 0, lsn = the slot's consistent point, after = full row image as
    * a string map, before = null — mirroring an INSERT-shaped initial
    * load. `keyCols` feed the deterministic event id.
    */
  def snapshotEvents(df: DataFrame, database: String, schemaName: String,
      table: String, snapshotLsn: Long, keyCols: Seq[String],
      snapshotTime: java.sql.Timestamp): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table's key")
    val cols = df.columns.toSeq
    val after = map_from_arrays(
      array(cols.map(lit): _*),
      array(cols.map(c => col(c).cast("string")): _*))
    val lsnStr = Transform.lsnString(lit(snapshotLsn))
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    df.select(
      concat_ws(":", lit("snapshot"), lsnStr,
        concat_ws(".", lit(schemaName), lit(table)), key).as("event_id"),
      lit("cdc.snapshot").as("event_type"),
      lit("postgres").as("source"),
      lit(snapshotTime).as("timestamp"),
      lit(snapshotTime).as("commit_time"),
      lsnStr.as("lsn"),
      lit(0L).as("txid"),
      lit(schemaName).as("schema"),
      lit(table).as("table"),
      lit("SNAPSHOT").as("operation"),
      lit(null).cast("map<string,string>").as("before"),
      after.as("after"),
      map(lit("snapshot"), lit("true")).as("metadata"),
      Transform.subject(database, lit(schemaName), lit(table)).as("subject"))
  }

  /** Run the full bootstrap: write the snapshot state under
    * `batch_id=snapshot`, then start the incremental pipeline reading only
    * WAL positions strictly after `snapshotLsn`. Returns the running
    * incremental query. Together the sink holds exactly
    * snapshot ∪ post-LSN changes — no dupes, no gaps — which
    * SnapshotSpec asserts end to end.
    */
  def bootstrap(spark: SparkSession, snapshot: DataFrame, raw: DataFrame,
      database: String, schemaName: String, table: String,
      snapshotLsn: Long, keyCols: Seq[String], outPath: String,
      checkpointPath: String,
      snapshotTime: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery = {
    snapshotEvents(snapshot, database, schemaName, table, snapshotLsn, keyCols, snapshotTime)
      .write.mode("overwrite").parquet(s"$outPath/batch_id=snapshot")
    // LSN handoff: the replication stream resumes strictly after the
    // snapshot's consistent point, so snapshot-covered changes never replay.
    val rawAfter = raw.filter(col("wal_start") > snapshotLsn)
    CdcStream.start(spark, rawAfter, database, outPath, checkpointPath,
      trigger = trigger)
  }
}
