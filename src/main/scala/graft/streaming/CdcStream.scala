package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{Transform, Wal2Json}

/** The streaming CDC pipeline (SURVEY.md §3.4):
  *
  * readStream (wal2json lines) -> Wal2Json.decodeHeader ->
  * StreamingTxAssembly.assembleRaw (commit-gated assembly + positional
  * replay tombstones, ONE stateful operator) -> Wal2Json.decodePayload ->
  * Transform.normalize -> foreachBatch OrderedSink, with
  * checkpointLocation for recovery. pgoutput ([[pipelinePgOutput]]) feeds
  * the replication source's decoded rows to the same assembly operator.
  * Assembly runs on `flatMapGroupsWithState` with event-time timeouts, on
  * whatever state-store provider the session configures.
  *
  * Semantics vs the reference (SURVEY.md §7.4):
  *  - at-least-once base + tx-granular replay suppression in assembly
  *    state + idempotent sink (batch_id overwrite / broker Msg-Id) =
  *    effectively-once (reference E7, DUPLICATE_WINDOW); the window is
  *    the watermark delay past each commit_time.
  *  - order preserved per subject (db.schema.table), the reference's E2
  *    guarantee; global order only with one partition — the analog of its
  *    explicitly-unsafe unordered mode (E3).
  *  - checkpointLocation replaces the replication-slot store (C1/C2): a
  *    restarted query resumes from the last committed micro-batch offset.
  */
object CdcStream {

  /** Day-or-smaller interval string ("2 minutes", "3650 days") → millis —
    * the same grammar watermark delays use, so one config string serves
    * as both the watermark delay and the assembly TTLs.
    */
  private[graft] def intervalMs(s: String): Long = {
    val i = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(i.months == 0, s"month-based intervals are ambiguous in ms: $s")
    i.days * 86400000L + i.microseconds / 1000L
  }

  /** Decode + assemble + normalize a streaming DataFrame of
    * (wal_start: long, data: string) wal2json lines.
    *
    * Parse is split around the stateful operator: a header-only parse
    * (action/xid/timestamp/schema/table) feeds assembly and the allowlist,
    * the raw document rides through state as ONE string, and the expensive
    * payload parse (columns/identity → maps) runs after assembly on data
    * rows only. Same output as full-decode-first (same event set, same
    * seq_in_tx — the allowlist still applies before sequencing), but the
    * state store carries strings instead of maps and markers never pay the
    * full parse.
    */
  def pipeline(spark: SparkSession, raw: DataFrame, database: String,
      tableAllowlist: Seq[String] = Nil, dedupWatermark: String = "2 minutes",
      txTtl: Option[String] = None): DataFrame = {
    val header = Wal2Json.decodeHeader(raw)
    val filtered =
      if (tableAllowlist.isEmpty) header
      else header.filter(
        col("action").isin("B", "C") ||
        concat_ws(".", col("schema_name"), col("table_name"))
          .isin(tableAllowlist: _*))
    // E7 replay suppression is INSIDE the assembly operator: a committed
    // tx leaves a tombstone in state until the watermark passes
    // commit_time + dedupWatermark (dropDuplicatesWithinWatermark's
    // retention rule), so replayed WAL deliveries (offset-range, hence
    // tx-granular) emit nothing — the reference's semantics (slot replay
    // + Nats-Msg-Id sink dedup) with ONE stateful operator and one
    // exchange instead of two. Within a tx, duplicate positions collapse
    // at emission; sink redelivery is covered by the sink's own
    // idempotence (batch_id overwrite / broker Msg-Id). The watermark on
    // the commit-marker action_time is the timeout clock.
    // a replay arriving BEYOND the window has its commit dropped by the
    // watermark's late-row filter (no duplicate emission either way);
    // the stranded data-row buffer that leaves behind is evicted by the
    // abandoned-tx TTL, which therefore defaults to the same window
    val sequenced = Wal2Json.decodePayload(
        StreamingTxAssembly.assembleRaw[String](spark,
          filtered.withWatermark("action_time", dedupWatermark),
          txTtl.orElse(Some(dedupWatermark)),
          dedupTtl = Some(dedupWatermark)).toDF())
      .withColumn("is_begin", lit(false))
      .withColumn("is_commit", lit(false))
    Transform.normalize(sequenced, database)
  }

  /** The pgoutput analog of [[pipeline]] — the reference's DEFAULT plugin
    * (cmd/cdc-handler/main.go:59-74): the rows a pgoutput
    * [[graft.sources.CopyBothSource]] decodes (relation registry and
    * transaction cursor kept by the source, mid-stream Relation
    * replacement) → the same [[StreamingTxAssembly.assembleRaw]] operator
    * as wal2json, buffering decoded rows ([[PgRow]]) →
    * Transform.normalize. Corrupt-frame markers, which the source emits
    * under `corruptPolicy=dlq`, bypass assembly onto the dlq subject.
    *
    * Assembly gives pgoutput the same E7 replay suppression and the same
    * event-time abandoned-tx TTL as wal2json, both from `dedupWatermark`;
    * the watermark rides the commit markers' action_time. There is no
    * header/payload parse split — pgoutput decode is a single cheap
    * binary walk whose rows are the payload.
    */
  def pipelinePgOutput(spark: SparkSession, decoded: DataFrame,
      database: String, tableAllowlist: Seq[String] = Nil,
      dedupWatermark: String = "2 minutes"): DataFrame = {
    // corrupt-frame markers (dlq policy) bypass assembly — a frame that
    // cannot be decoded has no transaction to wait for; they rejoin the
    // output as dead-letter records on the dlq subject, the streaming
    // analog of Dlq.quarantine's second frame
    val dlq = graft.sources.CopyBothSource.corruptPolicyOf(decoded) == "dlq"
    val good =
      if (dlq) decoded.filter(col("operation") =!= "CORRUPT")
      else decoded
    val filtered =
      if (tableAllowlist.isEmpty) good
      else good.filter(
        col("is_begin") || col("is_commit") ||
        concat_ws(".", col("schema_name"), col("table_name"))
          .isin(tableAllowlist: _*))
    // assembly's line shape, as Wal2Json.decodeHeader gives it: markers as
    // actions, the row as payload, action_time on commit markers only
    val lines = filtered.select(col("wal_start"),
      struct("operation", "schema_name", "table_name", "old_values",
        "new_values").as("data"),
      when(col("is_begin"), "B").when(col("is_commit"), "C")
        .when(col("operation") === "ABORT", "A")
        .otherwise(col("operation")).as("action"),
      col("txid"),
      when(col("is_commit"), col("action_time")).as("action_time"))
    val assembled = StreamingTxAssembly.assembleRaw[PgRow](spark,
        lines.withWatermark("action_time", dedupWatermark),
        txTtl = Some(dedupWatermark), dedupTtl = Some(dedupWatermark))
      .select(col("wal_start"), col("data.*"), col("txid"), col("seq_in_tx"),
        col("commit_time"), col("commit_lsn"))
      .withColumn("is_begin", lit(false))
      .withColumn("is_commit", lit(false))
    val normalized = Transform.normalize(assembled, database)
    if (!dlq) normalized
    else {
      val lsn = Transform.lsnString(col("wal_start"))
      val dlqRows = decoded.filter(col("operation") === "CORRUPT").select(
        concat_ws(":", lsn, col("txid"), col("operation"),
          lit("corrupt_frame"), lit("0")).as("event_id"),
        lit("cdc.corrupt_frame").as("event_type"),
        lit("postgres").as("source"),
        col("action_time").as("timestamp"),
        col("action_time").as("commit_time"),
        lsn.as("lsn"),
        col("txid"),
        col("schema_name").as("schema"),
        col("table_name").as("table"),
        col("operation"),
        col("old_values").as("before"),
        col("new_values").as("after"), // error + payload forensics
        map(lit("error"), element_at(col("new_values"), "error"))
          .as("metadata"),
        Transform.dlqSubject("dlq", database,
          coalesce(col("schema_name"), lit("_")),
          coalesce(col("table_name"), lit("_"))).as("subject"))
      normalized.unionByName(dlqRows)
    }
  }

  /** Start the pipeline into a parquet sink with checkpointed recovery.
    * `trigger` mirrors the reference's BATCH_TIMEOUT micro-batch cadence
    * (E1). `unsafeUnorderedAsyncPublish` selects the reference's explicit
    * E3 unordered mode ([[UnorderedSink]]) — same flag name, same default
    * (ordered), same trade-off (throughput for order). `plugin` selects
    * the decode pipeline like the reference's CDC_PLUGIN option
    * (cmd/cdc-handler/main.go:59-74): "wal2json" expects (wal_start LONG,
    * data STRING) lines, "pgoutput" the decoded rows of a pgoutput
    * replication source; both take their replay window and abandoned-tx
    * TTL from `dedupWatermark`.
    */
  def start(spark: SparkSession, raw: DataFrame, database: String,
      outPath: String, checkpointPath: String,
      tableAllowlist: Seq[String] = Nil,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds"),
      unsafeUnorderedAsyncPublish: Boolean = false,
      maxPublishRetries: Int = 3,
      dedupWatermark: String = "2 minutes",
      metrics: Option[CdcMetrics.Registry] = None,
      sinkWriter: Option[() => SinkWriter] = None,
      sinkQuarantine: Option[(PublishItem, Throwable) => Unit] = None,
      plugin: String = "wal2json"): StreamingQuery = {
    val events = plugin match {
      case "pgoutput" =>
        pipelinePgOutput(spark, raw, database, tableAllowlist, dedupWatermark)
      case "wal2json" | "" =>
        pipeline(spark, raw, database, tableAllowlist, dedupWatermark)
      case other => throw new IllegalArgumentException(
        s"unknown CDC plugin '$other' (wal2json | pgoutput)")
    }
    // one per query: it prepares and broadcasts its Hadoop conf at the
    // first batch, so the conf ships once, not inside every write task
    val parquet = new ParquetBatchWriter(outPath)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // E4: transient sink failures retried with capped backoff; fatal
        // errors propagate and fail the batch (at-least-once redelivery +
        // the sink's batch_id idempotence / broker Msg-Id dedup make the
        // retry safe). Both sinks return what they published, counted by
        // the write's own tasks (no extra job).
        val df = batch.toDF()
        val published = sinkWriter match {
          // broker-backed deployment (E6 seam): the per-item ordered /
          // unordered publish loops own their retry policy; the
          // quarantine handler carries the dlq/skip/crash policy
          // (SinkPublisher.quarantineFor)
          case Some(factory) =>
            val p = SinkPublisher.writeBatchVia(df, factory,
              maxPublishRetries, ordered = !unsafeUnorderedAsyncPublish,
              quarantine = sinkQuarantine)
            metrics.foreach(_.publishRetries.add(p.retries))
            p.items
          case None =>
            Reliability.withRetry(maxPublishRetries,
                onRetry = () => metrics.foreach(_.publishRetries.inc()))(() =>
              parquet.write(
                if (unsafeUnorderedAsyncPublish) df else OrderedSink.inCommitOrder(df),
                batchId))
        }
        metrics.foreach(_.published.add(published))
      }
      .start()
  }
}
