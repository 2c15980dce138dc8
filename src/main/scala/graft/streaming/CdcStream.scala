package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{Transform, Wal2Json}

/** The streaming CDC pipeline (SURVEY.md §3.4):
  *
  * readStream (wal2json lines) -> Wal2Json.decodeHeader ->
  * StreamingTxAssembly.assembleRaw (commit-gated assembly + positional
  * replay tombstones, ONE stateful operator) -> Wal2Json.decodePayload ->
  * Transform.normalize -> foreachBatch OrderedSink, with
  * checkpointLocation for recovery.
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
    * both the wal2json watermark and the pgoutput state TTL.
    */
  private[streaming] def intervalMs(s: String): Long = {
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
        StreamingTxAssembly.assembleRaw(spark,
          filtered.withWatermark("action_time", dedupWatermark),
          txTtl.orElse(Some(dedupWatermark)),
          dedupTtl = dedupWatermark).toDF())
      .withColumn("is_begin", lit(false))
      .withColumn("is_commit", lit(false))
    Transform.normalize(sequenced, database)
  }

  /** The pgoutput analog of [[pipeline]] — the reference's DEFAULT plugin
    * (cmd/cdc-handler/main.go:59-74): binary replication frames
    * (wal_start: long, data: binary[, slot]) → [[PgOutputStream.decode]]
    * (per-slot keyed registry state, mid-stream Relation replacement) →
    * [[TxAssemblyProcessor]] commit-gated assembly → Transform.normalize.
    *
    * Both stateful operators run on the arbitrary-state v2 API
    * (transformWithState), so the query REQUIRES the RocksDB state-store
    * provider. Unlike the wal2json path there is no header/payload parse
    * split — pgoutput decode is a single cheap binary walk whose output
    * maps feed assembly directly — and replay suppression rides on the
    * sink's idempotence (batch_id overwrite / broker Msg-Id), the
    * reference's own E7 shape for this plugin. `txTtlMs > 0` evicts
    * abandoned transactions via state TTL — PROCESSING-TIME timers, so
    * the query never reports idle (a CDC stream never idles in
    * production; tests must poll the sink rather than
    * `processAllAvailable`).
    */
  def pipelinePgOutput(spark: SparkSession, raw: DataFrame, database: String,
      tableAllowlist: Seq[String] = Nil, txTtlMs: Long = 0L,
      slotCol: Option[String] = None,
      corruptPolicy: String = "crash"): DataFrame = {
    val decoded = PgOutputStream.decode(spark, raw, slotCol = slotCol,
      corruptPolicy = corruptPolicy).toDF()
    // corrupt-frame markers (dlq policy) bypass assembly — a frame that
    // cannot be decoded has no transaction to wait for; they rejoin the
    // output as dead-letter records on the dlq subject, the streaming
    // analog of Dlq.quarantine's second frame
    val good =
      if (corruptPolicy == "dlq") decoded.filter(col("operation") =!= "CORRUPT")
      else decoded
    val filtered =
      if (tableAllowlist.isEmpty) good
      else good.filter(
        col("is_begin") || col("is_commit") ||
        concat_ws(".", col("schema_name"), col("table_name"))
          .isin(tableAllowlist: _*))
    val assembled = TxAssemblyProcessor.assemble(spark, filtered, txTtlMs)
      .toDF()
      .withColumn("is_begin", lit(false))
      .withColumn("is_commit", lit(false))
    val normalized = Transform.normalize(assembled, database)
    if (corruptPolicy != "dlq") normalized
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
    * data STRING) lines, "pgoutput" expects (wal_start LONG, data BINARY)
    * replication frames (and requires the RocksDB state-store provider);
    * the pgoutput path's abandoned-tx TTL reuses the dedup window.
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
      plugin: String = "wal2json",
      sinkPartitions: Int = 0): StreamingQuery = {
    val events = plugin match {
      case "pgoutput" => pipelinePgOutput(spark, raw, database, tableAllowlist,
        txTtlMs = intervalMs(dedupWatermark))
      case "wal2json" | "" =>
        pipeline(spark, raw, database, tableAllowlist, dedupWatermark)
      case other => throw new IllegalArgumentException(
        s"unknown CDC plugin '$other' (wal2json | pgoutput)")
    }
    // broker-path retry counting: the publish loops run on executors and
    // the metrics registry does not serialize — retries flow through an
    // accumulator, drained into the registry after each batch
    val retryAcc = spark.sparkContext.longAccumulator("graft_publish_retries")
    val drained = new java.util.concurrent.atomic.AtomicLong(0L)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // E4: transient sink failures retried with capped backoff; fatal
        // errors propagate and fail the batch (at-least-once redelivery +
        // the sink's batch_id idempotence / broker Msg-Id dedup make the
        // retry safe).
        val df = batch.toDF()
        // the published count rides the write (no extra job); a fresh
        // Observation per attempt, since withRetry re-runs the write
        var published = Option.empty[Observation]
        def observed(): DataFrame = metrics.fold(df) { _ =>
          published = Some(Observation())
          df.observe(published.get, count(lit(1)).as("rows"))
        }
        sinkWriter match {
          // broker-backed deployment (E6 seam): the per-item ordered /
          // unordered publish loops own their retry policy; the
          // quarantine handler carries the dlq/skip/crash policy
          // (SinkPublisher.quarantineFor)
          case Some(factory) =>
            SinkPublisher.writeBatchVia(observed(), factory,
              maxPublishRetries, ordered = !unsafeUnorderedAsyncPublish,
              quarantine = sinkQuarantine,
              onRetry = () => retryAcc.add(1L))
            metrics.foreach { m =>
              val total = retryAcc.value
              m.publishRetries.add(total - drained.getAndSet(total))
            }
          case None =>
            Reliability.withRetry(maxPublishRetries,
                onRetry = () => metrics.foreach(_.publishRetries.inc()))(() =>
              if (unsafeUnorderedAsyncPublish)
                UnorderedSink.writeBatch(observed(), batchId, outPath)
              else OrderedSink.writeBatch(observed(), batchId, outPath,
                numPartitions = sinkPartitions))
        }
        for (m <- metrics; o <- published)
          m.published.add(o.get("rows").asInstanceOf[Long])
      }
      .start()
  }

  /** Start from a validated [[graft.config.GraftConfig]]: batch cadence,
    * table filters, dedup window, publish mode and retry budget all come
    * from the config surface instead of per-call-site constants.
    */
  def startFromConfig(spark: SparkSession, raw: DataFrame,
      cfg: graft.config.GraftConfig, outPath: String,
      checkpointPath: String): StreamingQuery = {
    cfg.validate.foreach(err => throw new IllegalArgumentException(err))
    start(spark, raw, cfg.database, outPath, checkpointPath,
      tableAllowlist = cfg.tableFilters,
      trigger = Trigger.ProcessingTime(cfg.batchTimeout.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS),
      unsafeUnorderedAsyncPublish = cfg.unsafeUnorderedAsyncPublish,
      maxPublishRetries = cfg.maxPublishRetries,
      dedupWatermark = s"${cfg.duplicateWindow.toSeconds} seconds",
      plugin = cfg.plugin)
  }
}
