package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Normalize/enrich stage: decoded, sequenced WAL rows -> the published
  * event envelope (reference: internal/transformer/transformer.go:33-106,
  * columns in [[normalize]]'s doc). All pure
  * column expressions — codegen'd, no shuffle, scales linearly.
  */
object Transform {

  /** operation -> cdc.* event type (transformer.go:61-73). Unknown ops fall
    * back to `cdc.<lower(op)>`, mirroring the reference's default arm.
    * The ops the decoders emit are ASCII, so lower-casing is an ASCII
    * `translate`: Spark 4's `lower` maps case through ICU, whose one-time
    * initialisation stalled the first batch with rows.
    */
  def eventType(op: Column): Column =
    concat(lit("cdc."), asciiLower(op))

  /** Lower-case the ASCII letters of `c`, without ICU. */
  private def asciiLower(c: Column): Column =
    translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** Deterministic idempotency key:
    * `event_id = lsn:txid:op:schema.table:seqInTx`
    * (transformer.go:85-106; row values deliberately excluded — the rationale
    * comment at transformer.go:75-84: replays of the same WAL position must
    * collide so sink-side dedup can drop them).
    */
  def eventId(lsn: Column, txid: Column, op: Column, schema: Column, table: Column, seqInTx: Column): Column =
    concat_ws(":", lsn, txid, op, concat_ws(".", schema, table), seqInTx)

  /** NATS-style subject / Kafka topic routing:
    * `cdc.{database}.{schema}.{table}`
    * (reference: internal/publisher/publisher.go:196-210).
    */
  def subject(database: String, schema: Column, table: Column): Column =
    concat_ws(".", lit("cdc"), lit(database), schema, table)

  /** Sanitize a subject token: NATS-reserved ` `, `*`, `>` -> `_`
    * (reference: internal/publisher/dlq.go:56-63).
    */
  def sanitizeToken(c: Column): Column =
    translate(c, " *>", "___")

  /** DLQ subject `{prefix}.{db}.{schema}.{table}` with sanitized tokens
    * (dlq.go:50-63).
    */
  def dlqSubject(prefix: String, database: String, schema: Column, table: Column): Column =
    concat_ws(".", lit(prefix), lit(database),
      sanitizeToken(schema), sanitizeToken(table))

  /** Canonical `X/Y` LSN rendering of a 64-bit WAL position (lower-case hex;
    * reference uses pglogrepl.LSN.String(), internal/wal/reader.go:192 —
    * upper-case there, lower-case here; the format is internal to our engine).
    */
  def lsnString(pos: Column): Column =
    concat(asciiLower(hex(shiftrightunsigned(pos, 32))), lit("/"),
           asciiLower(hex(pos.bitwiseAND(lit(0xffffffffL)))))

  /** Full normalize: decoded+sequenced WAL rows -> envelope columns
    * event_id, event_type, source, timestamp, commit_time, lsn, txid,
    * schema, table, operation, before, after (string maps), metadata,
    * subject. Expects columns: operation, schema_name, table_name,
    * old_values, new_values, txid, commit_time, wal_start, seq_in_tx.
    */
  def normalize(df: DataFrame, database: String, source: String = "postgres"): DataFrame = {
    val lsn = lsnString(col("wal_start"))
    df.filter(!col("is_begin") && !col("is_commit"))
      .select(
        eventId(lsn, col("txid"), col("operation"),
          col("schema_name"), col("table_name"), col("seq_in_tx")).as("event_id"),
        eventType(col("operation")).as("event_type"),
        lit(source).as("source"),
        col("commit_time").as("timestamp"),
        col("commit_time").as("commit_time"),
        lsn.as("lsn"),
        col("txid"),
        col("schema_name").as("schema"),
        col("table_name").as("table"),
        col("operation"),
        col("old_values").as("before"),
        col("new_values").as("after"),
        map(lit("txid"), col("txid").cast("string")).as("metadata"),
        subject(database, col("schema_name"), col("table_name")).as("subject")
      )
  }

  /** Wire-format JSON serialization (reference: engine.go:21-23 +
    * model/events.go:105-119 JSON tags).
    */
  def envelopeJson(df: DataFrame): Column =
    to_json(struct(
      col("event_id"), col("event_type"), col("source"), col("timestamp"),
      col("commit_time"), col("lsn"), col("txid"), col("schema"), col("table"),
      col("operation"), col("before"), col("after"), col("metadata")))

  /** [[envelopeJson]]'s inverse: the CONSUMER-side parse. A subscriber
    * receives the serialized envelope from the broker (the reference's
    * consumers bind exactly these JSON tags off JetStream,
    * model/events.go:105-119) and gets back the typed envelope columns
    * [[normalize]] produced — ready for the apply/SCD2/MV loops, whose
    * key extraction and `lsn` sequencing read the same names. One
    * codegen'd `from_json`, no UDF.
    */
  def parseEnvelope(df: DataFrame, valueCol: Column): DataFrame = {
    // `schema`/`table` are reserved words in the DDL grammar — backtick
    val schema = "event_id STRING, event_type STRING, source STRING, " +
      "timestamp TIMESTAMP, commit_time TIMESTAMP, lsn STRING, txid LONG, " +
      "`schema` STRING, `table` STRING, operation STRING, " +
      "before MAP<STRING,STRING>, after MAP<STRING,STRING>, " +
      "metadata MAP<STRING,STRING>"
    df.withColumn("_env", from_json(valueCol, schema, Map.empty[String, String]))
      .select(col("_env.event_id").as("event_id"),
        col("_env.event_type").as("event_type"),
        col("_env.source").as("source"),
        col("_env.timestamp").as("timestamp"),
        col("_env.commit_time").as("commit_time"),
        col("_env.lsn").as("lsn"),
        col("_env.txid").as("txid"),
        col("_env.schema").as("schema"),
        col("_env.table").as("table"),
        col("_env.operation").as("operation"),
        col("_env.before").as("before"),
        col("_env.after").as("after"),
        col("_env.metadata").as("metadata"))
  }

  /** Relation-registry-driven typed projection — SURVEY §1.2's mapping
    * (b): the envelope deliberately keeps payloads dynamic
    * (map<string,string>, mirroring the reference's map[string]interface{}
    * rows, events.go:32-33), and a consumer materializes TYPED columns at
    * the table boundary with one cast per registered column. `registry` is
    * (column name -> Catalyst type DDL), the analog of the pgoutput
    * relation registry's name/OID pairs (pgoutput.go:20-26). Keys absent
    * from the payload come out null; values that fail their cast degrade
    * to null rather than failing the stream — the counterpart of the
    * reference's decode-error degrade-to-string arm (pgoutput.go:636-638).
    * Pure codegen cast chain: no UDF, no shuffle.
    */
  def typedPayload(payload: Column, registry: Seq[(String, String)]): Seq[Column] =
    registry.map { case (name, ddl) =>
      element_at(payload, name).try_cast(ddl).as(name)
    }
}
