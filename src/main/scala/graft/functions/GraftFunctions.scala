package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-surface registration of the engine's scalar functions as SQL UDFs
  * (CREATE TEMPORARY FUNCTION ... RETURN <expr>). SQL UDFs are inlined by
  * Catalyst into the calling plan — they stay inside whole-stage codegen,
  * unlike JVM closure UDFs, so `spark.sql` users get the same performance
  * as the Column API in graft.cdc.Transform / graft.ops.TextAnalysis.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    // canonical X/Y LSN rendering (Transform.lsnString). Case is mapped
    // with ASCII translate, not ICU-backed lower(), like the Column API
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_lsn(pos BIGINT)
      RETURNS STRING
      RETURN translate(hex(shiftrightunsigned(pos, 32)), 'ABCDEF', 'abcdef') || '/' ||
        translate(hex(pos & 4294967295), 'ABCDEF', 'abcdef')""")

    // deterministic idempotency key (Transform.eventId; transformer.go:85-106)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_event_id(
        lsn STRING, txid BIGINT, op STRING, schema_name STRING,
        table_name STRING, seq BIGINT)
      RETURNS STRING
      RETURN concat_ws(':', lsn, txid, op, concat_ws('.', schema_name, table_name), seq)""")

    // subject routing (Transform.subject; publisher.go:196-210)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_subject(
        db STRING, schema_name STRING, table_name STRING)
      RETURNS STRING
      RETURN concat_ws('.', 'cdc', db, schema_name, table_name)""")

    // portable 48-bit content hash (TextAnalysis.hash48)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_hash48(s STRING)
      RETURNS BIGINT
      RETURN cast(conv(substring(md5(s), 1, 12), 16, 10) AS BIGINT)""")

    // operation -> event type (Transform.eventType; transformer.go:61-73)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_event_type(op STRING)
      RETURNS STRING
      RETURN 'cdc.' || translate(op, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        'abcdefghijklmnopqrstuvwxyz')""")

    // NATS-token sanitization (dlq.go:56-63)
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_sanitize_token(s STRING)
      RETURNS STRING
      RETURN translate(s, ' *>', '___')""")
  }
}
