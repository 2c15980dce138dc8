package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** wal2json format-version-2 decoder, re-expressed with Spark built-ins
  * (`from_json` + map construction) instead of the reference's row-at-a-time
  * Go loop (reference: internal/parser/wal2json.go:112-170, schema at
  * wal2json.go:225-240).
  *
  * One JSON document per action: B(egin) / C(ommit) / I(nsert) / U(pdate) /
  * D(elete) / T(runcate). I/U/D carry `columns` (new image) and/or `identity`
  * (old image); T becomes a DDL event with empty images
  * (reference: tests/integration/cdc_truncate_test.go:35-48). Unknown actions
  * are dropped, mirroring wal2json.go:166-168.
  *
  * Everything here stays inside whole-stage codegen: `from_json`,
  * `map_from_entries`, `transform` — no UDFs, so at 100 TB the decode is a
  * pure narrow map stage with no shuffle.
  */
object Wal2Json {

  /** Spark read schema for a wal2json v2 action document.
    * `value` is StringType on purpose: wal2json emits numbers/bools/strings;
    * the reference degrades everything to its string form
    * (internal/parser/wal2json.go:236-240), and Jackson keeps the raw token
    * text when the target type is string.
    */
  val actionSchema: StructType = {
    val col = StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("value", StringType)
    ))
    StructType(Seq(
      StructField("action", StringType),
      StructField("xid", LongType),
      StructField("timestamp", StringType),
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("columns", ArrayType(col)),
      StructField("identity", ArrayType(col))
    ))
  }

  /** Multi-format PostgreSQL timestamp parse — the 8 layout fallbacks of the
    * reference (internal/parser/wal2json.go:186-221) as a `coalesce` of
    * `to_timestamp` attempts (SURVEY.md P6). All built-in, codegen'd.
    */
  def parsePgTimestamp(c: Column): Column = {
    // hour-only offset ('X': "+00") first — it is what PostgreSQL actually
    // emits; 'X' and 'XXX' ("+00:00") are mutually exclusive matchers
    // (to_timestamp requires full consumption), so ordering within each
    // pair is result-invariant and only affects how many fallbacks the
    // common case pays.
    val fmts = Seq(
      "yyyy-MM-dd HH:mm:ss.SSSSSSX",
      "yyyy-MM-dd HH:mm:ss.SSSSSSXXX",
      "yyyy-MM-dd HH:mm:ssX",
      "yyyy-MM-dd HH:mm:ssXXX",
      "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
      "yyyy-MM-dd'T'HH:mm:ssXXX",
      "yyyy-MM-dd HH:mm:ss.SSSSSS",
      "yyyy-MM-dd HH:mm:ss"
    )
    coalesce(fmts.map(f => try_to_timestamp(c, lit(f))): _*)
  }

  /** columns/identity array<struct<name,type,value>> -> map<name,value>.
    * Null array stays null (not an empty map) — the reference distinguishes
    * "no image" from "empty image".
    */
  private def colsToMap(c: Column): Column =
    when(c.isNotNull, map_from_entries(transform(c, x => struct(x("name"), x("value")))))

  /** Decode a DataFrame of raw wal2json lines into one row per WAL event.
    *
    * @param raw         input with `walStartCol` (long carrier position,
    *                    reference internal/parser/parser.go:21-26) and
    *                    `dataCol` (the JSON document text)
    * @param strict      reference parity for unparseable documents: the
    *                    reference classifies a wal2json decode error as
    *                    FATAL and stops the stream (wal2json.go:67-74,
    *                    DecodeErrors metric + setFatalError). strict=true
    *                    reproduces that — the first malformed line raises,
    *                    failing the query. The default (false) drops
    *                    malformed lines, the lenient mode a batch backfill
    *                    over dirty archives usually wants.
    * @return columns: operation, is_begin, is_commit, schema_name, table_name,
    *         old_values, new_values, txid, action_time, wal_start
    */
  def decode(raw: DataFrame, walStartCol: String = "wal_start",
      dataCol: String = "data", strict: Boolean = false): DataFrame = {
    // strict = FAILFAST JSON parsing: the first malformed document fails
    // the query, mirroring the reference's fatal decode-error
    // classification (wal2json.go:67-74). A valid JSON object merely
    // MISSING fields is not an error in either engine (Go unmarshal
    // leaves action empty -> dropped as unknown action; PERMISSIVE-shape
    // missing fields -> null action -> same filter). Default is lenient:
    // malformed lines drop — what a batch backfill over dirty archives
    // wants.
    val j =
      if (strict) from_json(col(dataCol), actionSchema, Map("mode" -> "FAILFAST"))
      else from_json(col(dataCol), actionSchema)
    raw
      .withColumn("_a", j)
      .select(
        col(s"$walStartCol").as("wal_start"),
        col("_a.action").as("action"),
        coalesce(col("_a.xid"), lit(0L)).as("txid"),
        parsePgTimestamp(col("_a.timestamp")).as("action_time"),
        col("_a.schema").as("schema_name"),
        col("_a.table").as("table_name"),
        colsToMap(col("_a.identity")).as("old_values"),
        colsToMap(col("_a.columns")).as("new_values")
      )
      // unknown/unsupported actions dropped (wal2json.go:166-168)
      .filter(col("action").isin("B", "C", "I", "U", "D", "T"))
      .select(
        col("wal_start"),
        expr("""CASE action WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE'
                            WHEN 'D' THEN 'DELETE' WHEN 'T' THEN 'DDL'
                            ELSE action END""").as("operation"),
        (col("action") === "B").as("is_begin"),
        (col("action") === "C").as("is_commit"),
        col("schema_name"), col("table_name"),
        // TRUNCATE: empty before AND after (cdc_truncate_test.go:35-48)
        when(col("action") === "T", map().cast(MapType(StringType, StringType)))
          .otherwise(col("old_values")).as("old_values"),
        when(col("action") === "T", map().cast(MapType(StringType, StringType)))
          .otherwise(col("new_values")).as("new_values"),
        col("txid"), col("action_time")
      )
  }

  /** Header-only parse for the streaming pipeline: just enough to drive
    * transaction assembly and the table allowlist — (action, xid,
    * timestamp, schema, table) — while the document rides along raw. The
    * expensive part of the full parse (columns/identity arrays → maps) is
    * deferred to [[decodePayload]] AFTER assembly, where begin/commit
    * markers have already been consumed: fewer rows pay it, and the
    * stateful operator's encoder/state carry one string instead of two
    * maps.
    *
    * Output: wal_start, data, action, txid, action_time, schema_name,
    * table_name; unknown/unsupported actions dropped (wal2json.go:166-168).
    *
    * `action_time` is parsed ONLY for commit markers: assembly stamps every
    * event of a transaction with its COMMIT's time (the reference does the
    * same, pgoutput.go:283-304), so data-row timestamps are never read —
    * and the multi-layout parse is the expensive part of the header. With
    * ~100 events/tx that is ~1% of the parse work.
    */
  def decodeHeader(raw: DataFrame, walStartCol: String = "wal_start",
      dataCol: String = "data"): DataFrame = {
    val headerSchema = StructType(Seq(
      StructField("action", StringType),
      StructField("xid", LongType),
      StructField("timestamp", StringType),
      StructField("schema", StringType),
      StructField("table", StringType)))
    raw
      .withColumn("_h", from_json(col(dataCol), headerSchema))
      .select(
        col(s"$walStartCol").as("wal_start"),
        col(dataCol).as("data"),
        col("_h.action").as("action"),
        coalesce(col("_h.xid"), lit(0L)).as("txid"),
        when(col("_h.action") === "C", parsePgTimestamp(col("_h.timestamp")))
          .as("action_time"),
        col("_h.schema").as("schema_name"),
        col("_h.table").as("table_name"))
      .filter(col("action").isin("B", "C", "I", "U", "D", "T"))
  }

  /** Payload parse of assembled raw lines (StreamingTxAssembly.assembleRaw
    * output): full wal2json decode of `data`, emitting the
    * column shape Transform.normalize expects. Only data
    * rows reach here — markers were consumed by assembly.
    */
  def decodePayload(assembled: DataFrame, dataCol: String = "data"): DataFrame =
    assembled
      .withColumn("_a", from_json(col(dataCol), actionSchema))
      .select(
        col("wal_start"),
        expr("""CASE _a.action WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE'
                               WHEN 'D' THEN 'DELETE' WHEN 'T' THEN 'DDL'
                               ELSE _a.action END""").as("operation"),
        col("_a.schema").as("schema_name"),
        col("_a.table").as("table_name"),
        when(col("_a.action") === "T", map().cast(MapType(StringType, StringType)))
          .otherwise(colsToMap(col("_a.identity"))).as("old_values"),
        when(col("_a.action") === "T", map().cast(MapType(StringType, StringType)))
          .otherwise(colsToMap(col("_a.columns"))).as("new_values"),
        col("txid"), col("seq_in_tx"), col("commit_time"), col("commit_lsn"))

  /** Table-allowlist filter (reference F1: internal/parser/wal2json.go:173-179;
    * empty allowlist = pass-all). Applied as a plain Catalyst predicate so it
    * pushes through the projection; at the source level the same restriction
    * belongs in the Postgres publication (SURVEY.md §4 pushdown row).
    */
  def filterTables(df: DataFrame, allow: Seq[String]): DataFrame =
    if (allow.isEmpty) df
    else df.filter(
      col("is_begin") || col("is_commit") ||
      concat_ws(".", col("schema_name"), col("table_name")).isin(allow: _*))
}
