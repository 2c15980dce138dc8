package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.ByteBuffer
import java.sql.Timestamp
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.{DecodedWalEvent, PgSlotState}

/** pgoutput binary decoder (reference P1/P2:
  * internal/parser/pgoutput.go:156-347, 594-642), implemented against the
  * public PostgreSQL logical-replication protocol (message formats
  * documented in the PostgreSQL "Logical Replication Message Formats"
  * chapter): Relation / Begin / Commit / Insert / Update / Delete /
  * Truncate, with text-format tuple data — plus the protocol v2
  * streamed-transaction frames (Stream Start/Stop/Commit/Abort) a
  * streaming=on slot emits for large in-progress transactions, which the
  * reference (proto_version 1 pinned) cannot consume at all.
  *
  * Semantics preserved from the reference:
  *  - a per-stream relation registry updated by Relation messages at any
  *    point (pgoutput.go:216-230) — schema can change mid-stream and only
  *    affects later events (SURVEY.md §7.4.4);
  *  - tuple kinds: 'n' = NULL (map value null), 'u' = unchanged TOAST —
  *    key ABSENT from the map, distinct from null (pgoutput.go:608-617);
  *    't' = text-format value decoded as UTF-8;
  *  - Insert/Update/Delete inherit the txid of the enclosing Begin
  *    (pgoutput carries xid only on Begin);
  *  - Truncate emits one DDL event per affected relation with empty
  *    before/after images (pgoutput.go:306-331).
  *
  * Execution shape: the decoder is necessarily stateful ACROSS messages
  * (registry + current xid), so it runs as `mapPartitions` over a stream
  * that is partition-ordered — which a replication slot's output inherently
  * is (a WAL stream is serial; parallelism comes from downstream stages,
  * not the decode of one slot). Multiple slots/sources parallelize as
  * multiple partitions. The streaming path runs the same
  * [[DecodeSession]] inside the replication source's reader.
  */
object PgOutput {

  /** Relation registry entry (reference relationInfo, pgoutput.go:20-26);
    * the replication source ships it to its readers inside a
    * [[PgSlotState]] snapshot.
    */
  @SerialVersionUID(1L)
  case class RelationInfo(id: Int, schema: String, table: String,
      columns: Array[String], columnTypes: Array[Int])

  /** A structurally invalid pgoutput frame: truncated mid-field, negative
    * length/count, unterminated string, unknown tuple kind. Named so the
    * failure reads as "this frame is corrupt" with its WAL position —
    * never a bare BufferUnderflowException from the decoder's internals
    * (the reference degrades with an explicit parse error the same way,
    * pgoutput.go:630-638).
    */
  final class CorruptFrameException(msg: String)
      extends IllegalArgumentException(msg)

  private def corrupt(what: String): Nothing =
    throw new CorruptFrameException(what)

  /** PostgreSQL epoch (2000-01-01) offset from Unix epoch, in micros. */
  private val PgEpochMicros = 946684800000000L

  private def pgTimestamp(micros: Long): Timestamp = {
    val unixMicros = micros + PgEpochMicros
    val ts = new Timestamp(Math.floorDiv(unixMicros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(unixMicros, 1000000L) * 1000L).toInt)
    ts
  }

  private def readCString(b: ByteBuffer): String = {
    val sb = new java.io.ByteArrayOutputStream()
    if (!b.hasRemaining) corrupt("unterminated string (frame ends before NUL)")
    var c = b.get()
    while (c != 0) {
      sb.write(c.toInt)
      if (!b.hasRemaining) corrupt("unterminated string (frame ends before NUL)")
      c = b.get()
    }
    new String(sb.toByteArray, StandardCharsets.UTF_8)
  }

  /** TupleData -> column name -> value map. Returns (map, n columns read).
    * Unchanged-TOAST columns ('u') are omitted; NULLs ('n') map to null.
    */
  private def readTuple(b: ByteBuffer, rel: RelationInfo): Map[String, String] = {
    val n = b.getShort().toInt
    if (n < 0) corrupt(s"negative tuple column count $n")
    def field(len: Int): Array[Byte] = {
      if (len < 0) corrupt(s"negative field length $len")
      if (len > b.remaining()) corrupt(
        s"field length $len exceeds the ${b.remaining()} bytes left in the frame")
      val bytes = new Array[Byte](len)
      b.get(bytes)
      bytes
    }
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < n) {
      val name = if (i < rel.columns.length) rel.columns(i) else s"col_$i"
      b.get().toChar match {
        case 'n' => m += name -> null
        case 'u' => // unchanged TOAST: key absent (≠ null)
        case 't' =>
          m += name -> new String(field(b.getInt()), StandardCharsets.UTF_8)
        case 'b' => // binary format: preserve raw bytes as postgres-style
          // hex (`\x…`) — degraded-but-present, like the reference's
          // default arm (pgoutput.go:608-617), never silently null.
          m += name -> field(b.getInt())
            .map("%02x".format(_)).mkString("\\x", "", "")
        case other => corrupt(
          s"unknown tuple kind '$other' (0x${other.toInt.toHexString}) " +
            s"in column $i of ${rel.schema}.${rel.table}")
      }
      i += 1
    }
    m.result()
  }

  /** What a corrupt frame does mid-stream (the reference's parser-fatal
    * failure policy, parser.go:33-38 + config.go:101): "crash" fails with
    * the named [[CorruptFrameException]] taxonomy, "dlq" emits an
    * operation=CORRUPT marker row (error + payload forensics in
    * `new_values`) and decodes on, "skip" drops the frame.
    */
  val CorruptPolicies: Set[String] = Set("crash", "dlq", "skip")

  /** Stateful decode core, shared by the batch `mapPartitions` path
    * ([[decodePartition]]: one archive partition) and the replication
    * source (graft.sources.CopyBothSource), which keeps one session per
    * slot on the driver, advanced with [[track]], and ships a
    * [[snapshot]] with every planned range for its reader to [[restore]]
    * and decode from — the reference keeps its registry for the stream's
    * lifetime and replaces entries on Relation messages at any point,
    * pgoutput.go:216-230. The transaction cursor (current xid + commit ts
    * from the last Begin) is plain mutable fields.
    */
  final class DecodeSession {
    val registry: mutable.Map[Int, RelationInfo] = mutable.Map.empty
    var currentXid: Long = 0L
    var currentTs: Timestamp = null

    // ---- protocol v2 streamed-transaction cursor (streaming=on slots) ----
    // The open segment's top-level xid (-1 = between segments) and, per
    // in-flight streamed top-level tx, the (sub)transaction xids whose
    // changes were observed — StreamCommit fans its commit marker out to
    // every surviving member so each (sub)xid's rows assemble with the
    // commit metadata, and StreamAbort retracts one member (or the whole
    // tx). A streaming caller persists these across batches the same way
    // it persists currentXid/currentTs (the segment bracket and the
    // in-flight set both outlive a micro-batch).
    var streamTop: Long = -1L
    val streamXids: mutable.Map[Long, mutable.LinkedHashSet[Long]] =
      mutable.Map.empty
    // streamed top-level xids ended by StreamPrepare and not yet resolved:
    // once the prepare is confirmed, a new session re-sends only the
    // resolution, so their members are the one part of the context a
    // slot cannot rebuild ([[preparedStreams]])
    val prepared: mutable.Set[Long] = mutable.Set.empty

    /** The session's state as an immutable value. */
    def snapshot: PgSlotState = PgSlotState(registry.toMap, currentXid,
      currentTs, streamTop,
      streamXids.map { case (top, xids) => top -> xids.toSeq }.toMap,
      prepared.toSet)

    /** Members of the prepared, unresolved streamed transactions. */
    def preparedStreams: Map[Long, Seq[Long]] =
      prepared.iterator.map(x => x -> streamXids.get(x).fold(Seq(x))(_.toSeq)).toMap

    /** Merge [[preparedStreams]] taken from an earlier session: a member
      * set only grows until its resolution, so merging is idempotent with
      * a slot that re-sends the stream too. */
    def resume(streams: Map[Long, Seq[Long]]): this.type = {
      streams.foreach { case (top, xids) =>
        streamXids.getOrElseUpdate(top, mutable.LinkedHashSet(top)) ++= xids
        prepared += top
      }
      this
    }

    /** Replace this session's state with `st`. */
    def restore(st: PgSlotState): this.type = {
      registry.clear(); registry ++= st.relations
      currentXid = st.xid
      currentTs = st.ts
      streamTop = st.streamTop
      streamXids.clear()
      st.streams.foreach { case (top, xids) =>
        streamXids(top) = mutable.LinkedHashSet(xids: _*)
      }
      prepared.clear(); prepared ++= st.prepared
      this
    }

    private def relation(b: ByteBuffer, walStart: Long): RelationInfo = {
      val id = b.getInt()
      registry.getOrElse(id, throw new IllegalStateException(
        s"pgoutput: data message at wal_start=$walStart references " +
          s"relation $id with no prior Relation message"))
    }

    def decode(walStart: Long, data: Array[Byte]): Seq[DecodedWalEvent] =
      try decodeFrame(walStart, data, rows = true)
      catch {
        // any read past the end of the frame is a truncation — surface
        // the WAL position and size, never a bare BufferUnderflow
        case _: java.nio.BufferUnderflowException =>
          corrupt(s"pgoutput: truncated frame at wal_start=$walStart " +
            s"(${data.length} bytes)")
        case e: CorruptFrameException =>
          corrupt(s"pgoutput: corrupt frame at wal_start=$walStart: " +
            e.getMessage)
      }

    /** [[decode]] under a corrupt-frame policy ([[CorruptPolicies]]). */
    def decode(walStart: Long, data: Array[Byte],
        corruptPolicy: String): Seq[DecodedWalEvent] =
      try decode(walStart, data)
      catch {
        case e @ (_: CorruptFrameException | _: IllegalStateException)
            if corruptPolicy != "crash" =>
          if (corruptPolicy == "skip") Nil
          else Seq(DecodedWalEvent(walStart, "CORRUPT",
            is_begin = false, is_commit = false, null, null, null,
            Map("error" -> e.getMessage,
              "payload_size" -> data.length.toString,
              // forensic prefix, hex — 256 bytes covers any frame header
              "payload_prefix_hex" ->
                data.take(256).map("%02x".format(_)).mkString),
            currentXid, currentTs))
      }

    /** Advance the session over one frame exactly as [[decode]] does —
      * registry, xid/ts cursor, `streamTop`, `streamXids`, `prepared` — without
      * reading tuples or building rows. A frame [[decode]] rejects leaves
      * the state where [[decode]] leaves it (both stop at the same read),
      * and nothing is thrown: the caller is the driver, which must not
      * fail where a dlq/skip reader decodes on.
      */
    def track(walStart: Long, data: Array[Byte]): Unit =
      try { decodeFrame(walStart, data, rows = false); () }
      catch { case NonFatal(_) => () }

    // `rows = false` is [[track]]: every state change and every read that
    // precedes one happens; tuple data, which follows them all, is not read
    private def decodeFrame(walStart: Long, data: Array[Byte],
        rows: Boolean): Seq[DecodedWalEvent] = {
      def emit(evs: => Seq[DecodedWalEvent]): Seq[DecodedWalEvent] =
        if (rows) evs else Nil
      val b = ByteBuffer.wrap(data)
      if (!b.hasRemaining) corrupt("empty frame")
      val msgType = b.get().toChar
      // protocol v2: every transactional message between StreamStart and
      // StreamStop carries its own Int32 (sub)transaction xid right after
      // the type byte; outside segments the v1 layout applies and data
      // rows stamp the Begin cursor
      val inSeg = streamTop >= 0L
      val evXid: Long =
        if (inSeg && "RIUDTM".indexOf(msgType) >= 0) {
          val x = b.getInt().toLong & 0xffffffffL
          streamXids.getOrElseUpdate(streamTop,
            mutable.LinkedHashSet(streamTop)) += x
          x
        } else currentXid
      val evTs: Timestamp = if (inSeg) null else currentTs
      msgType match {
        case 'R' =>
          val id = b.getInt()
          val schema0 = readCString(b)
          val schema = if (schema0.isEmpty) "pg_catalog" else schema0
          val table = readCString(b)
          b.get() // replica identity
          val ncols = b.getShort().toInt
          if (ncols < 0) corrupt(s"negative relation column count $ncols")
          val names = new Array[String](ncols)
          val oids = new Array[Int](ncols)
          var i = 0
          while (i < ncols) {
            b.get() // flags
            names(i) = readCString(b)
            oids(i) = b.getInt()
            b.getInt() // typmod
            i += 1
          }
          registry(id) = RelationInfo(id, schema, table, names, oids)
          Nil
        case 'B' =>
          b.getLong() // final LSN
          currentTs = pgTimestamp(b.getLong())
          currentXid = b.getInt().toLong & 0xffffffffL
          emit(Seq(DecodedWalEvent(walStart, "B", is_begin = true,
            is_commit = false, null, null, null, null, currentXid, currentTs)))
        case 'C' =>
          b.get() // flags
          b.getLong() // commit LSN
          b.getLong() // end LSN
          val ts = pgTimestamp(b.getLong())
          emit(Seq(DecodedWalEvent(walStart, "C", is_begin = false,
            is_commit = true, null, null, null, null, currentXid, ts)))
        case 'I' =>
          val rel = relation(b, walStart)
          emit {
            val ik = b.get().toChar
            if (ik != 'N') corrupt(s"INSERT expects new tuple 'N', got '$ik'")
            val nv = readTuple(b, rel)
            Seq(DecodedWalEvent(walStart, "INSERT", is_begin = false,
              is_commit = false, rel.schema, rel.table, null, nv, evXid, evTs))
          }
        case 'U' =>
          val rel = relation(b, walStart)
          emit {
            var old: Map[String, String] = null
            var kind = b.get().toChar
            if (kind == 'K' || kind == 'O') {
              old = readTuple(b, rel)
              kind = b.get().toChar
            }
            if (kind != 'N') corrupt(s"UPDATE expects new tuple 'N', got '$kind'")
            val nv = readTuple(b, rel)
            Seq(DecodedWalEvent(walStart, "UPDATE", is_begin = false,
              is_commit = false, rel.schema, rel.table, old, nv, evXid, evTs))
          }
        case 'D' =>
          val rel = relation(b, walStart)
          emit {
            val kind = b.get().toChar
            if (kind != 'K' && kind != 'O')
              corrupt(s"DELETE expects key/old tuple 'K'/'O', got '$kind'")
            val ov = readTuple(b, rel)
            Seq(DecodedWalEvent(walStart, "DELETE", is_begin = false,
              is_commit = false, rel.schema, rel.table, ov, null, evXid, evTs))
          }
        case 'T' => emit {
          val nrels = b.getInt()
          b.get() // options (cascade/restart identity)
          (0 until nrels).flatMap { _ =>
            registry.get(b.getInt()).map { rel =>
              // truncate -> DDL with empty before AND after images
              DecodedWalEvent(walStart, "DDL", is_begin = false, is_commit = false,
                rel.schema, rel.table, Map.empty, Map.empty, evXid, evTs)
            }
          }
        }
        // Logical decoding message (pg_logical_emit_message) — the
        // transactional-OUTBOX frame. The reference's dispatch has no arm
        // for it (pgoutput.go:214-330 switch); here it decodes into a
        // routable event under the synthetic "pg_message" namespace with
        // the prefix as the table (the Debezium outbox-routing shape): a
        // transactional message rides its surrounding transaction's
        // xid/ts through assembly, a non-transactional one stands alone
        // (xid 0, no tx timestamp — it can arrive outside any B..C span).
        case 'M' => emit {
          val transactional = (b.get() & 1) == 1
          b.getLong() // message LSN
          val prefix = readCString(b)
          val len = b.getInt()
          if (len < 0 || len > b.remaining())
            corrupt(s"MESSAGE content length $len exceeds frame")
          val content = new Array[Byte](len)
          b.get(content)
          // `content` is a UTF-8 TEXT RENDERING — convenient for the
          // common JSON-outbox payload but lossy for arbitrary bytes
          // (pg_logical_emit_message allows Avro/protobuf payloads).
          // `content_base64` carries the exact bytes losslessly; binary
          // consumers must decode THAT, never `content`.
          Seq(DecodedWalEvent(walStart, "MESSAGE", is_begin = false,
            is_commit = false, "pg_message", prefix, null,
            Map("prefix" -> prefix,
              "content" -> new String(content,
                java.nio.charset.StandardCharsets.UTF_8),
              "content_base64" ->
                java.util.Base64.getEncoder.encodeToString(content),
              "transactional" -> transactional.toString),
            if (transactional) evXid else 0L,
            if (transactional) evTs else null))
        }
        // parseable-but-unhandled message types are ignored like the
        // reference's switch without a default arm (origin 'O', type
        // metadata 'Y')
        case 'O' | 'Y' => Nil
        // ---- protocol v2 streamed in-progress transactions (r10 —
        // BEYOND the reference, which pins proto_version 1): a slot
        // opened with streaming=on delivers large transactions BEFORE
        // commit as interleaved segments, each bracketed by
        // StreamStart('S')/StreamStop('E'), with every in-segment
        // message carrying its own (sub)transaction xid (parsed above).
        // StreamCommit('c') fans a commit marker out to every observed
        // surviving (sub)xid so each group assembles with the commit
        // metadata; StreamAbort('A') emits an ABORT marker for the
        // aborted (sub)xid — assembly drops that group's rows (the
        // apply-worker file-truncation analog, expressed relationally).
        case 'S' =>
          if (inSeg) corrupt(
            s"StreamStart inside an open segment (top=$streamTop)")
          val xid = b.getInt().toLong & 0xffffffffL
          b.get() // first-segment flag
          streamTop = xid
          streamXids.getOrElseUpdate(xid,
            mutable.LinkedHashSet(xid))
          Nil
        case 'E' =>
          if (!inSeg) corrupt("StreamStop without an open segment")
          streamTop = -1L
          Nil
        case 'c' =>
          val xid = b.getInt().toLong & 0xffffffffL
          b.get() // flags
          b.getLong() // commit LSN
          b.getLong() // end LSN
          val ts = pgTimestamp(b.getLong())
          prepared -= xid
          val members = streamXids.remove(xid)
            .map(_.toSeq)
            .getOrElse(Seq(xid))
          emit(members.map(x => DecodedWalEvent(walStart, "C", is_begin = false,
            is_commit = true, null, null, null, null, x, ts)))
        case 'A' =>
          val xid = b.getInt().toLong & 0xffffffffL
          val subXid = b.getInt().toLong & 0xffffffffL
          // protocol v4 (streaming=parallel, PG 16+) appends two Int64s:
          // abort LSN + abort timestamp.  Presence follows the negotiated
          // version, which the frame length mirrors exactly — 9 bytes
          // through v3, 25 bytes at v4; anything between is truncation.
          val abortTs: Timestamp =
            if (b.remaining() == 16) { b.getLong(); pgTimestamp(b.getLong()) }
            else if (b.remaining() == 0) null
            else corrupt(s"StreamAbort with ${b.remaining()} trailing " +
              "bytes (v2/v3 appends 0, v4 appends exactly 16)")
          if (subXid == xid) {
            // Whole-transaction abort: fan the ABORT out to EVERY
            // observed member, mirroring StreamCommit — rows streamed
            // under subtransaction xids were emitted stamped with their
            // own subxid, so retracting only the top xid would leave
            // those groups with neither marker and assembly's coalesce
            // fallback would emit the rolled-back rows as committed.
            prepared -= xid
            val members = streamXids.remove(xid)
              .map(_.toSeq)
              .getOrElse(Seq(xid))
            emit(members.map(x => DecodedWalEvent(walStart, "ABORT",
              is_begin = false, is_commit = false,
              null, null, null, null, x, abortTs)))
          } else {
            streamXids.get(xid).foreach(_ -= subXid)
            emit(Seq(DecodedWalEvent(walStart, "ABORT", is_begin = false,
              is_commit = false, null, null, null, null, subXid, abortTs)))
          }
        // ---- two-phase commit (two_phase slots, PG 15+): a PREPARE
        // TRANSACTION delivers BeginPrepare..changes..Prepare, then —
        // possibly many micro-batches later — CommitPrepared or
        // RollbackPrepared with the same xid resolves it. Relationally:
        // BeginPrepare opens the transaction cursor exactly like Begin
        // (rows buffer under the xid in assembly), Prepare emits NOTHING
        // (the group stays pending — the same posture assembly already
        // takes for any uncommitted tx), CommitPrepared emits the commit
        // marker (stamping the group with the COMMIT PREPARED time) and
        // RollbackPrepared an ABORT marker. A streamed transaction can
        // also end in StreamPrepare ('p') instead of StreamCommit: its
        // member set stays alive until the resolving K/r, which fans its
        // marker out to every member like StreamCommit/whole-StreamAbort.
        case 'b' =>
          b.getLong() // prepare LSN
          b.getLong() // end LSN
          currentTs = pgTimestamp(b.getLong())
          currentXid = b.getInt().toLong & 0xffffffffL
          readCString(b) // gid
          emit(Seq(DecodedWalEvent(walStart, "B", is_begin = true,
            is_commit = false, null, null, null, null, currentXid, currentTs)))
        case 'P' =>
          b.get() // flags
          b.getLong(); b.getLong(); b.getLong() // LSNs + prepare ts
          b.getInt() // xid
          readCString(b) // gid
          Nil
        case 'p' =>
          b.get() // flags
          b.getLong(); b.getLong(); b.getLong()
          val xid = b.getInt().toLong & 0xffffffffL
          readCString(b)
          // keep (or, after state loss, recreate) streamXids(xid): the
          // member set must survive until the resolving CommitPrepared/
          // RollbackPrepared. An unknown xid degrades to a singleton set
          // — the same getOrElse(Seq(xid)) posture the resolution frames
          // ('c'/'K'/'r') take for a slice that starts mid-transaction,
          // NOT a corrupt frame.
          streamXids.getOrElseUpdate(xid,
            mutable.LinkedHashSet(xid))
          prepared += xid
          Nil
        case 'K' =>
          b.get() // flags
          b.getLong(); b.getLong() // commit LSN, end LSN
          val ts = pgTimestamp(b.getLong())
          val xid = b.getInt().toLong & 0xffffffffL
          readCString(b)
          prepared -= xid
          val members = streamXids.remove(xid).map(_.toSeq).getOrElse(Seq(xid))
          emit(members.map(x => DecodedWalEvent(walStart, "C", is_begin = false,
            is_commit = true, null, null, null, null, x, ts)))
        case 'r' =>
          b.get() // flags
          b.getLong(); b.getLong(); b.getLong(); b.getLong() // LSNs + both ts
          val xid = b.getInt().toLong & 0xffffffffL
          readCString(b)
          prepared -= xid
          val members = streamXids.remove(xid).map(_.toSeq).getOrElse(Seq(xid))
          emit(members.map(x => DecodedWalEvent(walStart, "ABORT",
            is_begin = false, is_commit = false, null, null, null, null,
            x, null)))
        // anything else is an unparseable frame — the reference's
        // pglogrepl.Parse would error and the stream would classify it
        // fatal (parser.go:33-38); CorruptFrameException keeps it under
        // the same crash/dlq/skip failure policy as truncation
        case other => corrupt( // decode() prefixes the WAL position
          s"unparseable message type 0x${other.toInt.toHexString}")
      }
    }
  }

  /** Streaming decode of one partition's ordered pgoutput messages.
    * Registry and current-transaction id persist across the iterator.
    */
  def decodePartition(it: Iterator[(Long, Array[Byte])]): Iterator[DecodedWalEvent] = {
    val session = new DecodeSession
    it.flatMap { case (walStart, data) => session.decode(walStart, data) }
  }

  /** Decode a DataFrame of (wal_start: long, data: binary) pgoutput frames
    * into the same shape as Wal2Json.decode.
    */
  def decode(spark: SparkSession, raw: DataFrame,
      walStartCol: String = "wal_start", dataCol: String = "data"): DataFrame = {
    import spark.implicits._
    raw.select(walStartCol, dataCol).as[(Long, Array[Byte])]
      .mapPartitions(decodePartition)
      .toDF()
  }
}
