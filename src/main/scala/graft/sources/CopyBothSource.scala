package graft.sources

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.PgOutput
import graft.streaming.{DecodedWalEvent, PgSlotState, StateBlob}

/** CopyBoth replication framing (reference internal/wal/reader.go:408-489),
  * implemented against the PUBLIC PostgreSQL streaming-replication protocol
  * (the "Streaming Replication Protocol" chapter's message formats): the
  * three messages that flow inside CopyData once START_REPLICATION has
  * switched the connection to CopyBoth mode.
  *
  *   XLogData            'w' | walStart i64 | walEnd i64 | serverClock i64 | payload
  *   PrimaryKeepalive    'k' | walEnd i64 | serverClock i64 | replyRequested u8
  *   StandbyStatusUpdate 'r' | written i64 | flushed i64 | applied i64 | clock i64 | reply u8
  *
  * Pure byte codec — no socket types — so the same framing serves the
  * in-memory stub connection here and a pgconn-backed socket later.
  */
object CopyBothFraming {

  sealed trait Frame
  final case class XLogData(walStart: Long, walEnd: Long, serverClock: Long,
      payload: Array[Byte]) extends Frame
  final case class PrimaryKeepalive(walEnd: Long, serverClock: Long,
      replyRequested: Boolean) extends Frame

  def parse(data: Array[Byte]): Frame = {
    require(data.length >= 1, "empty CopyData payload")
    val b = ByteBuffer.wrap(data) // big-endian, the wire order
    b.get().toChar match {
      case 'w' =>
        require(data.length >= 25, s"XLogData header needs 25 bytes, got ${data.length}")
        val start = b.getLong(); val end = b.getLong(); val clock = b.getLong()
        val payload = new Array[Byte](b.remaining()); b.get(payload)
        XLogData(start, end, clock, payload)
      case 'k' =>
        require(data.length >= 18, s"keepalive needs 18 bytes, got ${data.length}")
        PrimaryKeepalive(b.getLong(), b.getLong(), b.get() != 0)
      case other => throw new IllegalArgumentException(
        s"unknown CopyBoth message type '$other' (0x${other.toInt.toHexString})")
    }
  }

  def xlogData(walStart: Long, walEnd: Long, serverClock: Long,
      payload: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(25 + payload.length)
    b.put('w'.toByte).putLong(walStart).putLong(walEnd).putLong(serverClock)
      .put(payload)
    b.array()
  }

  def keepalive(walEnd: Long, serverClock: Long,
      replyRequested: Boolean): Array[Byte] = {
    val b = ByteBuffer.allocate(18)
    b.put('k'.toByte).putLong(walEnd).putLong(serverClock)
      .put(if (replyRequested) 1.toByte else 0.toByte)
    b.array()
  }

  /** Standby feedback: all three positions carry the same confirmed
    * position, like the reference (reader.go:594-605 sends
    * XLogPos = flushed = applied = the ack ledger head).
    */
  def standbyStatusUpdate(position: Long, clock: Long,
      replyRequested: Boolean = false): Array[Byte] = {
    val b = ByteBuffer.allocate(34)
    b.put('r'.toByte).putLong(position).putLong(position).putLong(position)
      .putLong(clock).put(if (replyRequested) 1.toByte else 0.toByte)
    b.array()
  }
}

/** The connection seam a CopyBoth source reads from: production implements
  * this over a socket (pgconn's CopyBoth conduit); tests implement it over
  * an in-memory queue. `receive` yields one CopyData payload per call (or
  * None when nothing is buffered); `send` carries StandbyStatusUpdate
  * bytes back to the server.
  */
trait ReplicationConnection {
  def receive(): Option[Array[Byte]]
  def send(copyData: Array[Byte]): Unit
}

/** In-memory [[ReplicationConnection]]: a bare frame queue plus a log of
  * the standby feedback sent back — the single-connection stub for codec
  * and keepalive tests.
  */
final class InMemoryReplicationConnection extends ReplicationConnection
    with AutoCloseable {
  private val inbox = new ConcurrentLinkedQueue[Array[Byte]]()
  private val feedback = new ConcurrentLinkedQueue[Array[Byte]]()
  @volatile var closed = false

  override def close(): Unit = closed = true
  def deliver(frame: Array[Byte]): Unit = inbox.add(frame)
  override def receive(): Option[Array[Byte]] = Option(inbox.poll())
  override def send(copyData: Array[Byte]): Unit = feedback.add(copyData)

  /** Confirmed positions from received StandbyStatusUpdate frames. */
  def confirmedPositions: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    feedback.iterator().asScala.map { bytes =>
      val b = ByteBuffer.wrap(bytes)
      require(b.get().toChar == 'r', "standby feedback must be 'r'")
      b.getLong() // written (= flushed = applied here)
    }.toSeq
  }
}

/** In-memory replication SERVER stub with the slot-retention semantics a
  * real primary provides (and which the live source's replay guarantee
  * leans on): XLogData frames are RETAINED until standby feedback confirms
  * them — `confirmed_flush_lsn` only advances on feedback, and every new
  * connection re-delivers everything after the confirmed position (what
  * `START_REPLICATION slot ... <confirmed_lsn>` does on reconnect,
  * reader.go:311-357). Like Postgres's walsender, a new session also
  * re-sends each pgoutput transaction still open at that position from
  * its Begin (or first StreamStart; of a streamed transaction whose
  * StreamPrepare is confirmed, only the resolution), and the latest
  * Relation message of every relation before anything else
  * ([[sessionStart]]). This is what makes a restarted stream instance
  * stateless: its state is the server's slot + the engine's checkpointed
  * offset, never reader memory — the pgoutput decode context included
  * (the members of a confirmed StreamPrepare ride the offset).
  */
final class InMemoryReplicationServer {
  // (lsn, XLogData frame, is a pgoutput frame)
  private val retained = mutable.ArrayBuffer[(Long, Array[Byte], Boolean)]()
  private var confirmed = 0L
  private val feedbackLog = mutable.ArrayBuffer[Long]()

  def deliver(lsn: Long, line: String, serverClock: Long = 0L): Unit =
    retain(lsn, line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      serverClock, pgoutput = false)

  /** Binary payload delivery — pgoutput frames ride XLogData as raw bytes
    * (the reference's default plugin produces binary messages, not text).
    */
  def deliverBytes(lsn: Long, payload: Array[Byte],
      serverClock: Long = 0L): Unit =
    retain(lsn, payload, serverClock, pgoutput = true)

  private def retain(lsn: Long, payload: Array[Byte], serverClock: Long,
      pgoutput: Boolean): Unit = synchronized {
    retained += ((lsn, CopyBothFraming.xlogData(lsn, lsn, serverClock,
      payload), pgoutput))
  }

  /** Standby feedback positions received, in arrival order. */
  def feedbackPositions: Seq[Long] = synchronized(feedbackLog.toSeq)

  /** Where a new session starts and what it sends first. The start is
    * the first retained frame past the confirmed position, rewound to the
    * Begin/BeginPrepare of a pgoutput transaction open there and to the
    * first StreamStart of every streamed one not yet committed, aborted
    * or prepared (the slot re-sends an unconfirmed transaction whole, and
    * of a confirmed prepare only the CommitPrepared/RollbackPrepared),
    * then over the walStart-0 metadata frames just before it. The prelude
    * is the latest Relation message of each relation retained before the
    * start, in protocol-v1 layout at walStart 0: a session sends a
    * relation's metadata before its first use in that session. A frame
    * this scan cannot parse moves nothing.
    */
  private def sessionStart(): (Int, Seq[Array[Byte]]) = synchronized {
    val resume = retained.indexWhere(_._1 > confirmed) match {
      case -1 => retained.size
      case i => i
    }
    def message(k: Int): ByteBuffer = {
      val frame = retained(k)._2
      ByteBuffer.wrap(frame, 25, frame.length - 25)
    }
    def xid(b: ByteBuffer): Long = b.getInt().toLong & 0xffffffffL
    val inSegment = new Array[Boolean](resume) // before frame k's message
    var segment = false
    var openTx = -1
    val openStreams = mutable.Map.empty[Long, Int]
    for (k <- 0 until resume if retained(k)._3) {
      inSegment(k) = segment
      val b = message(k)
      try b.get().toChar match {
        case 'B' | 'b' if !segment => openTx = k
        case 'C' | 'P' if !segment => openTx = -1
        case 'S' => openStreams.getOrElseUpdate(xid(b), k); segment = true
        case 'E' => segment = false
        case 'c' => openStreams.remove(xid(b))
        case 'A' => val top = xid(b); if (xid(b) == top) openStreams.remove(top)
        // a confirmed StreamPrepare is not re-sent: only its resolution is
        case 'p' | 'K' => b.position(b.position() + 25); openStreams.remove(xid(b))
        case 'r' => b.position(b.position() + 33); openStreams.remove(xid(b))
        case _ => ()
      } catch { case _: java.nio.BufferUnderflowException => () }
    }
    var start = (openStreams.values.toSeq :+ openTx :+ resume).filter(_ >= 0).min
    while (start > 0 && retained(start - 1)._1 == 0L) start -= 1
    // relation id -> its latest Relation message before the start
    val relations = mutable.LinkedHashMap.empty[Int, Array[Byte]]
    for (k <- 0 until start if retained(k)._3) {
      val b = message(k)
      try if (b.get() == 'R'.toByte) {
        if (inSegment(k)) xid(b)
        val body = new Array[Byte](b.remaining() + 1)
        body(0) = 'R'.toByte
        b.get(body, 1, body.length - 1)
        val id = ByteBuffer.wrap(body, 1, 4).getInt()
        relations.remove(id)
        relations(id) = body
      } catch { case _: RuntimeException => () }
    }
    (start, relations.values.toSeq.map(CopyBothFraming.xlogData(0L, 0L, 0L, _)))
  }

  def connect(): ReplicationConnection = new ReplicationConnection {
    private val (start, prelude) = sessionStart()
    private val ahead = mutable.Queue(prelude: _*)
    // session cursor: next retained frame not yet sent on THIS connection
    private var cursor = start
    override def receive(): Option[Array[Byte]] =
      InMemoryReplicationServer.this.synchronized {
        if (ahead.nonEmpty) Some(ahead.dequeue())
        else if (cursor < retained.size) {
          val f = retained(cursor)._2; cursor += 1; Some(f)
        } else None
      }
    override def send(copyData: Array[Byte]): Unit =
      InMemoryReplicationServer.this.synchronized {
        val b = ByteBuffer.wrap(copyData)
        require(b.get().toChar == 'r', "client sends only StandbyStatusUpdate")
        val pos = b.getLong()
        feedbackLog += pos
        if (pos > confirmed) confirmed = pos
        // slot retention: confirmed WAL is releasable. (Frames are kept
        // here so open sessions' cursors stay valid; a real slot frees
        // the segments.)
      }
  }
}

/** LSN offset of the CopyBoth stream: the position of the last admitted
  * XLogData message. In pgoutput mode it also carries the members of the
  * streamed transactions prepared and not yet resolved at `lsn`
  * ([[PgOutput.DecodeSession.preparedStreams]]): once such a prepare is
  * confirmed, a new session re-sends only its CommitPrepared or
  * RollbackPrepared, so the checkpointed offset is where a restarted
  * stream finds them. Without any, the JSON is the bare lsn.
  */
final case class LsnOffset(lsn: Long,
    prepared: Map[Long, Seq[Long]] = Map.empty) extends Offset {
  override def json(): String = {
    import org.json4s._
    if (prepared.isEmpty) lsn.toString
    else jackson.JsonMethods.compact(JObject(
      "lsn" -> JLong(lsn),
      "prepared" -> JObject(prepared.toList.sortBy(_._1).map { case (top, xids) =>
        top.toString -> JArray(xids.map(JLong(_)).toList)
      })))
  }
}

object LsnOffset {
  def parse(json: String): LsnOffset =
    if (!json.startsWith("{")) LsnOffset(json.toLong)
    else {
      import org.json4s._
      def long(v: JValue): Long = v.asInstanceOf[JInt].num.toLong
      val o = jackson.JsonMethods.parse(json)
      LsnOffset(long(o \ "lsn"),
        (o \ "prepared").asInstanceOf[JObject].obj.map { case (top, xids) =>
          top.toLong -> xids.children.map(long)
        }.toMap)
    }
}

/** One planned (start, end] range of admitted messages. In pgoutput mode
  * `context` is the slot's decode context as of the range start (a
  * [[StateBlob]] of [[PgSlotState]]) and the reader decodes the frames
  * from it under `corruptPolicy`; in text mode it is null and each
  * message is a line.
  */
final case class LsnRangePartition(rows: Seq[(Long, Array[Byte])],
    context: Array[Byte], corruptPolicy: String) extends InputPartition

/** Reads an [[LsnRangePartition]]: `(wal_start, data)` lines, or the
  * range's pgoutput frames decoded into [[DecodedWalEvent]] rows, in
  * admission order, by one [[PgOutput.DecodeSession]] restored from the
  * range's context — the same decoder the batch path runs. Rows are
  * converted without an encoder, so the scan adds no typed operator and
  * no generated code.
  */
private object LsnRangeReaderFactory extends PartitionReaderFactory {
  private val toRow =
    CatalystTypeConverters.createToCatalystConverter(CopyBothSource.decodedSchema)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LsnRangePartition]
    val rows: Iterator[InternalRow] =
      if (part.context == null) part.rows.iterator.map { case (ws, line) =>
        new GenericInternalRow(Array[Any](ws, UTF8String.fromBytes(line)))
      } else {
        val session = new PgOutput.DecodeSession()
          .restore(StateBlob.read[PgSlotState](part.context))
        part.rows.iterator.flatMap { case (ws, frame) =>
          session.decode(ws, frame, part.corruptPolicy)
        }.map(e => toRow(Row.fromTuple(e)).asInstanceOf[InternalRow])
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** A live-shaped replication source over the [[ReplicationConnection]]
  * seam: CopyBoth frames in, (wal_start, data) rows out, standby feedback
  * on commit — the socket-backed sibling of [[WalMicroBatchStream]],
  * keeping the same five `WalSourceContract` properties:
  *
  *  - frames drain into an UNACKED BUFFER on poll; offsets are the LSNs of
  *    admitted messages (monotone — contract 1);
  *  - the buffer holds every unacked message, so any (start, end] range
  *    replays byte-identically until `commit` passes it (the reference
  *    holds the slot's WAL until acked — contract 2; buffer bound =
  *    admitted-but-unacked window, the slot-retention analog);
  *  - admission control caps messages per micro-batch (ReadMaxFiles /
  *    ReadMaxRows both read as a message cap — the bounded-channel
  *    backpressure analog, reader.go:361-366) past the start offset,
  *    stretched to finish the last admitted lsn; the remainder stays
  *    buffered (contract 3);
  *  - `commit(end)` sends StandbyStatusUpdate(end) — monotonically: a
  *    re-ack at or below the confirmed position is ignored (contract 4) —
  *    and drops acked frames from the buffer;
  *  - keepalives never produce rows but advance the server head; a
  *    keepalive with replyRequested answers immediately with the current
  *    confirmed position (reader.go:470-489);
  *  - pgoutput mode decodes in the source, where the reference decodes
  *    (its parser reads the reader's channel, pgoutput.go:156-197): one
  *    [[PgOutput.DecodeSession]] follows every frame commit releases, in
  *    admission order, and each planned range carries that context
  *    advanced over the buffered frames at or below its start (held
  *    walStart-0 Relations and a resumed session's re-sends included),
  *    for its reader to decode from. A new session re-sends each open
  *    transaction from its Begin and each Relation before its first use,
  *    which rebuilds the context, except the members of streamed
  *    transactions whose StreamPrepare was confirmed: those ride the
  *    offsets ([[LsnOffset]]) and seed a resumed instance;
  *  - no offset before the first positioned frame: from the initial
  *    offset, `latestOffset` answers null (no data yet) until an XLogData
  *    frame with a non-zero walStart is admitted — keepalives and held
  *    walStart-0 frames offer none — so the engine runs no empty first
  *    micro-batch and the backlog's batch is the one cold trigger. A
  *    resumed instance answers with its checkpointed start; a null start
  *    reads as the initial offset.
  *
  * Driver-side and single-threaded like the reference's reader goroutine:
  * one slot is one serial stream. This class is the protocol skeleton the
  * contract suite qualifies; only the `ReplicationConnection` transport is
  * environment-bound (no Postgres in the sandbox).
  */
final class CopyBothWalStream(connect: () => ReplicationConnection,
    clock: () => Long = () => 0L, maxMessages: Option[Int] = None,
    pgoutput: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  // one serial connection per stream instance — a restart builds a new
  // instance whose connection re-delivers from the slot's confirmed
  // position (server-side retention), so no reader state needs to survive.
  // The opened connection is recorded only AFTER connect() returns: if the
  // dial/handshake throws (e.g. during latestOffset), stop() must not
  // re-dial a brand-new connection mid-shutdown, which is what a failed
  // lazy val would do on re-evaluation.
  private var opened: Option[ReplicationConnection] = None
  private def conn: ReplicationConnection = opened.getOrElse {
    val c = connect(); opened = Some(c); c
  }

  // admitted-but-unacked messages in admission order (lsn, line)
  private val buffer = mutable.ArrayDeque[(Long, Array[Byte])]()
  // drained from the connection but beyond the last poll's admission cap
  private val pending = mutable.ArrayDeque[(Long, Array[Byte])]()
  // zero-walStart frames awaiting the next positioned frame (see below)
  private val zeroHold = mutable.ArrayBuffer[Array[Byte]]()
  private var head = 0L // last admitted lsn
  private var confirmed = 0L // last acked lsn (standby feedback)
  // pgoutput mode: the decode context after every frame commit released,
  // seeded once with the prepared streams of the first start offset
  private val released = pgoutput.map(_ => new PgOutput.DecodeSession)
  private var resumed = false

  /** pgoutput mode: take the prepared streams of the first start offset
    * the engine hands this instance. The slot resumes at or below that
    * offset, so it re-sends nothing that contradicts them. */
  private def resume(start: Offset): Unit = if (!resumed) {
    resumed = true
    released.foreach(_.resume(lsnOffset(start).prepared))
  }

  /** pgoutput mode: the decode context as of `lsn` — the released frames'
    * context advanced over the buffered frames at or below `lsn`. A
    * function of the buffer alone, so a range planned twice carries the
    * same context.
    */
  private def sessionAt(lsn: Long): Option[PgOutput.DecodeSession] =
    released.map { s =>
      val at = new PgOutput.DecodeSession().restore(s.snapshot)
      buffer.foreach { case (l, frame) => if (l <= lsn) at.track(l, frame) }
      at
    }

  private def drainConnection(): Unit = {
    var frame = conn.receive()
    while (frame.isDefined) {
      CopyBothFraming.parse(frame.get) match {
        case CopyBothFraming.XLogData(walStart, _, _, payload) =>
          // REAL Postgres sends non-WAL-backed metadata — pgoutput
          // Relation/Type messages — with walStart = 0/0 (found against
          // a live server: the offset range (lo, hi] dropped them and
          // every later data message failed "no prior Relation"). Attach
          // them to the NEXT positioned frame's lsn, ahead of it in
          // admission order, so they ride the same offset range as the
          // first data message that needs them and decode ahead of it.
          // A reconnect re-sends Relations, so frames still held at
          // stop() are never owed to anyone.
          if (walStart == 0L) { zeroHold.append(payload); () }
          else {
            zeroHold.foreach(p => pending.append((walStart, p)))
            zeroHold.clear()
            pending.append((walStart, payload))
          }
        case CopyBothFraming.PrimaryKeepalive(_, _, replyRequested) =>
          if (replyRequested)
            conn.send(CopyBothFraming.standbyStatusUpdate(confirmed, clock()))
      }
      frame = conn.receive()
    }
  }

  override def initialOffset(): Offset = LsnOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit =
    maxMessages.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  private def lsnOffset(o: Offset): LsnOffset =
    if (o == null) LsnOffset(0L) else o.asInstanceOf[LsnOffset]
  private def lsnOf(o: Offset): Long = lsnOffset(o).lsn

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    resume(start)
    drainConnection()
    // the head never regresses below the engine's start offset — a fresh
    // instance resuming from a checkpoint starts AT the checkpoint
    head = math.max(head, lsnOf(start))
    val cap = limit match {
      case f: ReadMaxFiles => f.maxFiles()
      case r: ReadMaxRows => r.maxRows().toInt
      case _ => Int.MaxValue
    }
    // frames at or below the start (a resumed session re-sends them) are
    // no part of the next batch, so they do not count against the cap;
    // and an admission never ends inside one lsn (a walStart-0 Relation
    // shares its data frame's): a frame at or below the head left pending
    // would fall in no later (start, end] range
    val lo = lsnOf(start)
    var admitted = 0
    while (pending.nonEmpty && (admitted < cap || pending.head._1 <= head)) {
      val msg = pending.removeHead()
      buffer.append(msg)
      head = math.max(head, msg._1)
      if (msg._1 > lo) admitted += 1
    }
    if (head == 0L) null
    else LsnOffset(head, sessionAt(head).fold(Map.empty[Long, Seq[Long]])(_.preparedStreams))
  }

  override def deserializeOffset(json: String): Offset = LsnOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    resume(start)
    val lo = lsnOf(start)
    val hi = lsnOf(end)
    // a replayed range may be planned by a fresh instance (task retry /
    // restart): drain so the connection's slot redelivery is visible.
    // Only frames AT OR BELOW the planned end surface into the buffer —
    // they were admitted by whichever instance planned this range, so
    // replaying them is offset-faithful. Frames beyond `hi` stay pending:
    // moving them here would bypass the admission cap (the next
    // latestOffset would see an already-advanced head and emit an
    // unbounded batch — the bounded-channel guarantee, contract 3,
    // must hold on ONE long-lived instance, Spark's actual usage).
    drainConnection()
    val (replay, future) = pending.partition { case (lsn, _) => lsn <= hi }
    pending.clear()
    pending.appendAll(future)
    replay.foreach { msg =>
      buffer.append(msg)
      head = math.max(head, msg._1)
    }
    Array(LsnRangePartition(
      buffer.filter { case (lsn, _) => lsn > lo && lsn <= hi }.toSeq,
      sessionAt(lo).map(s => StateBlob.write(s.snapshot)).orNull,
      pgoutput.getOrElse("crash")))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LsnRangeReaderFactory

  override def commit(end: Offset): Unit = {
    val pos = lsnOf(end)
    // monotone feedback: never confirm backward (a replayed batch's
    // commit must not regress confirmed_flush_lsn, reader.go:594-605)
    if (pos > confirmed) {
      confirmed = pos
      conn.send(CopyBothFraming.standbyStatusUpdate(pos, clock()))
      while (buffer.nonEmpty && buffer.head._1 <= pos) {
        val (lsn, frame) = buffer.removeHead()
        released.foreach(_.track(lsn, frame))
      }
    }
  }

  override def stop(): Unit = opened match {
    case Some(c: AutoCloseable) => c.close()
    case _ => ()
  }
}

/** DSv2 entry point for the CopyBoth source:
  *
  *   spark.readStream.format("graft.sources.CopyBothSource")
  *     .option("server", name)                // in-process registry, OR
  *     .option("host", h).option("port", p)   // dial a real socket
  *     .option("slot", s)                     //   (replication slot name)
  *     .option("user", u).option("database", db)
  *     .option("password", pw)                // enables SCRAM-SHA-256
  *     .option("maxMessagesPerTrigger", n)    // optional admission cap
  *     .option("payload", "text"|"binary")    // wal2json lines vs pgoutput
  *     .option("corruptPolicy", "crash"|"dlq"|"skip") // pgoutput only
  *     .load()
  *
  * `payload=text` (default) emits `(wal_start LONG, data STRING)` — the
  * archived-WAL file source's schema, for wal2json lines. `payload=binary`
  * reads pgoutput frames and emits them decoded, as
  * [[CopyBothSource.decodedSchema]] rows, for
  * [[graft.streaming.CdcStream.pipelinePgOutput]] — the reference's DEFAULT
  * deployment shape (pgoutput over the replication socket). A corrupt
  * frame follows `corruptPolicy` ([[PgOutput.CorruptPolicies]]; the
  * pipeline reads it from here, [[CopyBothSource.corruptPolicyOf]]).
  * Multiple slots are one source each. Either way the
  * full CDC pipeline runs over a replication connection unchanged — the engine drives
  * latestOffset/plan/commit on ONE [[CopyBothWalStream]] instance per run,
  * exactly the single-instance usage the admission-cap and feedback
  * semantics are specified for.
  *
  * Two transports behind the same seam: `server` resolves a live
  * in-process [[InMemoryReplicationServer]] from a process-local registry
  * (the embedded/test shape), while `host`/`port`/`slot` dial a
  * [[SocketReplicationConnection]] speaking the public replication
  * protocol over TCP (StartupMessage with replication=database →
  * START_REPLICATION → CopyBoth) — the production shape, qualified
  * in-sandbox against an in-process wire-faithful server
  * (SocketReplicationSpec); only a real Postgres endpoint (and SCRAM
  * auth) is environment-bound.
  */
class CopyBothSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if ("binary".equalsIgnoreCase(options.getOrDefault("payload", "text")))
      CopyBothSource.decodedSchema
    else WalDirectorySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opt = (k: String) => Option(properties.get(k))
    val pgoutput =
      if (!opt("payload").exists(_.equalsIgnoreCase("binary"))) None
      else Some(opt("corruptPolicy").getOrElse("crash"))
    pgoutput.foreach(p => require(PgOutput.CorruptPolicies(p),
      s"corruptPolicy must be crash|dlq|skip, got '$p'"))
    val connect: () => ReplicationConnection = opt("host") match {
      case Some(host) =>
        val port = opt("port").map(_.toInt).getOrElse(5432)
        val slot = opt("slot").getOrElse("graft")
        val user = opt("user").getOrElse("postgres")
        val db = opt("database").getOrElse("postgres")
        val pw = opt("password")
        // plugin start options, `k=v;k2=v2` (';'-separated so values may
        // contain commas — publication_names is a comma list), e.g.
        // "proto_version=2;publication_names=better_cdc_pub" for pgoutput
        // or "format-version=2" for wal2json
        val startOpts = opt("startOptions").toSeq.flatMap(_.split(";"))
          .map(_.trim).filter(_.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => (k.trim, v.trim)
              case _ => throw new IllegalArgumentException(
                s"startOptions entry '$kv' is not key=value")
            }
          }
        () => new SocketReplicationConnection(host, port, slot, user, db,
          password = pw, startOptions = startOpts)
      case None =>
        val server = properties.get("server")
        () => CopyBothSource.connect(server)
    }
    new CopyBothTable(connect,
      opt("host").orElse(opt("server")).getOrElse("?"),
      opt("maxMessagesPerTrigger").map(_.toInt), pgoutput)
  }
}

object CopyBothSource {
  /** pgoutput-mode schema: frames arrive decoded, one row per event. */
  val decodedSchema: StructType = Encoders.product[DecodedWalEvent].schema

  /** The corrupt-frame policy of the pgoutput source `df` reads, "crash"
    * when it reads none: the one setting, read where the pipeline needs
    * it.
    */
  def corruptPolicyOf(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case r: StreamingRelationV2 if r.table.isInstanceOf[CopyBothTable] =>
        r.table.asInstanceOf[CopyBothTable].pgoutput
    }.flatten.getOrElse("crash")

  private val servers =
    scala.collection.concurrent.TrieMap.empty[String, InMemoryReplicationServer]

  def register(name: String, server: InMemoryReplicationServer): Unit =
    servers(name) = server
  def unregister(name: String): Unit = { servers.remove(name); () }
  private[sources] def connect(name: String): ReplicationConnection =
    servers.getOrElse(name, throw new IllegalArgumentException(
      s"no replication server registered under '$name' — " +
        "CopyBothSource.register(name, server) first")).connect()
}

/** `pgoutput` is the corrupt-frame policy in pgoutput mode, None for
  * text lines. */
final class CopyBothTable(connect: () => ReplicationConnection, label: String,
    maxMessages: Option[Int], val pgoutput: Option[String] = None)
    extends Table with SupportsRead {
  private def tableSchema: StructType =
    if (pgoutput.isDefined) CopyBothSource.decodedSchema
    else WalDirectorySource.schema
  override def name(): String = s"copyboth:$label"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CopyBothWalStream(connect, maxMessages = maxMessages,
            pgoutput = pgoutput)
      }
    }
}
