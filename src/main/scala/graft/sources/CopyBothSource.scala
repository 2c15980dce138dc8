package graft.sources

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
  * reader.go:311-357). This is what makes a restarted stream instance
  * stateless: its state is the server's slot + the engine's checkpointed
  * offset, never reader memory.
  */
final class InMemoryReplicationServer {
  private val retained = mutable.ArrayBuffer[(Long, Array[Byte])]()
  private var confirmed = 0L
  private val feedbackLog = mutable.ArrayBuffer[Long]()

  def deliver(lsn: Long, line: String, serverClock: Long = 0L): Unit =
    deliverBytes(lsn, line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      serverClock)

  /** Binary payload delivery — pgoutput frames ride XLogData as raw bytes
    * (the reference's default plugin produces binary messages, not text).
    */
  def deliverBytes(lsn: Long, payload: Array[Byte],
      serverClock: Long = 0L): Unit = synchronized {
    retained += ((lsn, CopyBothFraming.xlogData(lsn, lsn, serverClock,
      payload)))
  }

  /** Standby feedback positions received, in arrival order. */
  def feedbackPositions: Seq[Long] = synchronized(feedbackLog.toSeq)

  def connect(): ReplicationConnection = new ReplicationConnection {
    // session cursor: next retained frame index not yet sent on THIS
    // connection; starts at the first frame past the confirmed position,
    // including any zero-lsn METADATA frames immediately before it —
    // real pgoutput sends Relation/Type messages with walStart = 0/0 and
    // re-sends them to each new session that will need them
    private var cursor =
      InMemoryReplicationServer.this.synchronized(
        retained.indexWhere(_._1 > confirmed) match {
          case -1 => retained.size
          case i =>
            var j = i
            while (j > 0 && retained(j - 1)._1 == 0L) j -= 1
            j
        })
    override def receive(): Option[Array[Byte]] =
      InMemoryReplicationServer.this.synchronized {
        if (cursor < retained.size) {
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
  * XLogData message. */
final case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

final case class LsnRangePartition(rows: Seq[(Long, Array[Byte])],
    binaryPayload: Boolean) extends InputPartition

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
  *    backpressure analog, reader.go:361-366); the remainder stays
  *    buffered (contract 3);
  *  - `commit(end)` sends StandbyStatusUpdate(end) — monotonically: a
  *    re-ack at or below the confirmed position is ignored (contract 4) —
  *    and drops acked frames from the buffer;
  *  - keepalives never produce rows but advance the server head; a
  *    keepalive with replyRequested answers immediately with the current
  *    confirmed position (reader.go:470-489);
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
    binaryPayload: Boolean = false)
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
          // first data message that needs them; the decoder's
          // within-batch sort is stable, preserving this order for
          // equal positions. A reconnect re-sends Relations, so frames
          // still held at stop() are never owed to anyone.
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

  private def lsnOf(o: Offset): Long =
    if (o == null) 0L else o.asInstanceOf[LsnOffset].lsn

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    drainConnection()
    // the head never regresses below the engine's start offset — a fresh
    // instance resuming from a checkpoint starts AT the checkpoint
    head = math.max(head, lsnOf(start))
    val cap = limit match {
      case f: ReadMaxFiles => f.maxFiles()
      case r: ReadMaxRows => r.maxRows().toInt
      case _ => Int.MaxValue
    }
    var admitted = 0
    while (admitted < cap && pending.nonEmpty) {
      val msg = pending.removeHead()
      buffer.append(msg)
      head = math.max(head, msg._1)
      admitted += 1
    }
    if (head == 0L) null else LsnOffset(head)
  }

  override def deserializeOffset(json: String): Offset = LsnOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = lsnOf(start)
    val hi = end.asInstanceOf[LsnOffset].lsn
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
      binaryPayload))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val part = p.asInstanceOf[LsnRangePartition]
          private val it = part.rows.iterator
          private var current: (Long, Array[Byte]) = _
          override def next(): Boolean =
            if (it.hasNext) { current = it.next(); true } else false
          override def get(): InternalRow = new GenericInternalRow(
            Array[Any](current._1,
              if (part.binaryPayload) current._2
              else UTF8String.fromBytes(current._2)))
          override def close(): Unit = ()
        }
    }

  override def commit(end: Offset): Unit = {
    val pos = end.asInstanceOf[LsnOffset].lsn
    // monotone feedback: never confirm backward (a replayed batch's
    // commit must not regress confirmed_flush_lsn, reader.go:594-605)
    if (pos > confirmed) {
      confirmed = pos
      conn.send(CopyBothFraming.standbyStatusUpdate(pos, clock()))
      buffer.removeHeadWhile { case (lsn, _) => lsn <= pos }
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
  *     .load()
  *
  * `payload=text` (default) emits `(wal_start LONG, data STRING)` — the
  * archived-WAL file source's schema, for wal2json lines. `payload=binary`
  * emits `(wal_start LONG, data BINARY)` — raw pgoutput frames for
  * [[graft.streaming.CdcStream.pipelinePgOutput]], the reference's DEFAULT
  * deployment shape (pgoutput over the replication socket). Either way the
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
      CopyBothSource.binarySchema
    else WalDirectorySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opt = (k: String) => Option(properties.get(k))
    val binary = opt("payload").exists(_.equalsIgnoreCase("binary"))
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
      opt("maxMessagesPerTrigger").map(_.toInt), binary)
  }
}

object CopyBothSource {
  /** pgoutput-mode schema: frames are bytes, not lines. */
  val binarySchema: StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("wal_start",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("data",
      org.apache.spark.sql.types.BinaryType)))

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

final class CopyBothTable(connect: () => ReplicationConnection, label: String,
    maxMessages: Option[Int], binaryPayload: Boolean = false)
    extends Table with SupportsRead {
  private def tableSchema: StructType =
    if (binaryPayload) CopyBothSource.binarySchema else WalDirectorySource.schema
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
            binaryPayload = binaryPayload)
      }
    }
}
