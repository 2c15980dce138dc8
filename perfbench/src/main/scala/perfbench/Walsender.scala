package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, IOException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.sources.{CopyBothFraming, PgWireProtocol}

/** Time source of the walsender, injectable so lag accounting can be
  * tested on a fake clock. */
trait Clock {
  def nanos(): Long
  def sleepUntil(t: Long): Unit
}

object SystemClock extends Clock {
  def nanos(): Long = System.nanoTime()
  def sleepUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) {
      LockSupport.parkNanos(math.min(left, 5000000L))
      left = t - System.nanoTime()
    }
  }
}

/** One pre-rendered transaction on the send queue.
  *
  * @param bytes     backend CopyData messages, protocol v1 form
  * @param streamed  the protocol v2 streamed-segment form, for large
  *                  transactions of sessions that request streaming
  * @param commitLsn walStart of the commit message, -1 if never committed
  * @param lastLsn   walStart of the unit's last message
  * @param relations relation ids the unit's changes reference
  */
final case class SendUnit(bytes: Array[Byte], streamed: Array[Byte],
    commitLsn: Long, lastLsn: Long, changes: Int, relations: Seq[Int])

/** Pure lag accounting, shared by the walsender and its tests. */
object LagBook {

  /** For each commit LSN, the time of the first feedback whose flush
    * position reaches it, or -1. `feedback` is (time, flush) in arrival
    * order. */
  def ackTimes(commitLsns: Array[Long], feedback: Seq[(Long, Long)]): Array[Long] = {
    // running maximum of flush over arrival order: the first time each
    // level is reached
    val reach = mutable.ArrayBuffer.empty[(Long, Long)] // (flush, time)
    var best = Long.MinValue
    feedback.foreach { case (t, f) => if (f > best) { best = f; reach += ((f, t)) } }
    commitLsns.map { lsn =>
      // first entry with flush >= lsn (reach is increasing in flush)
      var lo = 0; var hi = reach.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (reach(mid)._1 >= lsn) hi = mid else lo = mid + 1
      }
      if (lo < reach.size) reach(lo)._2 else -1L
    }
  }
}

/** A fake PostgreSQL walsender on 127.0.0.1: trust auth, one logical
  * replication slot over a fixed, pre-rendered WAL.
  *
  *   - `START_REPLICATION SLOT s LOGICAL X/Y (...)` resumes at the first
  *     transaction committed after max(X/Y, confirmed flush): WAL is
  *     retained until standby feedback confirms it, so a reconnecting
  *     client gets everything it has not confirmed.
  *   - Before a relation's first use in a session, its pgoutput Relation
  *     message goes out at walStart 0, as a real primary sends it.
  *   - The first `backlog` units are due as soon as START_REPLICATION
  *     arrives; the rest form an open loop at `ratePerSec`, starting when
  *     feedback confirms the backlog's last commit, so live traffic never
  *     queues behind the backlog. How late each send ran against its due
  *     time is recorded.
  *   - A keepalive with replyRequested goes out every second.
  *   - Every StandbyStatusUpdate is recorded as (time, flush), the same
  *     boundary `pg_stat_replication` measures lag at.
  */
final class Walsender(units: IndexedSeq[SendUnit], relations: Map[Int, Array[Byte]],
    backlog: Int, ratePerSec: Double, clock: Clock = SystemClock) extends AutoCloseable {

  private val listener = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  def port: Int = listener.getLocalPort

  @volatile private var closed = false
  @volatile var startReplicationAt: Long = -1L
  @volatile var startCommand: String = ""
  @volatile private var liveStart: Long = -1L
  /** First send time of each unit, -1 until sent. */
  val sentAt: Array[Long] = Array.fill(units.size)(-1L)
  private val feedbackLog = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile var confirmed: Long = 0L
  @volatile var sessions: Int = 0
  private var session: Option[Socket] = None
  private val period = (1e9 / ratePerSec).toLong
  /** Commit LSN whose confirmation starts the open loop. */
  private val backlogEnd = units.take(backlog).map(_.commitLsn).maxOption.getOrElse(-1L)

  /** Due time of unit `i`, or -1 before the open loop has started. */
  def dueAt(i: Int): Long =
    if (i < backlog) startReplicationAt
    else if (liveStart < 0) -1L
    else liveStart + (i - backlog).toLong * period

  def feedback: Seq[(Long, Long)] = feedbackLog.synchronized(feedbackLog.toSeq)

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val s = listener.accept()
      synchronized {
        session.foreach(old => try old.close() catch { case _: IOException => })
        session = Some(s)
      }
      val t = new Thread(() => serve(s), "walsender-session")
      t.setDaemon(true); t.start()
    } catch { case _: IOException if closed => }
  }, "walsender-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def errorBody(code: String, msg: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    Seq('S' -> "ERROR", 'C' -> code, 'M' -> msg).foreach { case (k, v) =>
      b.write(k); b.write(v.getBytes(UTF_8)); b.write(0)
    }
    b.write(0); b.toByteArray
  }

  private val StartRe =
    """(?s)START_REPLICATION\s+SLOT\s+(\S+)\s+LOGICAL\s+([0-9A-Fa-f]+)/([0-9A-Fa-f]+)\s*(?:\((.*)\))?\s*""".r

  private def serve(sock: Socket): Unit = try {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    var params = PgWireProtocol.readStartup(in)
    while (params.isEmpty) { out.writeByte('N'); out.flush(); params = PgWireProtocol.readStartup(in) }
    if (!params.get.get("replication").contains("database")) {
      PgWireProtocol.writeMessage(out, 'E', errorBody("55000", "not a replication connection"))
      sock.close(); return
    }
    PgWireProtocol.writeMessage(out, 'R', ByteBuffer.allocate(4).putInt(0).array())
    PgWireProtocol.writeMessage(out, 'S', "server_version\u000016.4\u0000".getBytes(UTF_8))
    PgWireProtocol.writeMessage(out, 'K', ByteBuffer.allocate(8).putInt(4242).putInt(7).array())
    PgWireProtocol.writeMessage(out, 'Z', Array('I'.toByte))
    val q = PgWireProtocol.readMessage(in)
    val sql = new String(q.body, UTF_8).stripSuffix("\u0000")
    val (startLsn, options) = sql match {
      case StartRe(_, hi, lo, opts) if q.tpe == 'Q' =>
        ((java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16),
          Option(opts).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf(' ')
            if (i < 0) kv -> "" else kv.take(i) -> kv.drop(i + 1).trim.stripPrefix("'").stripSuffix("'")
          }.toMap)
      case _ =>
        PgWireProtocol.writeMessage(out, 'E', errorBody("42601", s"unsupported command: $sql"))
        sock.close(); return
    }
    if (startReplicationAt < 0) {
      startReplicationAt = clock.nanos()
      if (backlogEnd < 0) liveStart = startReplicationAt
    }
    startCommand = sql
    sessions += 1
    val streaming = options.get("streaming").exists(v => v == "on" || v == "parallel")
    PgWireProtocol.writeMessage(out, 'W', ByteBuffer.allocate(3).put(0.toByte).putShort(0.toShort).array())
    val reader = new Thread(() => readFeedback(in, sock), "walsender-feedback")
    reader.setDaemon(true); reader.start()
    send(sock, out, math.max(startLsn, confirmed), streaming)
  } catch {
    case _: IOException => // client went away; its slot position is kept
  } finally try sock.close() catch { case _: IOException => }

  private def readFeedback(in: DataInputStream, sock: Socket): Unit = try {
    var open = true
    while (open && !closed) {
      val m = PgWireProtocol.readMessage(in)
      m.tpe match {
        case 'd' if m.body.nonEmpty && m.body(0) == 'r' =>
          val b = ByteBuffer.wrap(m.body); b.get(); b.getLong()
          val flush = b.getLong()
          val now = clock.nanos()
          feedbackLog.synchronized { feedbackLog += ((now, flush)) }
          if (flush > confirmed) confirmed = flush
          if (liveStart < 0 && backlogEnd >= 0 && flush >= backlogEnd) liveStart = now
        case 'X' | 'c' => open = false
        case _ =>
      }
    }
  } catch { case _: IOException => } finally try sock.close() catch { case _: IOException => }

  private def send(sock: Socket, out: DataOutputStream, from: Long, streaming: Boolean): Unit = {
    val relSent = mutable.Set.empty[Int]
    var lastKeepalive = clock.nanos()
    var walEnd = from
    def keepalive(): Unit = {
      PgWireProtocol.writeCopyData(out,
        CopyBothFraming.keepalive(walEnd, clock.nanos() / 1000L, replyRequested = true))
      lastKeepalive = clock.nanos()
    }
    // wait until `t`, sending keepalives each second meanwhile
    def waitUntil(t: Long): Unit = {
      var now = clock.nanos()
      while (!closed && !sock.isClosed && now < t) {
        if (now - lastKeepalive >= 1000000000L) keepalive()
        clock.sleepUntil(math.min(t, lastKeepalive + 1000000000L))
        now = clock.nanos()
      }
    }
    var i = units.indexWhere(u => u.commitLsn > from || u.commitLsn < 0 && u.lastLsn > from)
    if (i < 0) i = units.size
    // a session that starts past the backlog starts the open loop itself
    if (i >= backlog && liveStart < 0) liveStart = clock.nanos()
    while (!closed && !sock.isClosed && i < units.size) {
      while (!closed && !sock.isClosed && i >= backlog && liveStart < 0) {
        if (clock.nanos() - lastKeepalive >= 1000000000L) keepalive()
        Thread.sleep(1)
      }
      waitUntil(dueAt(i))
      val u = units(i)
      u.relations.foreach { r =>
        relations.get(r).foreach(rel => if (relSent.add(r)) out.write(rel))
      }
      out.write(if (streaming && u.streamed != null) u.streamed else u.bytes)
      out.flush()
      walEnd = u.lastLsn
      val now = clock.nanos()
      if (sentAt(i) < 0) sentAt(i) = now
      i += 1
    }
    // WAL exhausted: keepalives only
    while (!closed && !sock.isClosed) {
      if (clock.nanos() - lastKeepalive >= 1000000000L) keepalive()
      Thread.sleep(10)
    }
  }

  override def close(): Unit = {
    closed = true
    try listener.close() catch { case _: IOException => }
    synchronized { session.foreach(s => try s.close() catch { case _: IOException => }) }
    acceptor.join(2000)
  }
}
