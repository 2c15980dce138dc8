package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.cdc.PgWire
import graft.sources.{CopyBothFraming, PgWireProtocol}

/** A source table of the reference load test (FIXTURES.md section 1). */
final case class BenchTable(name: String, relId: Int, cols: Seq[(String, String, Int)]) {
  def subject: String = s"cdc.postgres.public.$name"
}

object BenchTable {
  private val ts = ("timestamp with time zone", 1184)
  val accounts = BenchTable("accounts", 16384, Seq(
    ("id", "bigint", 20), ("email", "text", 25), ("status", "text", 25),
    ("created_at", ts._1, ts._2), ("updated_at", ts._1, ts._2)))
  val orders = BenchTable("orders", 16390, Seq(
    ("id", "bigint", 20), ("account_id", "bigint", 20),
    ("total_cents", "integer", 23), ("status", "text", 25),
    ("created_at", ts._1, ts._2), ("updated_at", ts._1, ts._2)))
  val all: Seq[BenchTable] = Seq(accounts, orders)
}

/** One row change. `values` is the full row image: the new row for INSERT
  * and UPDATE, the deleted row for DELETE. */
final case class Change(table: BenchTable, op: Char, walStart: Long,
    values: Array[String])

/** One generated transaction. `commitLsn` is the walStart of its commit
  * message; an uncommitted transaction never sends one. */
final case class Tx(index: Int, xid: Int, commitMicros: Long, beginLsn: Long,
    changes: Array[Change], commitLsn: Long, committed: Boolean)

/** Seeded generator of the reference load-test mix: 60/30/10
  * INSERT/UPDATE/DELETE over `orders` (67%) and `accounts` (33%); most
  * transactions carry 1-5 changes, and every `largeEvery`-th one (from a
  * seeded phase) carries 1000-1099, large enough to span micro-batches.
  * Spacing the large ones evenly keeps each run's share of them fixed, so
  * seeds vary the content and not the amount of work. UPDATE and DELETE
  * pick a live row of their table, so every change is one a real database
  * could have produced.
  */
final class WalGen(seed: Long, largeEvery: Int = WalGen.LargeEvery) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val phase = rnd.nextInt(largeEvery)
  private var lsn = 0x16B3748L + rnd.nextInt(1 << 20).toLong * 8
  private var xid = 5000 + rnd.nextInt(1000)
  private var micros = 1705314600000000L // 2024-01-15 10:30:00 UTC
  private var index = 0
  private val statuses = Array("active", "pending", "shipped", "closed")

  private final class Live {
    val ids = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.HashMap.empty[Long, Array[String]]
    var nextId = 1L
  }
  private val live = Map(BenchTable.accounts -> new Live, BenchTable.orders -> new Live)

  private def nextLsn(): Long = { lsn += 40 + rnd.nextInt(200); lsn }

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
  private def stamp(us: Long): String =
    fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)) + "+00"


  private def newRow(t: BenchTable, id: Long, now: String): Array[String] =
    if (t eq BenchTable.accounts)
      Array(id.toString, s"user$id@example.com", statuses(rnd.nextInt(2)), now, now)
    else Array(id.toString,
      (1 + rnd.nextInt(math.max(1, live(BenchTable.accounts).nextId.toInt))).toString,
      (100 + rnd.nextInt(100000)).toString, statuses(1 + rnd.nextInt(3)), now, now)

  private def change(now: String): Change = {
    val t = if (rnd.nextInt(100) < 67) BenchTable.orders else BenchTable.accounts
    val l = live(t)
    val roll = rnd.nextInt(100)
    val op = if (roll < 60 || l.ids.isEmpty) 'I' else if (roll < 90) 'U' else 'D'
    op match {
      case 'I' =>
        val id = l.nextId; l.nextId += 1
        val row = newRow(t, id, now)
        l.ids += id; l.rows(id) = row
        Change(t, 'I', nextLsn(), row)
      case 'U' =>
        val id = l.ids(rnd.nextInt(l.ids.size))
        val row = l.rows(id).clone()
        val statusCol = t.cols.indexWhere(_._1 == "status")
        row(statusCol) = statuses(rnd.nextInt(statuses.length))
        if (t eq BenchTable.orders) row(2) = (100 + rnd.nextInt(100000)).toString
        row(row.length - 1) = now
        l.rows(id) = row
        Change(t, 'U', nextLsn(), row)
      case _ =>
        val at = rnd.nextInt(l.ids.size)
        val id = l.ids(at)
        l.ids(at) = l.ids.last; l.ids.dropRightInPlace(1)
        Change(t, 'D', nextLsn(), l.rows.remove(id).get)
    }
  }

  def size(): Int =
    if ((index + phase) % largeEvery == 0) 1000 + rnd.nextInt(100) else 1 + rnd.nextInt(5)

  /** The next transaction, of `n` changes (default: drawn from the mix). */
  def tx(n: Int = size(), committed: Boolean = true): Tx = {
    micros += 200 + rnd.nextInt(800)
    xid += 1
    val now = stamp(micros)
    val begin = nextLsn()
    val changes = Array.fill(n)(change(now))
    val commit = if (committed) nextLsn() else -1L
    val t = Tx(index, xid, micros, begin, changes, commit, committed)
    index += 1
    t
  }

  def stampOf(tx: Tx): String = stamp(tx.commitMicros)
}

object WalGen {
  /** One transaction in 100 is large. The reference load test gives only
    * the op and table mix, so this frequency is a choice, not a
    * measurement: with 1-5 changes otherwise, about 78% of all changes
    * belong to large transactions. */
  val LargeEvery = 100
}

/** Pre-rendered replication traffic: each transaction becomes one byte
  * blob of backend CopyData messages, ready for a single socket write. */
object Render {

  private def copyData(out: DataOutputStream, walStart: Long, payload: Array[Byte]): Unit =
    PgWireProtocol.writeCopyData(out,
      CopyBothFraming.xlogData(walStart, walStart, 0L, payload))

  private def blob(f: DataOutputStream => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    f(out); out.flush()
    bytes.toByteArray
  }

  private def json(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def w2jValue(tpe: String, v: String): String =
    if (tpe == "bigint" || tpe == "integer") v else json(v)

  private def w2jCols(t: BenchTable, values: Array[String], only: Int => Boolean): String =
    t.cols.indices.filter(only).map { i =>
      val (n, tpe, _) = t.cols(i)
      s"""{"name":"$n","type":"$tpe","value":${w2jValue(tpe, values(i))}}"""
    }.mkString("[", ",", "]")

  /** wal2json format-version 2 (include-xids, include-timestamp): one
    * document per action. */
  def wal2json(tx: Tx, stamp: String): Array[Byte] = blob { out =>
    val head = s""""xid":${tx.xid},"timestamp":"$stamp""""
    copyData(out, tx.beginLsn, s"""{"action":"B",$head}""".getBytes(UTF_8))
    tx.changes.foreach { c =>
      val where = s""""schema":"public","table":"${c.table.name}""""
      val doc = c.op match {
        case 'I' => s"""{"action":"I",$head,$where,"columns":${w2jCols(c.table, c.values, _ => true)}}"""
        case 'U' => s"""{"action":"U",$head,$where,"columns":${w2jCols(c.table, c.values, _ => true)},"identity":${w2jCols(c.table, c.values, _ == 0)}}"""
        case _ => s"""{"action":"D",$head,$where,"identity":${w2jCols(c.table, c.values, _ == 0)}}"""
      }
      copyData(out, c.walStart, doc.getBytes(UTF_8))
    }
    if (tx.committed)
      copyData(out, tx.commitLsn, s"""{"action":"C",$head}""".getBytes(UTF_8))
  }

  /** pgoutput Relation messages by relation id, at walStart 0. */
  val relations: Map[Int, Array[Byte]] = BenchTable.all.map { t =>
    t.relId -> blob { out =>
      copyData(out, 0L, PgWire.relation(t.relId, "public", t.name,
        t.cols.map(c => (c._1, c._3))))
    }
  }.toMap

  /** A transaction as the walsender queues it; pgoutput transactions of
    * 1000 changes or more also get their streamed form. */
  def unit(t: Tx, plugin: String, stamp: String): SendUnit = SendUnit(
    if (plugin == "wal2json") wal2json(t, stamp) else pgoutput(t),
    if (plugin == "pgoutput" && t.changes.length >= 1000) pgoutputStreamed(t) else null,
    t.commitLsn, if (t.committed) t.commitLsn else t.changes.last.walStart,
    t.changes.length, t.changes.map(_.table.relId).distinct.toSeq)

  private def pgChange(c: Change): Array[Byte] = c.op match {
    case 'I' => PgWire.insert(c.table.relId, c.values.toSeq.map(Some(_)))
    case 'U' => PgWire.update(c.table.relId, None, c.values.toSeq.map(Some(_)))
    case _ => PgWire.delete(c.table.relId,
      c.values.toSeq.zipWithIndex.map { case (v, i) => if (i == 0) Some(v) else None })
  }

  /** pgoutput protocol v1: Begin, changes, Commit. */
  def pgoutput(tx: Tx): Array[Byte] = blob { out =>
    copyData(out, tx.beginLsn, PgWire.begin(tx.commitLsn, tx.commitMicros, tx.xid))
    tx.changes.foreach(c => copyData(out, c.walStart, pgChange(c)))
    if (tx.committed)
      copyData(out, tx.commitLsn,
        PgWire.commit(tx.commitLsn, tx.commitLsn + 1, tx.commitMicros))
  }

  /** pgoutput protocol v2 with streaming=on: the transaction as streamed
    * segments of `segment` changes, closed by Stream Commit. */
  def pgoutputStreamed(tx: Tx, segment: Int = 256): Array[Byte] = blob { out =>
    tx.changes.grouped(segment).zipWithIndex.foreach { case (seg, i) =>
      copyData(out, seg.head.walStart, PgWire.streamStart(tx.xid, i == 0))
      seg.foreach(c => copyData(out, c.walStart, PgWire.streamed(tx.xid, pgChange(c))))
      copyData(out, seg.last.walStart, PgWire.streamStop())
    }
    if (tx.committed)
      copyData(out, tx.commitLsn, PgWire.streamCommit(tx.xid, tx.commitLsn,
        tx.commitLsn + 1, tx.commitMicros))
  }

  /** The row images the sink must carry for a change, per plugin:
    * (before, after) with null for an absent image and for a NULL value. */
  def images(c: Change, plugin: String): (Map[String, String], Map[String, String]) = {
    val names = c.table.cols.map(_._1)
    val full = names.zip(c.values).toMap
    val key = Map(names.head -> c.values.head)
    c.op match {
      case 'I' => (null, full)
      case 'U' => (if (plugin == "wal2json") key else null, full)
      case _ =>
        if (plugin == "wal2json") (key, null)
        else (names.zipWithIndex.map { case (n, i) =>
          n -> (if (i == 0) c.values.head else null) }.toMap, null)
    }
  }

  private def opName(op: Char): String = op match {
    case 'I' => "INSERT"; case 'U' => "UPDATE"; case _ => "DELETE"
  }

  /** `Transform.eventId` for a change: lsn:txid:op:schema.table:seqInTx. */
  def eventId(tx: Tx, seq: Int): String = {
    val c = tx.changes(seq)
    s"${PgWireProtocol.lsnHex(c.walStart)}:${tx.xid}:${opName(c.op)}:public.${c.table.name}:$seq"
  }
}
