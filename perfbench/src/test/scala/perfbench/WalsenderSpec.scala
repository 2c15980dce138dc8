package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CopyBothFraming, SocketReplicationConnection}

class WalsenderSpec extends AnyFunSuite {

  /** Time only moves when the walsender sleeps. */
  final class FakeClock(start: Long = 1000000000L) extends Clock {
    private val now = new AtomicLong(start)
    def nanos(): Long = now.get()
    def sleepUntil(t: Long): Unit = { now.accumulateAndGet(t, math.max); () }
  }

  private def units(txs: Seq[Tx], plugin: String, gen: WalGen): IndexedSeq[SendUnit] =
    txs.map(t => Render.unit(t, plugin, gen.stampOf(t))).toIndexedSeq

  /** XLogData frames received until `n` arrived (keepalives skipped). */
  private def receive(c: SocketReplicationConnection, n: Int): Seq[CopyBothFraming.XLogData] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[CopyBothFraming.XLogData]
    val deadline = System.nanoTime() + 10000000000L
    while (got.size < n && System.nanoTime() < deadline) {
      c.receive() match {
        case Some(bytes) => CopyBothFraming.parse(bytes) match {
          case x: CopyBothFraming.XLogData => got += x
          case _ =>
        }
        case None => Thread.sleep(2)
      }
    }
    assert(got.size == n, s"received ${got.size} of $n frames")
    got.toSeq
  }

  private def awaitTrue(what: String)(p: => Boolean): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!p && System.nanoTime() < deadline) Thread.sleep(2)
    assert(p, what)
  }

  test("handshake with SocketReplicationConnection; retention until feedback; start LSN honoured") {
    val gen = new WalGen(5)
    val txs = Seq.fill(4)(gen.tx(n = 2))
    val sender = new Walsender(units(txs, "wal2json", gen), Map.empty, backlog = 4, ratePerSec = 10)
    try {
      def frames(t: Tx) = 2 + t.changes.length
      val c1 = new SocketReplicationConnection("127.0.0.1", sender.port, "s",
        startOptions = Seq("format-version" -> "2"))
      val all = receive(c1, txs.map(frames).sum)
      assert(all.map(_.walStart) ==
        txs.flatMap(t => t.beginLsn +: t.changes.map(_.walStart).toSeq :+ t.commitLsn))
      assert(new String(all.head.payload, "UTF-8").contains("\"action\":\"B\""))
      assert(sender.startCommand.contains("LOGICAL 0/0 (format-version '2')"))
      c1.send(CopyBothFraming.standbyStatusUpdate(txs(1).commitLsn, 0L))
      awaitTrue("feedback recorded")(sender.confirmed == txs(1).commitLsn)
      c1.close()
      // a new session resumes after the confirmed position
      val c2 = new SocketReplicationConnection("127.0.0.1", sender.port, "s")
      assert(receive(c2, 1).head.walStart == txs(2).beginLsn)
      c2.close()
      // ... or after the requested start LSN when that is further on
      val c3 = new SocketReplicationConnection("127.0.0.1", sender.port, "s",
        startPos = txs(2).commitLsn)
      assert(receive(c3, 1).head.walStart == txs(3).beginLsn)
      c3.close()
      assert(sender.sessions == 3)
    } finally sender.close()
  }

  test("pgoutput: Relation messages at walStart 0 before first use in each session; streamed large transactions") {
    val gen = new WalGen(6)
    val txs = Seq(gen.tx(n = 3), gen.tx(n = 1200))
    val us = units(txs, "pgoutput", gen)
    val sender = new Walsender(us, Render.relations, backlog = 2, ratePerSec = 10)
    try {
      val rels = txs.head.changes.map(_.table.relId).distinct.length
      val c1 = new SocketReplicationConnection("127.0.0.1", sender.port, "s")
      val first = receive(c1, rels + 1)
      assert(first.take(rels).forall(f => f.walStart == 0L && f.payload(0) == 'R'))
      assert(first.last.walStart == txs.head.beginLsn && first.last.payload(0) == 'B')
      c1.close()
      val c2 = new SocketReplicationConnection("127.0.0.1", sender.port, "s",
        startPos = txs.head.commitLsn,
        startOptions = Seq("proto_version" -> "2", "streaming" -> "on"))
      val second = receive(c2, 3)
      val r2 = txs(1).changes.map(_.table.relId).distinct.length
      assert(second.take(r2).forall(_.payload(0) == 'R'))
      assert(second(r2).payload(0) == 'S', "large transaction opens a stream segment")
      c2.close()
    } finally sender.close()
  }

  test("lag accounting on a fake clock") {
    val clock = new FakeClock()
    val gen = new WalGen(7)
    val txs = Seq.fill(5)(gen.tx(n = 1))
    val sender = new Walsender(units(txs, "wal2json", gen), Map.empty, backlog = 2,
      ratePerSec = 10, clock = clock)
    try {
      val c = new SocketReplicationConnection("127.0.0.1", sender.port, "s")
      receive(c, 6)
      val sr = sender.startReplicationAt
      assert(sender.dueAt(0) == sr && sender.dueAt(1) == sr)
      assert(sender.dueAt(2) == -1L, "the open loop waits for the backlog's ack")
      c.send(CopyBothFraming.standbyStatusUpdate(txs(1).commitLsn, 0L))
      receive(c, 9)
      awaitTrue("all sent")(sender.sentAt.forall(_ > 0))
      val live0 = sender.dueAt(2)
      assert(live0 == sender.feedback.head._1, "the open loop starts at the backlog's ack")
      assert(sender.dueAt(3) - live0 == 100000000L && sender.dueAt(4) - live0 == 200000000L)
      // an open loop on a clock that never runs late sends exactly on time
      (2 until 5).foreach(i => assert(sender.sentAt(i) == sender.dueAt(i)))
      c.send(CopyBothFraming.standbyStatusUpdate(txs(3).commitLsn, 0L))
      awaitTrue("feedback recorded")(sender.confirmed == txs(3).commitLsn)
      val acks = LagBook.ackTimes(txs.map(_.commitLsn).toArray, sender.feedback)
      assert(acks.take(2).forall(_ == live0))
      assert(acks.slice(2, 4).forall(_ == sender.feedback.last._1) && acks(4) == -1L)
      c.close()
    } finally sender.close()
    // first feedback reaching each LSN, whatever came later
    val fb = Seq(100L -> 5L, 200L -> 20L, 300L -> 15L, 400L -> 35L)
    assert(LagBook.ackTimes(Array(10L, 20L, 30L, 40L), fb).toSeq == Seq(200L, 200L, 400L, -1L))
  }

  test("the same seed renders the same bytes") {
    def render(seed: Long, plugin: String): Seq[Array[Byte]] = {
      val g = new WalGen(seed, largeEvery = 50)
      Seq.fill(300)(g.tx()).map(t =>
        if (plugin == "wal2json") Render.wal2json(t, g.stampOf(t)) else Render.pgoutput(t))
    }
    for (p <- Seq("wal2json", "pgoutput")) {
      val a = render(11, p); val b = render(11, p)
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }, p)
      assert(!a.zip(render(12, p)).forall { case (x, y) => java.util.Arrays.equals(x, y) }, p)
    }
  }
}
