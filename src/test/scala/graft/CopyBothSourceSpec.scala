package graft

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CopyBothFraming, CopyBothWalStream,
  InMemoryReplicationConnection, InMemoryReplicationServer, LsnOffset}

/** The live-shaped CopyBoth source satisfies the SAME five-seam contract as
  * the archived-WAL file source: offsets monotone, ranges replay (via the
  * server's slot retention + reconnect redelivery, not reader memory),
  * admission bounded, standby feedback monotone, offsets lossless. Only
  * the transport (in-memory stub vs socket) is environment-bound.
  */
class CopyBothSourceContractSpec extends WalSourceContract {
  override def newFixture(): Fixture = new Fixture {
    private val server = new InMemoryReplicationServer
    private var n = 0
    // fresh stream per access, like Spark constructing the stream per
    // query run: its replay state is the server's slot, never the reader
    override def stream = new CopyBothWalStream(() => server.connect())
    override def append(lines: Seq[String]): Unit =
      lines.foreach { l => n += 1; server.deliver(n * 10L, l) }
    override def ledger: Seq[String] = server.feedbackPositions.map(_.toString)
  }
}

/** The CopyBoth source driven by the REAL micro-batch engine: one stream
  * instance per run, latestOffset/planInputPartitions/commit interleaved by
  * Spark itself — plus the full CDC pipeline running over a replication
  * connection unchanged (what "swap the file source for the live source"
  * means in practice).
  */
class CopyBothStreamingSpec extends SparkSpec {
  import spark.implicits._

  private val ts = "2024-01-15 10:30:00.123456+00"
  private def walLine(action: String, xid: Long, id: Int = 0): String =
    action match {
      case "B" | "C" => s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}"""
      case a => s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":$id}]}"""
    }

  test("streaming query over the replication connection: rows, caps, feedback") {
    val server = new InMemoryReplicationServer
    graft.sources.CopyBothSource.register("e2e", server)
    try {
      (1 to 5).foreach(i => server.deliver(i * 10L, s"line$i"))
      val q = spark.readStream.format("graft.sources.CopyBothSource")
        .option("server", "e2e").option("maxMessagesPerTrigger", "2").load()
        .writeStream.outputMode("append").format("memory")
        .queryName("copyboth_out").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("copyboth_out").orderBy($"wal_start")
          .as[(Long, String)].collect()
        assert(rows.map(_._1).toSeq == Seq(10L, 20L, 30L, 40L, 50L))
        assert(rows.map(_._2).toSeq == (1 to 5).map(i => s"line$i"))
        // the 2/trigger admission cap shaped the batches: no single batch
        // admitted more than 2 messages
        assert(q.recentProgress.forall(_.numInputRows <= 2),
          q.recentProgress.map(_.numInputRows).mkString(","))
        // standby feedback: the engine commits batch N while planning
        // N+1, so all but the newest positions are confirmed
        server.deliver(60L, "line6")
        q.processAllAvailable()
        val fb = server.feedbackPositions
        assert(fb.nonEmpty && fb == fb.sorted, s"monotone feedback: $fb")
        assert(fb.last >= 50L, s"tail position confirmed: $fb")
      } finally q.stop()
    } finally graft.sources.CopyBothSource.unregister("e2e")
  }

  test("CdcStream.start runs no micro-batch before the first frame; its first batch has rows") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    import StreamingQueryListener._
    val server = new InMemoryReplicationServer
    graft.sources.CopyBothSource.register("e2e_cold", server)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = java.nio.file.Files.createTempDirectory("cb_cold_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("cb_cold_ckpt").toString
      val raw = spark.readStream.format("graft.sources.CopyBothSource")
        .option("server", "e2e_cold").load()
      val q = graft.streaming.CdcStream.start(spark, raw, "testdb", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      try {
        // the engine has polled the source and found nothing to run. An
        // idle trigger still reports progress (no input, no addBatch), so
        // a micro-batch that ran is one whose progress times addBatch
        def ran(p: StreamingQueryProgress) = p.durationMs.containsKey("addBatch")
        val idle = "Waiting for data to arrive"
        val deadline = System.currentTimeMillis() + 60000
        while (q.status.message != idle && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(q.status.message == idle, q.status)
        assert(!q.recentProgress.exists(ran),
          s"micro-batches before any frame: ${q.recentProgress.filter(ran)
            .map(_.numInputRows).toSeq}")
        server.deliver(10L, walLine("B", 7))
        server.deliver(20L, walLine("I", 7, id = 1))
        server.deliver(30L, walLine("C", 7))
        q.processAllAvailable()
        def mine = progress.toArray(Array.empty[StreamingQueryProgress])
          .filter(p => p.id == q.id && ran(p)).toSeq
        while (mine.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(mine.nonEmpty, "no micro-batch progress reached the listener")
        assert(mine.head.batchId == 0L && mine.head.numInputRows > 0,
          s"first progress: batch ${mine.head.batchId}, ${mine.head.numInputRows} rows")
      } finally q.stop()
      assert(spark.read.parquet(out).count() == 1)
    } finally {
      spark.streams.removeListener(listener)
      graft.sources.CopyBothSource.unregister("e2e_cold")
    }
  }

  test("full CDC pipeline over CopyBoth: decode -> assembly -> normalize -> ordered sink") {
    val server = new InMemoryReplicationServer
    graft.sources.CopyBothSource.register("e2e_pipe", server)
    try {
      server.deliver(10L, walLine("B", 7))
      server.deliver(20L, walLine("I", 7, id = 1))
      server.deliver(30L, walLine("I", 7, id = 2))
      server.deliver(40L, walLine("C", 7))
      server.deliver(50L, walLine("B", 8)) // uncommitted: must not emit
      server.deliver(60L, walLine("I", 8, id = 3))
      val out = java.nio.file.Files.createTempDirectory("cb_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("cb_ckpt").toString
      val raw = spark.readStream.format("graft.sources.CopyBothSource")
        .option("server", "e2e_pipe").load()
      val q = graft.streaming.CdcStream.start(spark, raw, "testdb", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      try q.processAllAvailable() finally q.stop()
      val events = spark.read.parquet(out)
      assert(events.count() == 2, "only tx 7's committed events emit")
      assert(events.select("txid").as[Long].collect().toSet == Set(7L))
      assert(events.select("subject").distinct().as[String].collect().toSeq
        == Seq("cdc.testdb.public.users"))
    } finally graft.sources.CopyBothSource.unregister("e2e_pipe")
  }
}

class CopyBothFramingSpec extends AnyFunSuite {

  test("XLogData and keepalive round-trip the public wire layout") {
    val payload = "json-line".getBytes("UTF-8")
    CopyBothFraming.parse(CopyBothFraming.xlogData(7L, 9L, 42L, payload)) match {
      case CopyBothFraming.XLogData(s, e, c, p) =>
        assert(s == 7L && e == 9L && c == 42L && p.toSeq == payload.toSeq)
      case other => fail(s"expected XLogData, got $other")
    }
    assert(CopyBothFraming.parse(CopyBothFraming.keepalive(11L, 5L, replyRequested = true))
      == CopyBothFraming.PrimaryKeepalive(11L, 5L, true))
    // standby feedback layout: 'r' + 4 longs + flag, all three positions equal
    val r = CopyBothFraming.standbyStatusUpdate(33L, 1L)
    val b = java.nio.ByteBuffer.wrap(r)
    assert(b.get().toChar == 'r')
    assert(b.getLong() == 33L && b.getLong() == 33L && b.getLong() == 33L)
    assert(b.getLong() == 1L && b.get() == 0.toByte && !b.hasRemaining)
  }

  test("unknown CopyBoth message type is fatal (reference: pglogrepl.Parse error)") {
    intercept[IllegalArgumentException] {
      CopyBothFraming.parse(Array('X'.toByte, 0, 0))
    }
  }

  test("keepalive with replyRequested answers immediately with the confirmed position") {
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    conn.deliver(CopyBothFraming.xlogData(10L, 10L, 0L, "line-a".getBytes("UTF-8")))
    conn.deliver(CopyBothFraming.keepalive(99L, 0L, replyRequested = true))
    val end = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    // nothing acked yet: the keepalive reply reports position 0
    assert(conn.confirmedPositions == Seq(0L))
    assert(end == LsnOffset(10L), "keepalives advance no row offset")
    s.commit(end)
    assert(conn.confirmedPositions == Seq(0L, 10L))
    // keepalive after the ack reports the confirmed position
    conn.deliver(CopyBothFraming.keepalive(120L, 0L, replyRequested = true))
    s.latestOffset(end, ReadLimit.allAvailable())
    assert(conn.confirmedPositions == Seq(0L, 10L, 10L))
  }

  test("admission cap holds on one long-lived instance with interleaved planning") {
    // Spark's actual usage: ONE stream instance serves every micro-batch,
    // and planInputPartitions for batch N runs before latestOffset for
    // batch N+1. Frames drained during planning but beyond the planned
    // end must NOT bypass the admission cap of the next poll.
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    (1 to 5).foreach(i => conn.deliver(
      CopyBothFraming.xlogData(i * 10L, i * 10L, 0L, s"seg$i".getBytes("UTF-8"))))
    val limit = ReadLimit.maxFiles(2)
    var cur = s.initialOffset()
    val batchSizes = scala.collection.mutable.ArrayBuffer[Int]()
    var advanced = true
    while (advanced) {
      val next = s.latestOffset(cur, limit)
      val factory = s.createReaderFactory()
      val n = s.planInputPartitions(cur, next).map { p =>
        val r = factory.createReader(p)
        var c = 0; while (r.next()) c += 1; r.close(); c
      }.sum
      advanced = n > 0
      if (advanced) { batchSizes += n; cur = next }
    }
    assert(batchSizes.toSeq == Seq(2, 2, 1),
      s"5 messages at 2/trigger on one instance -> 2+2+1, got $batchSizes")
  }

  test("commit drops acked frames from the unacked buffer (slot-retention memory bound)") {
    // the reader's memory is the admitted-but-unacked window, nothing
    // more: after commit(p), a replay plan of a range at or below p is
    // EMPTY from this instance (the engine never re-plans committed
    // ranges; recovery goes through the server's slot, not reader memory)
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    (1 to 4).foreach(i => conn.deliver(
      CopyBothFraming.xlogData(i * 10L, i * 10L, 0L, s"l$i".getBytes("UTF-8"))))
    val end = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    def rangeSize(lo: Long, hi: Long): Int =
      s.planInputPartitions(LsnOffset(lo), LsnOffset(hi))
        .map(_.asInstanceOf[graft.sources.LsnRangePartition].rows.size).sum
    assert(rangeSize(0L, 40L) == 4)
    s.commit(LsnOffset(20L))
    assert(rangeSize(0L, 20L) == 0, "acked frames are released, not retained")
    assert(rangeSize(20L, 40L) == 2, "unacked tail stays replayable")
    assert(end == LsnOffset(40L))
  }

  test("re-ack at or below the confirmed position sends no feedback (monotone)") {
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    conn.deliver(CopyBothFraming.xlogData(10L, 10L, 0L, "a".getBytes))
    conn.deliver(CopyBothFraming.xlogData(20L, 20L, 0L, "b".getBytes))
    val end = s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    s.commit(end)
    s.commit(LsnOffset(10L)) // replayed older commit: ignored
    s.commit(end)            // same position again: ignored
    assert(conn.confirmedPositions == Seq(20L))
  }

  test("stop() after a failed dial neither re-dials nor throws") {
    // the dial/handshake threw during latestOffset — shutdown must not
    // build a brand-new connection just to close it (or rethrow the dial
    // error from stop()), which is what re-evaluating a failed lazy
    // initializer would do
    var dials = 0
    val s = new CopyBothWalStream(() => {
      dials += 1
      throw new java.io.IOException("connection refused")
    })
    intercept[java.io.IOException] {
      s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    }
    assert(dials == 1)
    s.stop() // must be a no-op: nothing was ever opened
    assert(dials == 1, s"stop() dialed a fresh connection mid-shutdown ($dials)")
  }

  test("a fresh stream offers no offset before its first positioned frame") {
    def firstOffset(frames: Array[Byte]*): (Offset, InMemoryReplicationConnection) = {
      val conn = new InMemoryReplicationConnection
      frames.foreach(conn.deliver)
      val s = new CopyBothWalStream(() => conn)
      (s.latestOffset(s.initialOffset(), ReadLimit.allAvailable()), conn)
    }
    assert(firstOffset()._1 == null, "nothing delivered")
    val (afterKeepalives, conn) = firstOffset(
      CopyBothFraming.keepalive(50L, 0L, replyRequested = false),
      CopyBothFraming.keepalive(60L, 0L, replyRequested = true))
    assert(afterKeepalives == null, "keepalives alone")
    assert(conn.confirmedPositions == Seq(0L), "the reply is still sent")
    assert(firstOffset(
      CopyBothFraming.xlogData(0L, 0L, 0L, "relation-a".getBytes("UTF-8")),
      CopyBothFraming.xlogData(0L, 0L, 0L, "relation-b".getBytes("UTF-8")))._1
      == null, "walStart-0 frames alone")
  }

  test("the first positioned frame offers its lsn and carries the held walStart-0 frames") {
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    conn.deliver(CopyBothFraming.xlogData(0L, 0L, 0L, "relation".getBytes("UTF-8")))
    assert(s.latestOffset(s.initialOffset(), ReadLimit.allAvailable()) == null)
    conn.deliver(CopyBothFraming.xlogData(30L, 30L, 0L, "insert".getBytes("UTF-8")))
    // a null start reads as the initial offset
    val end = s.latestOffset(null, ReadLimit.allAvailable())
    assert(end == LsnOffset(30L))
    val rows = s.planInputPartitions(null, end)
      .flatMap(_.asInstanceOf[graft.sources.LsnRangePartition].rows)
      .map { case (lsn, b) => (lsn, new String(b, "UTF-8")) }.toSeq
    assert(rows == Seq((30L, "relation"), (30L, "insert")))
  }

  test("a resumed instance offers its checkpointed start with nothing new") {
    val conn = new InMemoryReplicationConnection
    val s = new CopyBothWalStream(() => conn)
    conn.deliver(CopyBothFraming.keepalive(90L, 0L, replyRequested = false))
    assert(s.latestOffset(LsnOffset(40L), ReadLimit.allAvailable()) == LsnOffset(40L))
    assert(s.planInputPartitions(LsnOffset(40L), LsnOffset(40L))
      .forall(_.asInstanceOf[graft.sources.LsnRangePartition].rows.isEmpty))
  }

  test("stop() closes the one opened connection") {
    val conn = new InMemoryReplicationConnection
    var dials = 0
    val s = new CopyBothWalStream(() => { dials += 1; conn })
    s.latestOffset(s.initialOffset(), ReadLimit.allAvailable())
    s.stop()
    assert(dials == 1 && conn.closed, "exactly one dial, closed on stop")
  }
}
