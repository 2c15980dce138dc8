package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketTimeoutException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CopyBothFraming, CopyBothWalStream,
  InMemoryReplicationServer, PgWireProtocol, SocketReplicationConnection}

/** Wire-faithful in-process replication server: a real ServerSocket
  * speaking the public protocol subset the client dials — SSLRequest
  * declined, StartupMessage validated (replication=database required),
  * AuthenticationOk/ReadyForQuery, START_REPLICATION → CopyBothResponse,
  * then CopyData both ways. Slot semantics (retention until feedback,
  * redelivery from confirmed on reconnect) delegate to
  * [[InMemoryReplicationServer]] — this class is ONLY the transport, so
  * the test proves the socket layer adds nothing and loses nothing.
  */
final class InProcessPgReplicationServer(
    val inner: InMemoryReplicationServer = new InMemoryReplicationServer,
    requirePassword: Option[String] = None,
    tamperNonce: Boolean = false) {

  private val listener = new ServerSocket(0, 16,
    java.net.InetAddress.getLoopbackAddress)
  @volatile private var closed = false
  /** Last START_REPLICATION command text, for option-rendering assertions. */
  @volatile var lastStartCommand: String = ""
  private val pendingError = new AtomicReference[Option[(String, String)]](None)

  def port: Int = listener.getLocalPort

  /** Next active session replies with ErrorResponse(sqlstate, msg) and
    * closes — the server-side failure the client must surface.
    */
  def injectError(sqlstate: String, msg: String): Unit =
    pendingError.set(Some((sqlstate, msg)))

  private def errorBody(sqlstate: String, msg: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    def field(code: Char, v: String): Unit = {
      b.write(code); b.write(v.getBytes(UTF_8)); b.write(0)
    }
    field('S', "ERROR"); field('C', sqlstate); field('M', msg)
    b.write(0)
    b.toByteArray
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    // startup (loop past SSLRequest)
    var params = PgWireProtocol.readStartup(in)
    while (params.isEmpty) {
      out.writeByte('N'); out.flush()
      params = PgWireProtocol.readStartup(in)
    }
    if (!params.get.get("replication").contains("database")) {
      PgWireProtocol.writeMessage(out, 'E',
        errorBody("55000", "connection is not a replication connection"))
      sock.close(); return
    }
    requirePassword match {
      case Some(pw) =>
        // AuthenticationSASL: offer SCRAM-SHA-256, verify the client proof
        // (full RFC 5802 verifier — the client's math must be real)
        val mechs = new java.io.ByteArrayOutputStream()
        mechs.write(ByteBuffer.allocate(4).putInt(10).array())
        mechs.write("SCRAM-SHA-256".getBytes(UTF_8)); mechs.write(0); mechs.write(0)
        PgWireProtocol.writeMessage(out, 'R', mechs.toByteArray)
        val init = PgWireProtocol.readMessage(in)
        require(init.tpe == 'p', s"expected SASLInitialResponse, got ${init.tpe}")
        val ib = ByteBuffer.wrap(init.body)
        val mechEnd = init.body.indexOf(0.toByte)
        require(new String(init.body, 0, mechEnd, UTF_8) == "SCRAM-SHA-256")
        ib.position(mechEnd + 1)
        val rlen = ib.getInt()
        val clientFirst = new String(init.body, mechEnd + 5, rlen, UTF_8)
        val clientFirstBare = clientFirst.stripPrefix("n,,")
        val clientNonce = PgWireProtocol.Scram.attrs(clientFirstBare)('r')
        val salt = "pepper-salt-0123".getBytes(UTF_8)
        // tamperNonce models a relayed/forged exchange: the server-first
        // nonce does NOT extend the client's (RFC 5802 MUST-check target)
        val fullNonce =
          (if (tamperNonce) "forged" else clientNonce) + "srvnonce"
        val serverFirst = s"r=$fullNonce,s=${PgWireProtocol.Scram.b64(salt)},i=4096"
        val cont = new java.io.ByteArrayOutputStream()
        cont.write(ByteBuffer.allocate(4).putInt(11).array())
        cont.write(serverFirst.getBytes(UTF_8))
        PgWireProtocol.writeMessage(out, 'R', cont.toByteArray)
        val fin = PgWireProtocol.readMessage(in)
        require(fin.tpe == 'p', s"expected SASLResponse, got ${fin.tpe}")
        val clientFinal = new String(fin.body, UTF_8)
        val fa = PgWireProtocol.Scram.attrs(clientFinal)
        val noProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
        val (expectedProof, serverSig) = PgWireProtocol.Scram.proofs(
          pw, clientFirstBare, serverFirst, noProof)
        if (fa('r') != fullNonce || !java.security.MessageDigest.isEqual(
            PgWireProtocol.Scram.unb64(fa('p')), expectedProof)) {
          PgWireProtocol.writeMessage(out, 'E',
            errorBody("28P01", "password authentication failed"))
          sock.close(); return
        }
        val sf = new java.io.ByteArrayOutputStream()
        sf.write(ByteBuffer.allocate(4).putInt(12).array())
        sf.write(s"v=${PgWireProtocol.Scram.b64(serverSig)}".getBytes(UTF_8))
        PgWireProtocol.writeMessage(out, 'R', sf.toByteArray)
      case None => ()
    }
    PgWireProtocol.writeMessage(out, 'R',
      ByteBuffer.allocate(4).putInt(0).array()) // AuthenticationOk
    PgWireProtocol.writeMessage(out, 'Z', Array('I'.toByte))
    // START_REPLICATION → CopyBoth
    val q = PgWireProtocol.readMessage(in)
    lastStartCommand = new String(q.body, UTF_8).stripSuffix("\u0000")
    if (q.tpe != 'Q' ||
        !new String(q.body, UTF_8).startsWith("START_REPLICATION")) {
      PgWireProtocol.writeMessage(out, 'E',
        errorBody("42601", "expected START_REPLICATION")); sock.close(); return
    }
    PgWireProtocol.writeMessage(out, 'W',
      ByteBuffer.allocate(3).put(0.toByte).putShort(0.toShort).array())
    // CopyBoth loop: forward retained frames, absorb standby feedback
    val session = inner.connect()
    sock.setSoTimeout(5)
    while (!closed && !sock.isClosed) {
      pendingError.getAndSet(None).foreach { case (code, msg) =>
        PgWireProtocol.writeMessage(out, 'E', errorBody(code, msg))
        sock.close(); return
      }
      var f = session.receive()
      while (f.isDefined) {
        PgWireProtocol.writeMessage(out, 'd', f.get)
        f = session.receive()
      }
      // only attempt a read when bytes are already queued — a timeout
      // mid-message would desync the stream
      if (in.available() > 0) {
        val m = PgWireProtocol.readMessage(in)
        m.tpe match {
          case 'd' => session.send(m.body)
          case 'X' => sock.close(); return
          case _ => ()
        }
      } else Thread.sleep(2)
    }
  }

  private val acceptor = new Thread(() => {
    try {
      while (!closed) {
        val sock = listener.accept()
        val t = new Thread(() => {
          try serve(sock)
          catch { case _: Throwable if closed => case _: java.io.IOException => }
        }, s"pg-serve-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: Throwable if closed => case _: java.io.IOException => }
  }, "pg-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = { closed = true; listener.close() }
}

/** The socket transport satisfies the SAME five-property seam contract as
  * the in-memory stub and the archived-WAL file source — the full
  * handshake and CopyBoth framing run over a real loopback TCP connection
  * for every fixture interaction; only a genuine Postgres endpoint (and
  * SCRAM auth) remains environment-bound.
  */
class SocketReplicationContractSpec extends WalSourceContract {

  /** The contract suite assumes append→poll visibility is synchronous (it
    * is, for the in-memory stub and file source). Frames here cross two
    * threads and a real socket, so the TEST connection waits a bounded
    * settle interval before reporting idle — the semantics under test are
    * the stream's, not loopback latency.
    */
  private final class PatientConnection(
      underlying: graft.sources.ReplicationConnection)
      extends graft.sources.ReplicationConnection {
    override def receive(): Option[Array[Byte]] = {
      var r = underlying.receive()
      val deadline = System.nanoTime() + 300_000_000L
      while (r.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(5)
        r = underlying.receive()
      }
      r
    }
    override def send(copyData: Array[Byte]): Unit = underlying.send(copyData)
  }

  override def newFixture(): Fixture = new Fixture {
    private val srv = new InProcessPgReplicationServer
    private var n = 0
    override def stream = new CopyBothWalStream(() => new PatientConnection(
      new SocketReplicationConnection("127.0.0.1", srv.port, "graft_slot")))
    override def append(lines: Seq[String]): Unit =
      lines.foreach { l => n += 1; srv.inner.deliver(n * 10L, l) }
    override def ledger: Seq[String] = {
      // feedback crosses a real socket: await quiescence (stable ledger)
      var prev = srv.inner.feedbackPositions
      var stable = 0
      val deadline = System.nanoTime() + 2_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(10)
        val cur = srv.inner.feedbackPositions
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev.map(_.toString)
    }
  }
}

/** Wire-level behaviors of the socket transport beyond the seam contract. */
class SocketReplicationWireSpec extends AnyFunSuite {

  /** Frames cross a real socket after the query dials, so its first
    * triggers can find none yet, and `processAllAvailable` covers only
    * what has arrived: drive the query until the sink holds `n` rows. */
  private def drainUntil(q: org.apache.spark.sql.streaming.StreamingQuery,
      out: String, n: Long): Unit = {
    def rows() = try TestSession.spark.read.parquet(out).count()
      catch { case _: Exception => 0L }
    val deadline = System.nanoTime() + 60_000_000_000L
    q.processAllAvailable()
    while (rows() < n && System.nanoTime() < deadline) {
      Thread.sleep(50); q.processAllAvailable()
    }
  }

  test("handshake + frames + feedback round-trip over a real TCP socket") {
    val srv = new InProcessPgReplicationServer
    try {
      srv.inner.deliver(10L, "line1")
      srv.inner.deliver(20L, "line2")
      val conn = new SocketReplicationConnection("127.0.0.1", srv.port, "s1")
      try {
        def drain(): Seq[CopyBothFraming.Frame] = {
          val buf = scala.collection.mutable.ArrayBuffer[CopyBothFraming.Frame]()
          val deadline = System.nanoTime() + 2_000_000_000L
          while (buf.size < 2 && System.nanoTime() < deadline)
            conn.receive() match {
              case Some(bytes) => buf += CopyBothFraming.parse(bytes)
              case None => Thread.sleep(5)
            }
          buf.toSeq
        }
        val frames = drain()
        assert(frames.map {
          case CopyBothFraming.XLogData(ws, _, _, p) => (ws, new String(p, UTF_8))
          case other => fail(s"unexpected $other")
        } == Seq((10L, "line1"), (20L, "line2")))
        conn.send(CopyBothFraming.standbyStatusUpdate(20L, 0L))
        val deadline = System.nanoTime() + 2_000_000_000L
        while (srv.inner.feedbackPositions.isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(5)
        assert(srv.inner.feedbackPositions == Seq(20L),
          "standby feedback reaches the slot through the socket")
        // slot redelivery on a NEW connection starts past the confirmed lsn
        srv.inner.deliver(30L, "line3")
        val conn2 = new SocketReplicationConnection("127.0.0.1", srv.port, "s1")
        try {
          var got: Option[Array[Byte]] = None
          val d2 = System.nanoTime() + 2_000_000_000L
          while (got.isEmpty && System.nanoTime() < d2) {
            got = conn2.receive(); if (got.isEmpty) Thread.sleep(5)
          }
          val f = CopyBothFraming.parse(got.get)
          assert(f.asInstanceOf[CopyBothFraming.XLogData].walStart == 30L,
            "reconnect redelivers only unconfirmed WAL")
        } finally conn2.close()
      } finally conn.close()
    } finally srv.close()
  }

  test("plugin start options render as the command's parenthesized list") {
    // pgoutput/wal2json options are part of START_REPLICATION's public
    // grammar: ( option_name 'value' [, ...] ) with SQL string quoting —
    // what a real server's output plugin will parse, pinned here on the
    // wire so the live-Postgres suite (PostgresIntegrationSpec) exercises
    // exactly this rendering
    val srv = new InProcessPgReplicationServer
    try {
      val conn = new SocketReplicationConnection("127.0.0.1", srv.port,
        "optslot", startOptions = Seq(
          "proto_version" -> "1",
          "publication_names" -> "pub_a,pub_b",
          "odd" -> "it's"))
      try {
        val deadline = System.nanoTime() + 2_000_000_000L
        while (srv.lastStartCommand.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(5)
        assert(srv.lastStartCommand ==
          "START_REPLICATION SLOT optslot LOGICAL 0/0 " +
            "(proto_version '1', publication_names 'pub_a,pub_b', odd 'it''s')")
      } finally conn.close()
      // and the option-free command is unchanged
      val plain = new SocketReplicationConnection("127.0.0.1", srv.port, "s0")
      try {
        val deadline = System.nanoTime() + 2_000_000_000L
        while (!srv.lastStartCommand.endsWith("s0 LOGICAL 0/0") &&
          System.nanoTime() < deadline) Thread.sleep(5)
        assert(srv.lastStartCommand == "START_REPLICATION SLOT s0 LOGICAL 0/0")
      } finally plain.close()
    } finally srv.close()
  }

  test("SCRAM-SHA-256: authenticated session streams; wrong password fails with 28P01") {
    val srv = new InProcessPgReplicationServer(
      requirePassword = Some("s3cret"))
    try {
      srv.inner.deliver(10L, "hello")
      val conn = new SocketReplicationConnection("127.0.0.1", srv.port, "s1",
        password = Some("s3cret"))
      try {
        var got: Option[Array[Byte]] = None
        val deadline = System.nanoTime() + 2_000_000_000L
        while (got.isEmpty && System.nanoTime() < deadline) {
          got = conn.receive(); if (got.isEmpty) Thread.sleep(5)
        }
        val f = CopyBothFraming.parse(got.get)
          .asInstanceOf[CopyBothFraming.XLogData]
        assert(new String(f.payload, UTF_8) == "hello",
          "frames flow after a successful SCRAM exchange")
      } finally conn.close()

      val bad = intercept[java.io.IOException] {
        new SocketReplicationConnection("127.0.0.1", srv.port, "s1",
          password = Some("wrong"))
      }
      assert(bad.getMessage.contains("28P01"),
        s"authentication failure carries its SQLSTATE: ${bad.getMessage}")

      val none = intercept[java.io.IOException] {
        new SocketReplicationConnection("127.0.0.1", srv.port, "s1")
      }
      assert(none.getMessage.contains("no password configured"),
        s"passwordless dial against a SCRAM server is a named error: ${none.getMessage}")
    } finally srv.close()
  }

  test("SCRAM: server nonce that does not extend the client nonce fails fatal 28000") {
    // RFC 5802: "the client MUST verify that the initial part of the nonce
    // ... matches" — a non-extending nonce means the server-first message
    // was not produced for OUR exchange (relay/forgery); the client must
    // abort before sending a proof, with the fatal-auth SQLSTATE so
    // Reliability classifies it no-retry.
    val srv = new InProcessPgReplicationServer(
      requirePassword = Some("s3cret"), tamperNonce = true)
    try {
      val e = intercept[java.io.IOException] {
        new SocketReplicationConnection("127.0.0.1", srv.port, "s1",
          password = Some("s3cret"))
      }
      assert(e.getMessage.contains("nonce") && e.getMessage.contains("28000"),
        s"nonce violation is a named fatal auth error: ${e.getMessage}")
      assert(graft.streaming.Reliability.isFatal(e),
        "non-extending nonce classifies fatal (no reconnect loop)")
    } finally srv.close()
  }

  test("server ErrorResponse surfaces as IOException with SQLSTATE on receive()") {
    val srv = new InProcessPgReplicationServer
    try {
      val conn = new SocketReplicationConnection("127.0.0.1", srv.port, "s1")
      try {
        srv.injectError("57P01", "terminating connection due to administrator command")
        val deadline = System.nanoTime() + 2_000_000_000L
        var thrown: Option[Throwable] = None
        while (thrown.isEmpty && System.nanoTime() < deadline) {
          try { conn.receive(); Thread.sleep(5) }
          catch { case e: java.io.IOException => thrown = Some(e) }
        }
        assert(thrown.isDefined, "server error must surface")
        assert(thrown.get.getMessage.contains("57P01"),
          s"SQLSTATE rides along for Reliability classification: ${thrown.get.getMessage}")
      } finally conn.close()
    } finally srv.close()
  }

  test("zero-walStart metadata frames attach to the next positioned frame (live-Postgres Relation messages)") {
    // REAL pgoutput sends Relation/Type messages with XLogData
    // walStart = 0/0 (found against live Postgres 15: the source's
    // (lo, hi] offset range silently dropped them and every data message
    // then failed "no prior Relation"). The source must surface them AT
    // the next positioned frame's lsn, ordered ahead of it.
    val spark = TestSession.spark
    import org.apache.spark.sql.streaming.Trigger
    val srv = new InProcessPgReplicationServer
    try {
      srv.inner.deliver(0L, "relation-metadata")   // how a Relation arrives
      srv.inner.deliver(20L, "insert-data")
      srv.inner.deliver(0L, "type-metadata")       // mid-stream metadata too
      srv.inner.deliver(30L, "more-data")
      val out = java.nio.file.Files.createTempDirectory("sock_zero_out").toString
      val ck = java.nio.file.Files.createTempDirectory("sock_zero_ck").toString
      val raw = spark.readStream.format("graft.sources.CopyBothSource")
        .option("host", "127.0.0.1").option("port", srv.port.toString)
        .option("slot", "s_zero").load()
      val q = raw.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        def rows() = try spark.read.parquet(out).count()
          catch { case _: Exception => 0L }
        while (rows() < 4 && q.exception.isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
        q.exception.foreach(e => throw e)
        val got = spark.read.parquet(out)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          .sortBy(t => (t._1, t._2 != "relation-metadata" && t._2 != "type-metadata"))
        assert(got == Seq((20L, "relation-metadata"), (20L, "insert-data"),
          (30L, "type-metadata"), (30L, "more-data")),
          s"metadata frames ride the next data frame's position: $got")
      } finally q.stop()
    } finally srv.close()
  }

  test("supervised restart rides out a transient socket error; fatal auth never restarts") {
    // S4 end-to-end over the REAL transport: the server kills the first
    // session with a TRANSIENT SQLSTATE (57P01 admin shutdown) before
    // delivering anything; Main's supervisor (Running.await) classifies
    // it restartable (via the socket transport's "(SQLSTATE)" message
    // suffix), restarts from the same checkpoint after the reconnect
    // backoff, and the second session re-delivers the unconfirmed WAL —
    // the reference's reconnect loop (reader.go:574-592) as a
    // streaming-query supervisor.
    val spark = TestSession.spark
    import org.apache.spark.sql.streaming.Trigger
    val srv = new InProcessPgReplicationServer
    try {
      srv.inner.deliver(10L, "frame-a")
      srv.inner.deliver(20L, "frame-b")
      srv.injectError("57P01", "terminating connection due to administrator command")
      val out = java.nio.file.Files.createTempDirectory("sock_sup_out").toString
      val ck = java.nio.file.Files.createTempDirectory("sock_sup_ck").toString
      var starts = 0
      def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
        starts += 1
        val raw = spark.readStream.format("graft.sources.CopyBothSource")
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("slot", "s_sup").load()
        val q = raw.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
        val watcher = new Thread(() => {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          def cnt() = try spark.read.parquet(out).count()
            catch { case _: Exception => 0L }
          while (cnt() < 2 && q.exception.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(50)
          if (q.exception.isEmpty) q.stop()
        })
        watcher.setDaemon(true); watcher.start()
        q
      }
      val restarts = new graft.tools.Main.Running(() => startQuery(),
        new graft.streaming.CdcMetrics.Registry, maxRestarts = 3).await()
      assert(restarts == 1 && starts == 2,
        s"one transient failure, one successful restart (restarts=$restarts starts=$starts)")
      assert(spark.read.parquet(out).count() == 2,
        "the restarted session re-delivers the unconfirmed WAL")

      // fatal: SCRAM failure (28P01) — no restart, the error propagates
      val srvF = new InProcessPgReplicationServer(
        requirePassword = Some("right"))
      try {
        val outF = java.nio.file.Files.createTempDirectory("sock_fat_out").toString
        val ckF = java.nio.file.Files.createTempDirectory("sock_fat_ck").toString
        var startsF = 0
        val e = intercept[Throwable] {
          new graft.tools.Main.Running(() => {
            startsF += 1
            spark.readStream.format("graft.sources.CopyBothSource")
              .option("host", "127.0.0.1").option("port", srvF.port.toString)
              .option("slot", "s_fat").option("password", "wrong").load()
              .writeStream.format("parquet").option("path", outF)
              .option("checkpointLocation", ckF)
              .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
          }, new graft.streaming.CdcMetrics.Registry, maxRestarts = 3).await()
        }
        def chain(t: Throwable): List[String] =
          if (t == null) Nil else Option(t.getMessage).toList ::: chain(t.getCause)
        assert(chain(e).exists(_.contains("28P01")),
          s"fatal auth SQLSTATE propagates: ${chain(e)}")
        assert(startsF == 1, s"fatal errors never restart (starts=$startsF)")
      } finally srvF.close()
    } finally srv.close()
  }

  test("pgoutput over the replication socket: the reference's default deployment shape end-to-end") {
    val spark = TestSession.spark
    import spark.implicits._
    import graft.cdc.PgWire
    val srv = new InProcessPgReplicationServer
    try {
      val t0 = 1705314600123456L
      srv.inner.deliverBytes(10L,
        PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25)))
      srv.inner.deliverBytes(20L, PgWire.begin(1000L, t0, 7))
      srv.inner.deliverBytes(30L, PgWire.insert(100, Seq(Some("1"), Some("alice"))))
      srv.inner.deliverBytes(40L, PgWire.insert(100, Seq(Some("2"), Some("bob"))))
      srv.inner.deliverBytes(50L, PgWire.commit(1000L, 1001L, t0))
      srv.inner.deliverBytes(60L, PgWire.begin(2000L, t0, 8)) // uncommitted
      srv.inner.deliverBytes(70L, PgWire.insert(100, Seq(Some("3"), Some("carol"))))
      val out = java.nio.file.Files.createTempDirectory("pgsock_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("pgsock_ckpt").toString
      val raw = spark.readStream.format("graft.sources.CopyBothSource")
        .option("host", "127.0.0.1").option("port", srv.port.toString)
        .option("slot", "graft_slot").option("payload", "binary").load()
      // the source decodes: its rows are pgoutput events, not frames
      assert(raw.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq
        == Seq(("wal_start", "long"), ("operation", "string"),
          ("is_begin", "boolean"), ("is_commit", "boolean"),
          ("schema_name", "string"), ("table_name", "string"),
          ("old_values", "map"), ("new_values", "map"), ("txid", "long"),
          ("action_time", "timestamp")))
      val q = graft.streaming.CdcStream.start(spark, raw, "testdb", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"),
        plugin = "pgoutput")
      try drainUntil(q, out, 2L) finally q.stop()
      val events = spark.read.parquet(out)
      assert(events.count() == 2, "only the committed pgoutput tx emits")
      assert(events.select("txid").as[Long].collect().toSet == Set(7L))
      assert(events.select("after").collect()
        .map(_.getMap[String, String](0)("name")).toSet == Set("alice", "bob"),
        "binary tuple values decode through the socket unchanged")
    } finally srv.close()
  }

  test("pgoutput restart between a Begin and its Commit: the new session rebuilds the decode context, every event lands once") {
    // the decode context (relation registry, open transaction's xid) is
    // not checkpointed: the restarted query's session gets it back from
    // what the slot re-sends — the open transaction from its Begin, and
    // the Relation before its next use — through the real socket
    val spark = TestSession.spark
    import spark.implicits._
    import graft.cdc.PgWire
    val srv = new InProcessPgReplicationServer
    try {
      val t0 = 1705314600123456L
      srv.inner.deliverBytes(0L,
        PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25)))
      srv.inner.deliverBytes(10L, PgWire.begin(12L, t0, 6))
      srv.inner.deliverBytes(11L, PgWire.insert(100, Seq(Some("1"), Some("ann"))))
      srv.inner.deliverBytes(12L, PgWire.commit(12L, 13L, t0))
      srv.inner.deliverBytes(20L, PgWire.begin(50L, t0, 7))
      srv.inner.deliverBytes(30L, PgWire.insert(100, Seq(Some("2"), Some("bob"))))
      val out = java.nio.file.Files.createTempDirectory("pgsock_restart_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("pgsock_restart_ckpt").toString
      def start() = graft.streaming.CdcStream.start(spark,
        spark.readStream.format("graft.sources.CopyBothSource")
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("slot", "graft_slot").option("payload", "binary").load(),
        "testdb", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"),
        plugin = "pgoutput")
      def within(what: String)(done: => Boolean): Unit = {
        val deadline = System.nanoTime() + 60_000_000_000L
        while (!done && System.nanoTime() < deadline) Thread.sleep(50)
        assert(done, what)
      }
      val q1 = start()
      try {
        drainUntil(q1, out, 1L)
        // one more change of tx 7 makes the engine confirm the first
        // batch, so the slot's confirmed position lies inside tx 7
        srv.inner.deliverBytes(35L, PgWire.insert(100, Seq(Some("3"), Some("cy"))))
        within("the slot confirms a position inside tx 7")(
          srv.inner.feedbackPositions.exists(p => p >= 30L && p < 50L))
        within("tx 7's third change is read")(
          q1.recentProgress.map(_.numInputRows).sum >= 6L)
      } finally q1.stop()
      srv.inner.deliverBytes(40L, PgWire.insert(100, Seq(Some("4"), Some("dee"))))
      srv.inner.deliverBytes(50L, PgWire.commit(50L, 51L, t0))
      val q2 = start()
      try drainUntil(q2, out, 4L) finally q2.stop()
      val events = spark.read.parquet(out)
        .select($"event_id", $"txid", $"after".getItem("name")).as[(String, Long, String)]
        .collect().toSeq
      assert(events.map(_._1).distinct.size == events.size, s"an event landed twice: $events")
      assert(events.map(e => (e._2, e._3)).sorted ==
        Seq((6L, "ann"), (7L, "bob"), (7L, "cy"), (7L, "dee")),
        s"tx 7 commits whole under its own xid after the restart: $events")
    } finally srv.close()
  }

  test("full CDC pipeline over the socket transport via DSv2 host/port options") {
    val spark = TestSession.spark
    import spark.implicits._
    val srv = new InProcessPgReplicationServer
    try {
      val ts = "2024-01-15 10:30:00.123456+00"
      def line(action: String, xid: Long, id: Int = 0): String = action match {
        case "B" | "C" => s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}"""
        case a => s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":$id}]}"""
      }
      srv.inner.deliver(10L, line("B", 7))
      srv.inner.deliver(20L, line("I", 7, id = 1))
      srv.inner.deliver(30L, line("I", 7, id = 2))
      srv.inner.deliver(40L, line("C", 7))
      val out = java.nio.file.Files.createTempDirectory("sock_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("sock_ckpt").toString
      val raw = spark.readStream.format("graft.sources.CopyBothSource")
        .option("host", "127.0.0.1").option("port", srv.port.toString)
        .option("slot", "graft_slot").load()
      val q = graft.streaming.CdcStream.start(spark, raw, "testdb", out, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      try drainUntil(q, out, 2L) finally q.stop()
      val events = spark.read.parquet(out)
      assert(events.count() == 2, "tx 7's committed events emit over TCP")
      assert(events.select("txid").as[Long].collect().toSet == Set(7L))
      val deadline = System.nanoTime() + 2_000_000_000L
      while (srv.inner.feedbackPositions.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(srv.inner.feedbackPositions.nonEmpty,
        "the engine's commits became standby feedback on the wire")
    } finally srv.close()
  }
}
