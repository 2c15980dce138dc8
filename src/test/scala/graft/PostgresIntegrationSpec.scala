package graft

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.PgWireProtocol

/** OPT-IN integration suite against a LIVE PostgreSQL — the reference's
  * testcontainers harness analog (tests/integration/helpers_test.go:44-105
  * runs wal.NewPGReader against a real pgconn endpoint). The sandbox has
  * no Postgres, so every test `assume`s `GRAFT_IT_PG=1` and cancels
  * (reports as skipped, not failed) when unset.
  *
  * To run:
  *   docker compose up -d          # postgres 17 + wal2json, wal_level=logical
  *   GRAFT_IT_PG=1 sbt "testOnly graft.PostgresIntegrationSpec"
  *
  * Endpoint overrides: GRAFT_IT_PG_HOST / _PORT / _USER / _PASSWORD / _DB
  * (defaults localhost / 5432 / postgres / postgres / postgres).
  *
  * What this proves that the in-process wire-faithful server
  * (SocketReplicationSpec) cannot: the handshake (incl. SCRAM-SHA-256
  * against a real SCRAM verifier), START_REPLICATION plugin options, the
  * actual wal2json/pgoutput bytes a real server emits, and standby
  * feedback advancing a real slot's confirmed_flush_lsn.
  */
class PostgresIntegrationSpec extends SparkSpec {

  private val enabled = sys.env.get("GRAFT_IT_PG").contains("1")
  private def host = sys.env.getOrElse("GRAFT_IT_PG_HOST", "localhost")
  private def port = sys.env.getOrElse("GRAFT_IT_PG_PORT", "5432").toInt
  private def user = sys.env.getOrElse("GRAFT_IT_PG_USER", "postgres")
  private def pw = sys.env.getOrElse("GRAFT_IT_PG_PASSWORD", "postgres")
  private def db = sys.env.getOrElse("GRAFT_IT_PG_DB", "postgres")

  /** Plain-SQL session over the same minimal wire codec the replication
    * transport uses (simple query protocol: 'Q' → T/D/C…/'Z'). Setup runs
    * through SELECT pg_create_logical_replication_slot / DDL — no
    * replication mode needed on this connection.
    */
  private final class PgAdmin {
    private val socket = new Socket(host, port)
    private val in = new DataInputStream(
      new java.io.BufferedInputStream(socket.getInputStream))
    private val out = new DataOutputStream(
      new java.io.BufferedOutputStream(socket.getOutputStream))
    PgWireProtocol.writeStartup(out, Seq("user" -> user, "database" -> db))
    // auth loop: trust (code 0) or SCRAM-SHA-256 (10/11/12), then 'Z'
    private var scramNonce: String = null
    private var scramFirstBare: String = null
    private var scramSig: Array[Byte] = null
    private var ready = false
    while (!ready) {
      val m = PgWireProtocol.readMessage(in)
      m.tpe match {
        case 'R' => ByteBuffer.wrap(m.body).getInt() match {
          case 0 =>
          case 10 =>
            val r = new Array[Byte](18)
            new java.security.SecureRandom().nextBytes(r)
            scramNonce = PgWireProtocol.Scram.b64(r)
            scramFirstBare = s"n=,r=$scramNonce"
            val initial = s"n,,$scramFirstBare".getBytes(UTF_8)
            val body = new java.io.ByteArrayOutputStream()
            body.write("SCRAM-SHA-256".getBytes(UTF_8)); body.write(0)
            body.write(ByteBuffer.allocate(4).putInt(initial.length).array())
            body.write(initial)
            PgWireProtocol.writeMessage(out, 'p', body.toByteArray)
          case 11 =>
            val serverFirst = new String(m.body, 4, m.body.length - 4, UTF_8)
            val a = PgWireProtocol.Scram.attrs(serverFirst)
            require(a('r').startsWith(scramNonce), "nonce must extend")
            val noProof = s"c=biws,r=${a('r')}"
            val (proof, sig) = PgWireProtocol.Scram.proofs(
              pw, scramFirstBare, serverFirst, noProof)
            scramSig = sig
            PgWireProtocol.writeMessage(out, 'p',
              s"$noProof,p=${PgWireProtocol.Scram.b64(proof)}".getBytes(UTF_8))
          case 12 =>
            val fin = new String(m.body, 4, m.body.length - 4, UTF_8)
            require(java.security.MessageDigest.isEqual(
              PgWireProtocol.Scram.unb64(
                PgWireProtocol.Scram.attrs(fin)('v')), scramSig),
              "server signature verification failed")
          case code => throw new IOException(s"unsupported auth method $code")
        }
        case 'S' | 'K' | 'N' =>
        case 'Z' => ready = true
        case 'E' => throw new IOException(PgWireProtocol.errorString(m.body))
        case other => throw new IOException(s"unexpected '$other' in startup")
      }
    }

    /** Execute one statement, consuming the full response. */
    def exec(sql: String): Unit = {
      PgWireProtocol.writeQuery(out, sql)
      var err: Option[String] = None
      var done = false
      while (!done) {
        val m = PgWireProtocol.readMessage(in)
        m.tpe match {
          case 'Z' => done = true
          case 'E' => err = Some(PgWireProtocol.errorString(m.body))
          case _ => // T/D/C/N/S — row data and tails are irrelevant here
        }
      }
      err.foreach(e => throw new IOException(s"$sql failed: $e"))
    }

    def execIgnoring(sql: String): Unit =
      try exec(sql) catch { case _: IOException => }

    /** First column of the first row, if any (DataRow 'D': int16 ncols,
      * then per column int32 len (-1 = NULL) + bytes).
      */
    def queryFirst(sql: String): Option[String] = {
      PgWireProtocol.writeQuery(out, sql)
      var err: Option[String] = None
      var first: Option[String] = None
      var done = false
      while (!done) {
        val m = PgWireProtocol.readMessage(in)
        m.tpe match {
          case 'Z' => done = true
          case 'E' => err = Some(PgWireProtocol.errorString(m.body))
          case 'D' if first.isEmpty =>
            val b = ByteBuffer.wrap(m.body)
            val ncols = b.getShort()
            if (ncols > 0) {
              val len = b.getInt()
              if (len >= 0) {
                val v = new Array[Byte](len); b.get(v)
                first = Some(new String(v, UTF_8))
              }
            }
          case _ =>
        }
      }
      err.foreach(e => throw new IOException(s"$sql failed: $e"))
      first
    }

    def close(): Unit = {
      try PgWireProtocol.writeTerminate(out) catch { case _: IOException => }
      try socket.close() catch { case _: IOException => }
    }
  }

  private def withAdmin[A](f: PgAdmin => A): A = {
    val a = new PgAdmin
    try f(a) finally a.close()
  }

  /** Whether the server can load an output plugin (wal2json ships in the
    * docker image but not in a bare local install; pgoutput is built in).
    * Probed by creating and dropping a throwaway slot.
    */
  private def pluginAvailable(name: String): Boolean = withAdmin { pg =>
    val probe = s"graft_probe_${name.filter(_.isLetterOrDigit)}"
    pg.execIgnoring(s"SELECT pg_drop_replication_slot('$probe')")
    try {
      pg.exec(s"SELECT pg_create_logical_replication_slot('$probe', '$name')")
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$probe')")
      true
    } catch { case _: IOException => false }
  }

  private def pollSink(out: String, atLeast: Long,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutSec: Int = 120): Long = {
    def rows() =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    val deadline = System.nanoTime() + timeoutSec * 1_000_000_000L
    while (rows() < atLeast && q.exception.isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(200)
    q.exception.foreach(throw _)
    rows()
  }

  test("wal2json: live slot -> socket transport -> full pipeline -> ordered sink") {
    assume(enabled, "set GRAFT_IT_PG=1 (and docker compose up -d) to run")
    assume(pluginAvailable("wal2json"),
      "server has no wal2json output plugin (bare local install — the " +
        "docker-compose image ships it); pgoutput coverage runs regardless")
    import spark.implicits._
    val slot = "graft_it_w2j"
    withAdmin { pg =>
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
      pg.exec("DROP TABLE IF EXISTS graft_it_users")
      pg.exec("CREATE TABLE graft_it_users (id bigint PRIMARY KEY, name text)")
      pg.exec(s"SELECT pg_create_logical_replication_slot('$slot', 'wal2json')")
      // one committed tx AFTER the slot exists -> captured from the slot's
      // consistent point
      pg.exec("BEGIN; INSERT INTO graft_it_users VALUES (1, 'alice'), (2, 'bob'); COMMIT")
    }
    val out = java.nio.file.Files.createTempDirectory("it_w2j_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("it_w2j_ckpt").toString
    val raw = spark.readStream.format("graft.sources.CopyBothSource")
      .option("host", host).option("port", port.toString)
      .option("slot", slot).option("user", user)
      .option("database", db).option("password", pw)
      .option("startOptions",
        "format-version=2;include-xids=1;include-timestamp=1")
      .load()
    val q = graft.streaming.CdcStream.start(spark, raw, db, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      assert(pollSink(out, 2, q) >= 2, "committed inserts arrive end to end")
      val events = spark.read.parquet(out)
      assert(events.filter($"table" === "graft_it_users").count() == 2)
      assert(events.filter($"table" === "graft_it_users")
        .select("after").collect()
        .map(_.getMap[String, String](0)("name")).toSet == Set("alice", "bob"))
      assert(events.select("operation").distinct().as[String].collect()
        .toSet == Set("I"))
    } finally {
      q.stop()
      withAdmin { pg =>
        pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
        pg.execIgnoring("DROP TABLE IF EXISTS graft_it_users")
      }
    }
  }

  test("pgoutput: live publication + slot -> binary frames -> full pipeline") {
    assume(enabled, "set GRAFT_IT_PG=1 (and docker compose up -d) to run")
    import spark.implicits._
    val slot = "graft_it_pgo"
    val pub = "graft_it_pub"
    withAdmin { pg =>
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
      pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
      pg.exec("DROP TABLE IF EXISTS graft_it_orders")
      pg.exec("CREATE TABLE graft_it_orders (id bigint PRIMARY KEY, total numeric)")
      pg.exec(s"CREATE PUBLICATION $pub FOR TABLE graft_it_orders")
      pg.exec(s"SELECT pg_create_logical_replication_slot('$slot', 'pgoutput')")
      pg.exec("BEGIN; INSERT INTO graft_it_orders VALUES (10, 99.5), (11, 1.25); COMMIT")
    }
    val out = java.nio.file.Files.createTempDirectory("it_pgo_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("it_pgo_ckpt").toString
    val raw = spark.readStream.format("graft.sources.CopyBothSource")
      .option("host", host).option("port", port.toString)
      .option("slot", slot).option("user", user)
      .option("database", db).option("password", pw)
      .option("payload", "binary")
      .option("startOptions", s"proto_version=1;publication_names=$pub")
      .load()
    val q = graft.streaming.CdcStream.start(spark, raw, db, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      plugin = "pgoutput")
    try {
      assert(pollSink(out, 2, q) >= 2, "pgoutput frames decode end to end")
      val events = spark.read.parquet(out)
        .filter($"table" === "graft_it_orders")
      assert(events.count() == 2)
      assert(events.select("after").collect()
        .map(_.getMap[String, String](0)("id")).toSet == Set("10", "11"))
    } finally {
      q.stop()
      withAdmin { pg =>
        pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
        pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
        pg.execIgnoring("DROP TABLE IF EXISTS graft_it_orders")
      }
    }
  }

  /** "1A2B/3C" → 64-bit WAL position. */
  private def parseLsn(s: String): Long = {
    val Array(hi, lo) = s.split("/")
    (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
  }

  test("pgoutput v2 live: a work_mem-spilling tx arrives STREAMED " +
      "(real StreamStart/Commit frames); a rolled-back big tx vanishes") {
    assume(enabled, "set GRAFT_IT_PG=1 (and docker compose up -d) to run")
    import spark.implicits._
    val slot = "graft_it_pgv2"
    val pub = "graft_it_pub_v2"
    withAdmin { pg =>
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
      pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
      pg.exec("DROP TABLE IF EXISTS graft_it_big")
      pg.exec("CREATE TABLE graft_it_big (id bigint PRIMARY KEY, pad text)")
      pg.exec(s"CREATE PUBLICATION $pub FOR TABLE graft_it_big")
      pg.exec(s"SELECT pg_create_logical_replication_slot('$slot', 'pgoutput')")
      // force the reorderbuffer to spill-to-stream on test-sized txs
      // (64kB is the GUC's floor; the txs below decode to ~400kB)
      pg.exec("ALTER SYSTEM SET logical_decoding_work_mem = '64kB'")
      pg.exec("SELECT pg_reload_conf()")
    }
    val out = java.nio.file.Files.createTempDirectory("it_pgv2_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("it_pgv2_ckpt").toString
    val raw = spark.readStream.format("graft.sources.CopyBothSource")
      .option("host", host).option("port", port.toString)
      .option("slot", slot).option("user", user)
      .option("database", db).option("password", pw)
      .option("payload", "binary")
      .option("startOptions",
        s"proto_version=2;publication_names=$pub;streaming=on")
      .load()
    val q = graft.streaming.CdcStream.start(spark, raw, db, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      plugin = "pgoutput")
    try {
      withAdmin { pg =>
        // big COMMITTED tx: 3000 rows × ~110 B decoded ≫ 64kB → streamed
        pg.exec("BEGIN; INSERT INTO graft_it_big " +
          "SELECT g, repeat('x', 100) FROM generate_series(1, 3000) g; COMMIT")
        // big ROLLED-BACK tx: its (possibly already-streamed) changes
        // must be retracted by StreamAbort, never reaching the sink
        pg.exec("BEGIN; INSERT INTO graft_it_big " +
          "SELECT g, repeat('y', 100) FROM generate_series(5001, 8000) g; ROLLBACK")
        // small tail tx: still plain v1-style Begin..Commit under v2
        pg.exec("INSERT INTO graft_it_big VALUES (9999, 'tail')")
      }
      assert(pollSink(out, 3001, q) >= 3001,
        "streamed + plain txs decode end to end")
      val ids = spark.read.parquet(out)
        .filter($"table" === "graft_it_big")
        .select($"after".getItem("id").cast("long")).as[Long].collect()
      assert(ids.length == 3001, s"got ${ids.length} rows")
      assert(ids.count(_ <= 3000) == 3000 && ids.contains(9999L))
      assert(!ids.exists(id => id >= 5001 && id <= 8000),
        "rolled-back streamed rows must never land")
      // server-side proof the v2 path actually fired: the slot's
      // streamed-transaction counter moved
      val streamed = withAdmin(_.queryFirst("SELECT stream_txns FROM " +
        s"pg_stat_replication_slots WHERE slot_name = '$slot'"))
      assert(streamed.exists(_.toLong >= 1),
        s"stream_txns must count the spilled tx, got $streamed")
    } finally {
      q.stop()
      withAdmin { pg =>
        pg.execIgnoring("ALTER SYSTEM RESET logical_decoding_work_mem")
        pg.execIgnoring("SELECT pg_reload_conf()")
        pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
        pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
        pg.execIgnoring("DROP TABLE IF EXISTS graft_it_big")
      }
    }
  }

  test("pgoutput two-phase live: PREPARE TRANSACTION stays pending in the " +
      "sink until COMMIT PREPARED; ROLLBACK PREPARED never lands") {
    assume(enabled, "set GRAFT_IT_PG=1 (and docker compose up -d) to run")
    import spark.implicits._
    val slot = "graft_it_2pc"
    val pub = "graft_it_pub_2pc"
    val canTwoPhase = withAdmin { pg =>
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
      pg.execIgnoring("ROLLBACK PREPARED 'graft_2pc_a'")
      pg.execIgnoring("ROLLBACK PREPARED 'graft_2pc_b'")
      pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
      pg.exec("DROP TABLE IF EXISTS graft_it_2pc_t")
      pg.exec("CREATE TABLE graft_it_2pc_t (id bigint PRIMARY KEY, v text)")
      pg.exec(s"CREATE PUBLICATION $pub FOR TABLE graft_it_2pc_t")
      // two_phase slots need PG 15+ AND max_prepared_transactions > 0
      // (tools/run_local_pg.sh sets 10); probe both in one shot
      try {
        pg.exec("SELECT pg_create_logical_replication_slot(" +
          s"'$slot', 'pgoutput', false, true)")
        pg.exec("BEGIN; SELECT 1; PREPARE TRANSACTION 'graft_2pc_probe'")
        pg.exec("ROLLBACK PREPARED 'graft_2pc_probe'")
        true
      } catch { case _: IOException => false }
    }
    assume(canTwoPhase, "server lacks two_phase slots or " +
      "max_prepared_transactions=0 (restart-only GUC)")
    val out = java.nio.file.Files.createTempDirectory("it_2pc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("it_2pc_ckpt").toString
    val raw = spark.readStream.format("graft.sources.CopyBothSource")
      .option("host", host).option("port", port.toString)
      .option("slot", slot).option("user", user)
      .option("database", db).option("password", pw)
      .option("payload", "binary")
      .option("startOptions",
        s"proto_version=3;publication_names=$pub;streaming=on;two_phase=on")
      .load()
    val q = graft.streaming.CdcStream.start(spark, raw, db, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"),
      plugin = "pgoutput")
    def sinkIds(): Set[Long] =
      try spark.read.parquet(out).filter($"table" === "graft_it_2pc_t")
        .select($"after".getItem("id").cast("long")).as[Long]
        .collect().toSet
      catch { case _: Exception => Set.empty }
    try {
      withAdmin { pg =>
        pg.exec("BEGIN; INSERT INTO graft_it_2pc_t " +
          "SELECT g, 'pending' FROM generate_series(1, 3) g; " +
          "PREPARE TRANSACTION 'graft_2pc_a'")
        pg.exec("INSERT INTO graft_it_2pc_t VALUES (99, 'plain')")
      }
      // the plain tx lands while the prepared one is HELD: the server
      // has already sent BeginPrepare..rows..Prepare, and assembly must
      // keep that group pending until its resolution arrives
      assert(pollSink(out, 1, q) >= 1)
      assert(sinkIds().contains(99L), "plain tx must land")
      assert(!Seq(1L, 2L, 3L).exists(sinkIds()),
        s"prepared-but-unresolved rows must stay pending: ${sinkIds()}")
      withAdmin(_.exec("COMMIT PREPARED 'graft_2pc_a'"))
      assert(pollSink(out, 4, q) >= 4,
        "COMMIT PREPARED must release the held rows")
      assert(Seq(1L, 2L, 3L).forall(sinkIds()), s"got ${sinkIds()}")
      withAdmin { pg =>
        pg.exec("BEGIN; INSERT INTO graft_it_2pc_t " +
          "SELECT g, 'doomed' FROM generate_series(11, 13) g; " +
          "PREPARE TRANSACTION 'graft_2pc_b'")
        pg.exec("ROLLBACK PREPARED 'graft_2pc_b'")
        pg.exec("INSERT INTO graft_it_2pc_t VALUES (100, 'tail')")
      }
      assert(pollSink(out, 5, q) >= 5)
      assert(sinkIds().contains(100L))
      assert(!Seq(11L, 12L, 13L).exists(sinkIds()),
        s"ROLLBACK PREPARED rows must never land: ${sinkIds()}")
    } finally {
      q.stop()
      withAdmin { pg =>
        pg.execIgnoring("ROLLBACK PREPARED 'graft_2pc_a'")
        pg.execIgnoring("ROLLBACK PREPARED 'graft_2pc_b'")
        pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
        pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
        pg.execIgnoring("DROP TABLE IF EXISTS graft_it_2pc_t")
      }
    }
  }

  test("standby feedback advances the real slot's confirmed_flush_lsn") {
    assume(enabled, "set GRAFT_IT_PG=1 (and docker compose up -d) to run")
    // feedback semantics are plugin-independent: prefer wal2json (the
    // docker image), fall back to the built-in pgoutput on a bare server
    val useW2j = pluginAvailable("wal2json")
    val slot = "graft_it_fb"
    val pub = "graft_it_fb_pub"
    val atCreation = withAdmin { pg =>
      pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
      pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
      pg.exec("DROP TABLE IF EXISTS graft_it_fb_t")
      pg.exec("CREATE TABLE graft_it_fb_t (id bigint PRIMARY KEY)")
      if (!useW2j) pg.exec(s"CREATE PUBLICATION $pub FOR TABLE graft_it_fb_t")
      pg.exec("SELECT pg_create_logical_replication_slot(" +
        s"'$slot', '${if (useW2j) "wal2json" else "pgoutput"}')")
      pg.exec("INSERT INTO graft_it_fb_t VALUES (1)")
      parseLsn(pg.queryFirst("SELECT confirmed_flush_lsn FROM " +
        s"pg_replication_slots WHERE slot_name = '$slot'").get)
    }
    val out = java.nio.file.Files.createTempDirectory("it_fb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("it_fb_ckpt").toString
    val raw0 = spark.readStream.format("graft.sources.CopyBothSource")
      .option("host", host).option("port", port.toString)
      .option("slot", slot).option("user", user)
      .option("database", db).option("password", pw)
    val raw = (if (useW2j) raw0.option("startOptions",
        "format-version=2;include-xids=1;include-timestamp=1")
      else raw0.option("payload", "binary").option("startOptions",
        s"proto_version=1;publication_names=$pub")).load()
    val q = graft.streaming.CdcStream.start(spark, raw, db, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      plugin = if (useW2j) "wal2json" else "pgoutput")
    try {
      assert(pollSink(out, 1, q) >= 1)
      // the source's commit() turns into StandbyStatusUpdate on the wire;
      // a second session observes the slot's confirmed_flush_lsn moving
      // past its creation point only if the server applied that feedback
      val deadline = System.nanoTime() + 60L * 1_000_000_000L
      var advanced = false
      while (!advanced && System.nanoTime() < deadline) {
        Thread.sleep(500)
        advanced = withAdmin { pg =>
          pg.queryFirst("SELECT confirmed_flush_lsn FROM " +
            s"pg_replication_slots WHERE slot_name = '$slot'")
            .exists(v => parseLsn(v) > atCreation)
        }
      }
      assert(advanced, "confirmed_flush_lsn must advance past the slot's " +
        s"creation point ${PgWireProtocol.lsnHex(atCreation)}")
    } finally {
      q.stop()
      withAdmin { pg =>
        pg.execIgnoring(s"SELECT pg_drop_replication_slot('$slot')")
        pg.execIgnoring(s"DROP PUBLICATION IF EXISTS $pub")
        pg.execIgnoring("DROP TABLE IF EXISTS graft_it_fb_t")
      }
    }
  }
}
