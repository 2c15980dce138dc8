package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.sources.InMemoryReplicationServer
import graft.streaming.{CdcStream, OrderedSink, UnorderedSink}

/** Streaming pipeline semantics: commit-gated emission from stateful tx
  * assembly, effectively-once via dedup, and checkpointed recovery
  * (reference: engine.go batch loop, cdc_checkpoint_test.go,
  * cdc_recovery_test.go, cdc_dedup_test.go).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def walLine(ws: Long, action: String, xid: Long, table: String = "users", id: Int = 0): (Long, String) = {
    val ts = "2024-01-15 10:30:00.123456+00"
    val data = action match {
      case "B" | "C" => s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}"""
      case a =>
        s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"$table","columns":[{"name":"id","type":"bigint","value":$id}]}"""
    }
    (ws, data)
  }

  test("tx assembly emits only on commit; abandoned tx emits nothing") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("txassembly_out").start()
    try {
      // tx 1 begins but never commits; tx 2 commits
      input.addData(walLine(1, "B", 1), walLine(2, "I", 1, id = 11))
      q.processAllAvailable()
      assert(spark.table("txassembly_out").count() == 0, "no commit -> no emit")
      input.addData(walLine(3, "B", 2), walLine(4, "I", 2, id = 21),
        walLine(5, "I", 2, id = 22), walLine(6, "C", 2))
      q.processAllAvailable()
      val out = spark.table("txassembly_out").orderBy($"event_id")
      assert(out.count() == 2, "committed tx emits all its events")
      assert(out.select($"txid").distinct().as[Long].collect().toList == List(2L))
      // distinct seq within the tx -> distinct event ids
      assert(out.select($"event_id").distinct().count() == 2)
      // late commit of tx 1 releases its buffered events
      input.addData(walLine(7, "C", 1))
      q.processAllAvailable()
      assert(spark.table("txassembly_out").filter($"txid" === 1).count() == 1)
    } finally q.stop()
  }

  test("shared tx assembly over decoded-row payloads: commit-gated, ordered") {
    // cross-batch buffering, WAL order restored within a batch, the commit
    // LSN stamp, and an uncommitted tx that never emits
    implicit val sctx = spark.sqlContext
    import graft.streaming.{PgRow, StreamingTxAssembly, TxLine}
    val input = MemoryStream[TxLine[PgRow]]
    val q = StreamingTxAssembly.assembleRaw[PgRow](spark, input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("rows_assembly_out").start()
    def ev(ws: Long, action: String, xid: Long) = TxLine(ws,
      PgRow("INSERT", "public", "users", Map.empty, Map("id" -> ws.toString)),
      action, xid,
      if (action == "C") java.sql.Timestamp.valueOf("2024-01-15 10:30:00") else null)
    try {
      // tx 7 spans two micro-batches; tx 8 never commits
      input.addData(ev(1, "B", 7), ev(3, "INSERT", 7), ev(2, "INSERT", 7),
        ev(10, "B", 8), ev(11, "INSERT", 8))
      q.processAllAvailable()
      assert(spark.table("rows_assembly_out").count() == 0, "no commit -> no emit")
      input.addData(ev(4, "UPDATE", 7), ev(5, "C", 7))
      q.processAllAvailable()
      val out = spark.table("rows_assembly_out").orderBy($"seq_in_tx")
        .select($"wal_start", $"seq_in_tx", $"commit_lsn", $"txid",
          $"data.new_values".getItem("id"))
        .as[(Long, Long, Long, Long, String)].collect().toList
      // WAL order restored (3 arrived before 2), commit LSN stamped, the
      // buffered payload carried through state unchanged
      assert(out == List((2L, 0L, 5L, 7L, "2"), (3L, 1L, 5L, 7L, "3"),
        (4L, 2L, 5L, 7L, "4")))
      assert(spark.table("rows_assembly_out").filter($"txid" === 8).count() == 0)
    } finally q.stop()
  }

  test("pgoutput streaming pipeline: keyed registry survives batches, mid-stream schema change, cross-batch tx") {
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val events = CdcStream.pipelinePgOutput(spark, PgSlot.stream(spark, input),
      "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("pgout_stream").start()
    try {
      // batch 1: Relation v1 (id, name) + one complete tx
      PgSlot.deliver(input,
        (10L, PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25))),
        (20L, PgWire.begin(1000, t0, 7)),
        (30L, PgWire.insert(100, Seq(Some("1"), Some("alice")))),
        (40L, PgWire.commit(1000, 1001, t0)))
      q.processAllAvailable()
      // batch 2: NO Relation message — decode works only if the registry
      // survived the batch boundary in the source's decode context
      PgSlot.deliver(input,
        (50L, PgWire.begin(2000, t0, 8)),
        (60L, PgWire.insert(100, Seq(Some("2"), Some("bob")))),
        (70L, PgWire.commit(2000, 2001, t0)))
      q.processAllAvailable()
      // batch 3: mid-stream Relation REPLACEMENT (adds email), then a tx
      // under the new shape — only later events see the new column
      PgSlot.deliver(input,
        (80L, PgWire.relation(100, "public", "users",
          Seq("id" -> 20, "name" -> 25, "email" -> 25))),
        (90L, PgWire.begin(3000, t0, 9)),
        (100L, PgWire.insert(100, Seq(Some("3"), Some("carol"), Some("c@x.y")))),
        (110L, PgWire.commit(3000, 3001, t0)))
      q.processAllAvailable()
      // batches 4+5: one transaction SPLIT across the boundary — the tx
      // cursor (xid from Begin) must carry over for the commit to release it
      PgSlot.deliver(input,
        (120L, PgWire.begin(4000, t0, 11)),
        (130L, PgWire.insert(100, Seq(Some("4"), Some("dan"), None))))
      q.processAllAvailable()
      assert(spark.table("pgout_stream").count() == 3, "uncommitted tx must not emit")
      PgSlot.deliver(input, (140L, PgWire.commit(4000, 4001, t0)))
      q.processAllAvailable()

      val out = spark.table("pgout_stream")
        .select($"txid", $"after", $"operation", $"subject")
        .as[(Long, Map[String, String], String, String)].collect().sortBy(_._1)
      assert(out.map(_._1).toList == List(7L, 8L, 9L, 11L))
      assert(out(0)._2 == Map("id" -> "1", "name" -> "alice"))
      assert(out(1)._2 == Map("id" -> "2", "name" -> "bob"),
        "batch-2 decode must use the registry persisted from batch 1")
      assert(out(2)._2 == Map("id" -> "3", "name" -> "carol", "email" -> "c@x.y"),
        "the replaced relation schema applies to events after it")
      assert(out(3)._2("id") == "4" && out(3)._2("email") == null)
      assert(out.forall(e => e._3 == "INSERT" && e._4 == "cdc.testdb.public.users"))
    } finally q.stop()
  }

  test("pgoutput v2: a streamed tx spans micro-batches — segment bracket " +
      "and membership persist; StreamAbort retracts, StreamCommit releases") {
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val events = CdcStream.pipelinePgOutput(spark, PgSlot.stream(spark, input),
      "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("pgout_v2_stream").start()
    try {
      // batch 1 ends with the segment still OPEN: the v2 cursor
      // (streamTop) must persist for batch 2's in-stream frame to parse
      // its xid prefix
      PgSlot.deliver(input,
        (10L, PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25))),
        (20L, PgWire.streamStart(21, firstSegment = true)),
        (30L, PgWire.streamed(21, PgWire.insert(100, Seq(Some("1"), Some("early"))))))
      q.processAllAvailable()
      assert(spark.table("pgout_v2_stream").isEmpty, "uncommitted stream must not emit")
      // batch 2 continues and closes the same segment
      PgSlot.deliver(input,
        (40L, PgWire.streamed(21, PgWire.insert(100, Seq(Some("2"), Some("late"))))),
        (50L, PgWire.streamStop()))
      q.processAllAvailable()
      assert(spark.table("pgout_v2_stream").isEmpty)
      // batch 3: an interleaved second streamed tx ABORTS; the first
      // COMMITS — membership for xid 21 was persisted across batches
      PgSlot.deliver(input,
        (60L, PgWire.streamStart(22, firstSegment = true)),
        (70L, PgWire.streamed(22, PgWire.insert(100, Seq(Some("3"), Some("doomed"))))),
        (80L, PgWire.streamStop()),
        (90L, PgWire.streamAbort(22, 22)),
        (100L, PgWire.streamCommit(21, 900L, 901L, t0)))
      q.processAllAvailable()
      val out = spark.table("pgout_v2_stream")
        .select($"txid", $"after", $"operation")
        .as[(Long, Map[String, String], String)].collect()
        .sortBy(_._2("id"))
      assert(out.map(_._1).toList == List(21L, 21L),
        s"only the committed streamed tx emits: ${out.toList}")
      assert(out.map(_._2("name")).toList == List("early", "late"),
        "both segments' rows release on StreamCommit, WAL-ordered")
      assert(out.forall(_._3 == "INSERT"))
    } finally q.stop()
  }

  test("pgoutput two-phase: a prepared tx stays pending across micro-" +
      "batches until CommitPrepared; RollbackPrepared drops it") {
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val events = CdcStream.pipelinePgOutput(spark, PgSlot.stream(spark, input),
      "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("pgout_2pc_stream").start()
    try {
      // batch 1: two prepared txs (31 commits later, 32 rolls back) plus
      // a PLAIN tx — only the plain one may emit this batch
      PgSlot.deliver(input,
        (10L, PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25))),
        (20L, PgWire.beginPrepare(100L, 101L, t0 - 1000000L, 31, "g31")),
        (30L, PgWire.insert(100, Seq(Some("1"), Some("held")))),
        (40L, PgWire.prepare(100L, 101L, t0 - 1000000L, 31, "g31")),
        (50L, PgWire.beginPrepare(110L, 111L, t0 - 1000000L, 32, "g32")),
        (60L, PgWire.insert(100, Seq(Some("2"), Some("doomed")))),
        (70L, PgWire.prepare(110L, 111L, t0 - 1000000L, 32, "g32")),
        (80L, PgWire.begin(120L, t0, 33)),
        (90L, PgWire.insert(100, Seq(Some("3"), Some("plain")))),
        (100L, PgWire.commit(120L, 121L, t0)))
      q.processAllAvailable()
      val afterB1 = spark.table("pgout_2pc_stream")
        .select($"txid").as[Long].collect().toList
      assert(afterB1 == List(33L),
        s"prepared txs must stay pending in assembly state: $afterB1")
      // batch 2: resolutions arrive — 31 releases, 32 drops for good
      PgSlot.deliver(input,
        (110L, PgWire.commitPrepared(130L, 131L, t0, 31, "g31")),
        (120L, PgWire.rollbackPrepared(110L, 140L, t0 - 1000000L, t0, 32, "g32")))
      q.processAllAvailable()
      val out = spark.table("pgout_2pc_stream")
        .select($"txid", $"after".getItem("name").as("name"))
        .as[(Long, String)].collect().toList.sortBy(_._1)
      assert(out == List((31L, "held"), (33L, "plain")),
        s"CommitPrepared releases the cross-batch held tx, " +
          s"RollbackPrepared drops its buffer: $out")
    } finally q.stop()
  }

  test("pgoutput two-phase: a streamed tx prepared and confirmed before a " +
      "restart commits every member after it") {
    // Postgres re-sends only the CommitPrepared of a streamed transaction
    // whose StreamPrepare it saw confirmed, so the members streamed under
    // subtransaction xids must come back from the checkpoint
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val dir = Files.createTempDirectory("pgout_2pc_restart").toString
    def start() = CdcStream.start(spark, PgSlot.stream(spark, input), "testdb",
      s"$dir/out", s"$dir/ck", plugin = "pgoutput")
    def names() = spark.read.parquet(s"$dir/out")
      .select($"txid", $"after".getItem("name"))
      .as[(Long, String)].collect().toList.sortBy(_._2)
    PgSlot.deliver(input,
      (0L, PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25))),
      (10L, PgWire.streamStart(21, firstSegment = true)),
      (20L, PgWire.streamed(21, PgWire.insert(100, Seq(Some("1"), Some("a"))))),
      (30L, PgWire.streamed(22, PgWire.insert(100, Seq(Some("2"), Some("b"))))),
      (40L, PgWire.streamStop()),
      (50L, PgWire.streamPrepare(100L, 101L, t0, 21, "g21")))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the next batch confirms the prepare
      PgSlot.deliver(input,
        (60L, PgWire.begin(80L, t0, 23)),
        (70L, PgWire.insert(100, Seq(Some("3"), Some("c")))),
        (80L, PgWire.commit(80L, 81L, t0)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(input.feedbackPositions.max >= 50L, "the prepare was confirmed")
    val resent = {
      val c = input.connect()
      Iterator.continually(c.receive()).takeWhile(_.isDefined).map { f =>
        graft.sources.CopyBothFraming.parse(f.get)
          .asInstanceOf[graft.sources.CopyBothFraming.XLogData].walStart
      }.toList
    }
    assert(!resent.exists(l => l >= 10L && l <= 50L),
      s"the slot does not re-send a confirmed prepare's stream: $resent")
    assert(names() == List((23L, "c")), s"a prepared tx stays pending: ${names()}")
    val q2 = start()
    try {
      PgSlot.deliver(input, (90L, PgWire.commitPrepared(120L, 121L, t0, 21, "g21")))
      q2.processAllAvailable()
      assert(names() == List((21L, "a"), (22L, "b"), (23L, "c")),
        s"CommitPrepared releases every member of the stream: ${names()}")
    } finally q2.stop()
  }

  test("pgoutput multi-relation TRUNCATE: one DDL row per relation survives assembly") {
    // one Truncate frame names two relations, so decode emits two DDL
    // rows at the SAME wal_start — within-tx dedup must not collapse them
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val q = CdcStream.pipelinePgOutput(spark, PgSlot.stream(spark, input),
        "testdb")
      .writeStream.outputMode("append")
      .format("memory").queryName("pgout_truncate").start()
    try {
      PgSlot.deliver(input,
        (10L, PgWire.relation(100, "public", "orders", Seq("id" -> 20))),
        (20L, PgWire.relation(101, "public", "users", Seq("id" -> 20))),
        (30L, PgWire.begin(1000, t0, 7)),
        (40L, PgWire.truncate(Seq(100, 101))),
        (50L, PgWire.commit(1000, 1001, t0)))
      q.processAllAvailable()
      val out = spark.table("pgout_truncate")
        .select($"operation", $"table", $"lsn").as[(String, String, String)]
        .collect().toList.sortBy(_._2)
      assert(out == List(("DDL", "orders", "0/28"), ("DDL", "users", "0/28")),
        s"one DDL row per truncated relation: $out")
    } finally q.stop()
  }

  test("pgoutput replay suppression (E7): replay emits nothing, recycled xid emits") {
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    val dir = Files.createTempDirectory("pgout_replay").toString
    // the parquet sink and checkpoint survive the restart in (a)
    def start() = CdcStream.start(spark, PgSlot.stream(spark, input), "testdb",
      s"$dir/out", s"$dir/ck", plugin = "pgoutput")
    def tx(at: Long, name: String): Seq[(Long, Array[Byte])] = Seq(
      (at, PgWire.begin(at + 20, t0, 7)),
      (at + 10, PgWire.insert(100, Seq(Some(s"$at"), Some(name)))),
      (at + 20, PgWire.commit(at + 20, at + 21, t0)))
    def names() = spark.read.parquet(s"$dir/out")
      .select($"after".getItem("name")).as[String].collect().toList.sorted
    PgSlot.deliver(input, (10L, PgWire.relation(100, "public", "users",
      Seq("id" -> 20, "name" -> 25))) +: tx(100L, "first"): _*)
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(names() == List("first"))
      // (a) the slot re-delivers the committed tx from its Begin: once on
      // the live session, then to the restarted query's new session
      PgSlot.deliver(input, tx(100L, "first"): _*)
      q1.processAllAvailable()
      assert(names() == List("first"), s"a replayed tx must not re-emit: ${names()}")
    } finally q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(names() == List("first"), s"a replayed tx must not re-emit: ${names()}")
      // (b) a new tx reusing xid 7 at higher positions is not a replay
      PgSlot.deliver(input, tx(200L, "second"): _*)
      q2.processAllAvailable()
      assert(names() == List("first", "second"),
        s"a recycled xid at higher positions emits: ${names()}")
    } finally q2.stop()
  }

  test("pgoutput assembly replay suppression (E7): decoded rows replayed " +
      "into assembly emit nothing, recycled xid emits") {
    // the source drops a re-sent frame at or below its start offset before
    // it is decoded, so the test above never reaches assembly's tombstone;
    // here the committed transaction's decoded rows arrive again at new
    // stream offsets, as a source without that filter would deliver them
    implicit val sctx = spark.sqlContext
    import graft.cdc.{PgOutput, PgWire}
    import graft.streaming.DecodedWalEvent
    val t0 = 1705314600123456L
    val input = MemoryStream[DecodedWalEvent]
    val q = CdcStream.pipelinePgOutput(spark, input.toDF(), "testdb")
      .writeStream.outputMode("append")
      .format("memory").queryName("pgout_replay_rows").start()
    val session = new PgOutput.DecodeSession
    def decoded(frames: (Long, Array[Byte])*): Seq[DecodedWalEvent] =
      frames.flatMap { case (ws, f) => session.decode(ws, f) }
    def tx(at: Long, name: String): Seq[DecodedWalEvent] = decoded(
      (at, PgWire.begin(at + 20, t0, 7)),
      (at + 10, PgWire.insert(100, Seq(Some(s"$at"), Some(name)))),
      (at + 20, PgWire.commit(at + 20, at + 21, t0)))
    def names() = spark.table("pgout_replay_rows")
      .select($"after".getItem("name")).as[String].collect().toList.sorted
    try {
      decoded((10L, PgWire.relation(100, "public", "users",
        Seq("id" -> 20, "name" -> 25))))
      val first = tx(100L, "first")
      input.addData(first)
      q.processAllAvailable()
      assert(names() == List("first"))
      // (a) the committed tx's rows again, at new stream offsets
      input.addData(first)
      q.processAllAvailable()
      assert(names() == List("first"), s"a replayed tx must not re-emit: ${names()}")
      // (b) a new tx reusing xid 7 at higher positions is not a replay
      input.addData(tx(200L, "second"))
      q.processAllAvailable()
      assert(names() == List("first", "second"),
        s"a recycled xid at higher positions emits: ${names()}")
    } finally q.stop()
  }

  test("pgoutput streaming: corrupt frame mid-stream — named error (crash) / dead-letter record (dlq)") {
    // streaming parity with the batch decoder's corrupt-frame taxonomy:
    // under the default crash policy the query fails with the NAMED
    // CorruptFrameException carrying the WAL position (never a bare
    // BufferUnderflow, never a silent task-retry loop); under the dlq
    // policy the frame becomes a dead-letter record on the dlq subject
    // and the surrounding transaction commits normally — the reference's
    // parser-fatal path handed to its dlq/skip/crash failure policy
    // (parser.go:33-38, config.go:101).
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val truncated = PgWire.insert(100, Seq(Some("2"), Some("bob"))).dropRight(3)
    def frames(): Seq[(Long, Array[Byte])] = Seq(
      (10L, PgWire.relation(100, "public", "users",
        Seq("id" -> 20, "name" -> 25))),
      (20L, PgWire.begin(1000, t0, 7)),
      (30L, PgWire.insert(100, Seq(Some("1"), Some("alice")))),
      (35L, truncated),
      (40L, PgWire.commit(1000, 1001, t0)))
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq
    // crash (default)
    val in1 = new InMemoryReplicationServer
    val q1 = CdcStream.pipelinePgOutput(spark, PgSlot.stream(spark, in1),
        "testdb")
      .writeStream.outputMode("append")
      .format("memory").queryName("pgcorrupt_crash").start()
    val e = try {
      PgSlot.deliver(in1, frames(): _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    assert(causes(e).exists(c =>
      c.isInstanceOf[graft.cdc.PgOutput.CorruptFrameException] &&
        c.getMessage.contains("wal_start=35")),
      s"named corrupt-frame error with WAL position, got: " +
        causes(e).map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}"))
    assert(!causes(e).exists(_.isInstanceOf[java.nio.BufferUnderflowException]),
      "the taxonomy must replace, not wrap-and-leak, BufferUnderflow")

    // dlq
    val in2 = new InMemoryReplicationServer
    val q2 = CdcStream.pipelinePgOutput(spark,
        PgSlot.stream(spark, in2, corruptPolicy = "dlq"), "testdb")
      .writeStream.outputMode("append")
      .format("memory").queryName("pgcorrupt_dlq").start()
    try {
      PgSlot.deliver(in2, frames(): _*)
      q2.processAllAvailable()
      val rows = spark.table("pgcorrupt_dlq")
        .select($"operation", $"subject", $"after", $"event_type").collect()
      val good = rows.filter(_.getString(0) == "INSERT")
      assert(good.length == 1 &&
        good.head.getString(1) == "cdc.testdb.public.users",
        "the surrounding transaction still commits and publishes")
      val dlq = rows.filter(_.getString(0) == "CORRUPT")
      assert(dlq.length == 1, s"one dead-letter record: ${rows.toSeq}")
      assert(dlq.head.getString(1) == "dlq.testdb._._",
        s"dlq-routed subject: ${dlq.head.getString(1)}")
      assert(dlq.head.getString(3) == "cdc.corrupt_frame")
      val after = dlq.head.getAs[Map[String, String]]("after")
      assert(after("error").contains("wal_start=35"),
        s"error carries the WAL position: ${after("error")}")
      assert(after.contains("payload_prefix_hex") &&
        after("payload_size").toInt == truncated.length)
    } finally q2.stop()

    // skip: frame dropped, stream healthy, nothing quarantined
    val in3 = new InMemoryReplicationServer
    val q3 = CdcStream.pipelinePgOutput(spark,
        PgSlot.stream(spark, in3, corruptPolicy = "skip"), "testdb")
      .writeStream.outputMode("append")
      .format("memory").queryName("pgcorrupt_skip").start()
    try {
      PgSlot.deliver(in3, frames(): _*)
      q3.processAllAvailable()
      val ops = spark.table("pgcorrupt_skip")
        .select($"operation").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("INSERT"), s"skip drops the frame silently: $ops")
    } finally q3.stop()
  }

  test("replayed events dedup within the watermark (effectively-once, E7)") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val tx = Seq(walLine(10, "B", 5), walLine(11, "I", 5, id = 1), walLine(12, "C", 5))
      input.addData(tx: _*)
      q.processAllAvailable()
      input.addData(tx: _*) // at-least-once redelivery of the whole tx
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1,
        "deterministic event_id collapses the replay")
    } finally q.stop()
  }

  test("recycled txid: a NEW tx under a previously-committed txid is not suppressed " +
      "(replay suppression is positional, like the reference's lsn:txid identity)") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("recycle_out").start()
    try {
      input.addData(walLine(10, "B", 5), walLine(11, "I", 5, id = 1), walLine(12, "C", 5))
      q.processAllAvailable()
      // same txid, HIGHER wal positions: a genuinely new transaction
      input.addData(walLine(20, "B", 5), walLine(21, "I", 5, id = 2), walLine(22, "C", 5))
      q.processAllAvailable()
      assert(spark.table("recycle_out").count() == 2,
        "higher-position tx under a recycled txid must emit")
      // replaying the SECOND tx is still suppressed
      input.addData(walLine(20, "B", 5), walLine(21, "I", 5, id = 2), walLine(22, "C", 5))
      q.processAllAvailable()
      assert(spark.table("recycle_out").count() == 2)
    } finally q.stop()
  }

  test("same-batch recycled txid: each commit stamps only its own positions") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("samebatch_out").start()
    try {
      // ONE batch: tx under txid 5 commits at position 12, and the NEXT
      // tx under the same txid has already begun (positions 20-21) — the
      // commit must not consume the higher-positioned lines
      input.addData(walLine(10, "B", 5), walLine(11, "I", 5, id = 1), walLine(12, "C", 5),
        walLine(20, "B", 5), walLine(21, "I", 5, id = 2))
      q.processAllAvailable()
      assert(spark.table("samebatch_out").count() == 1,
        "only the committed tx's event emits; the next tx stays buffered")
      input.addData(walLine(22, "C", 5))
      q.processAllAvailable()
      val lsns = spark.table("samebatch_out")
        .select($"lsn").collect().map(_.getString(0)).toSet
      assert(lsns == Set("0/b", "0/15"),
        s"both events, each from its own tx: $lsns")
    } finally q.stop()
  }

  test("commit with an unparseable timestamp still emits (lenient decode), no NPE") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("badts_out").start()
    try {
      val tx = Seq(
        (1L, """{"action":"B","xid":9}"""),
        (2L, """{"action":"I","xid":9,"schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":1}]}"""),
        (3L, """{"action":"C","xid":9,"timestamp":"not a timestamp"}"""))
      input.addData(tx: _*)
      q.processAllAvailable()
      val out = spark.table("badts_out").collect()
      assert(out.length == 1, "the event emits with a null commit_time instead of crashing")
      assert(out.head.getAs[java.sql.Timestamp]("commit_time") == null)
      // suppression must survive the missing anchor: a replayed delivery
      // of the same tx emits nothing (watermark-clocked tombstone)
      input.addData(tx: _*)
      q.processAllAvailable()
      assert(spark.table("badts_out").count() == 1,
        "a no-timestamp commit still leaves a replay tombstone")
    } finally q.stop()
  }

  test("wal position 0 is a valid position, not the no-commit sentinel") {
    // event_id 0 -> wal_start 0 in the carrier scheme; the replay filter's
    // sentinel must not swallow it (regression: lost exactly one row at
    // sf0.1 until the sentinel moved to Long.MinValue)
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("pos0_out").start()
    try {
      input.addData(walLine(0, "I", 3, id = 7), walLine(1, "B", 3), walLine(2, "C", 3))
      q.processAllAvailable()
      assert(spark.table("pos0_out").count() == 1, "the position-0 event must emit")
    } finally q.stop()
  }

  test("replay state is BOUNDED: tombstones and stranded buffers evict with the watermark") {
    implicit val sctx = spark.sqlContext
    // wal line with a controllable timestamp so the watermark can advance
    def at(ws: Long, action: String, xid: Long, ts: String, id: Int = 0): (Long, String) =
      action match {
        case "B" | "C" => (ws, s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}""")
        case a => (ws,
          s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":$id}]}""")
      }
    val t0 = "2024-01-15 10:00:00.000000+00"
    val t1 = "2024-01-15 11:00:00.000000+00" // 1h later >> the 1-minute window
    val t2 = "2024-01-15 12:00:00.000000+00"
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark,
      input.toDF().toDF("wal_start", "data"), "testdb", dedupWatermark = "1 minute")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("tombstone_out").start()
    try {
      val tx1 = Seq(at(10, "B", 5, t0), at(11, "I", 5, t0, id = 1), at(12, "C", 5, t0))
      input.addData(tx1: _*)
      q.processAllAvailable()
      // advance the watermark far past tx1's window with later commits —
      // tx1's tombstone evicts (numRowsRemoved in progress)
      input.addData(at(20, "B", 6, t1), at(21, "I", 6, t1, id = 2), at(22, "C", 6, t1))
      q.processAllAvailable()
      val removedAfterB2 = q.lastProgress.stateOperators.map(_.numRowsRemoved).sum
      assert(removedAfterB2 >= 1, "tx1's tombstone must evict once the watermark passes its window")

      // a replay BEYOND the window: its commit is late (behind the
      // watermark) and is filtered, so NOTHING re-emits — no duplicates
      // ever from the stream — and the replayed data rows briefly strand
      // as an uncommitted buffer
      input.addData(tx1: _*)
      q.processAllAvailable()
      assert(spark.table("tombstone_out").count() == 2, "beyond-window replay emits nothing")

      // the stranded buffer is evicted by the abandoned-tx TTL (defaulted
      // to the dedup window) as the watermark advances further: total
      // state collapses to just the newest commit's tombstone — bounded,
      // never accumulating
      input.addData(at(40, "B", 8, t2), at(41, "I", 8, t2, id = 3), at(42, "C", 8, t2))
      q.processAllAvailable()
      input.addData(at(50, "B", 9, t2), at(51, "C", 9, t2))
      q.processAllAvailable()
      assert(spark.table("tombstone_out").count() == 3)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"stranded replay buffer + old tombstones must evict, state=$stateRows")
    } finally q.stop()
  }

  test("first-batch stranded tx (no watermark yet) still evicts via the provisional timeout") {
    implicit val sctx = spark.sqlContext
    def at(ws: Long, action: String, xid: Long, ts: String, id: Int = 0): (Long, String) =
      action match {
        case "B" | "C" => (ws, s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}""")
        case a => (ws,
          s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":$id}]}""")
      }
    val t0 = "2024-01-15 10:00:00.000000+00"
    val t1 = "2024-01-15 11:00:00.000000+00"
    val t2 = "2024-01-15 12:00:00.000000+00"
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark,
      input.toDF().toDF("wal_start", "data"), "testdb", dedupWatermark = "1 minute")
    val q = events.writeStream.outputMode("append")
      .format("memory").queryName("firstbatch_out").start()
    try {
      // batch 1: ONLY an uncommitted tx — buffered while the watermark is
      // still 0, the one case where no real TTL deadline can be armed.
      // fMGWS re-invokes a group only on new input or an armed timeout,
      // so without the provisional sentinel this buffer would leak
      // permanently.
      input.addData(at(10, "B", 5, t0), at(11, "I", 5, t0, id = 1))
      q.processAllAvailable()
      // unrelated commits establish and then advance the watermark hours
      // past the abandoned-tx TTL (defaulted to the 1-minute dedup window)
      input.addData(at(20, "B", 6, t1), at(21, "I", 6, t1, id = 2), at(22, "C", 6, t1))
      q.processAllAvailable()
      input.addData(at(30, "B", 7, t2), at(31, "C", 7, t2))
      q.processAllAvailable()
      input.addData(at(40, "B", 8, t2), at(41, "C", 8, t2))
      q.processAllAvailable()
      assert(spark.table("firstbatch_out").count() == 1,
        "only tx6's insert ever commits; the stranded tx5 must never emit")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2,
        s"tx5's first-batch buffer must evict once a watermark exists, state=$stateRows")
    } finally q.stop()
  }

  test("checkpointed recovery: restart resumes without reprocessing (C1/C2)") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val src = s"$dir/in"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(src))
    Seq(walLine(1, "B", 1), walLine(2, "I", 1, id = 1), walLine(3, "C", 1))
      .toDF("wal_start", "data").write.json(s"$src/batch0.json")

    val schema = "wal_start LONG, data STRING"
    def startQuery() = CdcStream.start(spark,
      spark.readStream.schema(schema).json(s"$src/*.json"), "testdb",
      out, ckpt, trigger = Trigger.ProcessingTime("50 milliseconds"))

    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 1)

    // second run: new data only; the first file must not be reprocessed
    Seq(walLine(4, "B", 2), walLine(5, "I", 2, id = 2), walLine(6, "C", 2))
      .toDF("wal_start", "data").write.json(s"$src/batch1.json")
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val all = spark.read.parquet(out)
    assert(all.count() == 2, "exactly one new event after restart")
    assert(all.select($"txid").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("ordered sink writes per-subject sorted, idempotent batches (E2/E6)") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val batch = Seq(
      ("b:1", "cdc.db.public.b", "0/5", java.sql.Timestamp.valueOf("2024-01-15 10:30:01")),
      ("a:2", "cdc.db.public.a", "0/9", java.sql.Timestamp.valueOf("2024-01-15 10:30:02")),
      ("a:1", "cdc.db.public.a", "0/3", java.sql.Timestamp.valueOf("2024-01-15 10:30:00")))
      .toDF("event_id", "subject", "lsn", "commit_time")
    OrderedSink.writeBatch(batch, 7, dir, numPartitions = 2)
    OrderedSink.writeBatch(batch, 7, dir, numPartitions = 2) // redelivery: overwrite, not append
    val written = spark.read.parquet(s"$dir/batch_id=7")
    assert(written.count() == 3, "batch rewrite is idempotent")
  }

  /** The parquet files under `dir`, recursively (staging included). */
  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)

  test("parquet sink: an attempt that fails part-way leaves batch_id=N untouched; the retry holds each row once") {
    import graft.streaming.{ParquetBatchWriter, Reliability}
    val dir = Files.createTempDirectory("graft_sink_fail").toString
    // id 99 is the last row of the last of four partitions: its task has
    // opened its file and written 24 rows when the row fails to produce
    val poison = udf { (id: Long) =>
      if (id == 99 && SinkFault.armed.getAndSet(false))
        throw new IllegalStateException("unwritable row")
      id
    }
    val batch = spark.range(0, 100, 1, 4)
      .select(poison($"id").as("id"), ($"id" % 3).cast("string").as("subject"))
    val target = new java.io.File(dir, "batch_id=5")
    var failedAttempts = 0
    SinkFault.armed.set(true)
    val rows = Reliability.withRetry(maxRetries = 1, sleep = _ => (),
      onRetry = () => {
        failedAttempts += 1
        assert(!new java.io.File(target, "_SUCCESS").exists(), "no _SUCCESS after a failed attempt")
        assert(parquetFiles(target).isEmpty, "no part file after a failed attempt")
      })(() => new ParquetBatchWriter(dir).write(batch, 5))
    assert(failedAttempts == 1 && !SinkFault.armed.get, "the first attempt failed in the writer")
    assert(rows == 100)
    assert(new java.io.File(target, "_SUCCESS").exists())
    val back = spark.read.parquet(target.getPath).select($"id").as[Long].collect()
    assert(back.sorted.toSeq == (0L until 100L), "each row exactly once")
  }

  test("parquet sink: an empty batch commits a bare _SUCCESS, the sink still reads") {
    val dir = Files.createTempDirectory("graft_sink_empty").toString
    val batch = Seq(
      ("a:1", "cdc.db.public.a", "0/3", java.sql.Timestamp.valueOf("2024-01-15 10:30:00")))
      .toDF("event_id", "subject", "lsn", "commit_time")
    assert(OrderedSink.writeBatch(batch, 1, dir, numPartitions = 2) == 1)
    assert(OrderedSink.writeBatch(batch.filter(lit(false)), 2, dir, numPartitions = 2) == 0)
    val empty = new java.io.File(dir, "batch_id=2")
    assert(new java.io.File(empty, "_SUCCESS").exists())
    assert(parquetFiles(empty).isEmpty, "an empty batch writes no part file")
    assert(spark.read.parquet(dir).count() == 1, "the other batches still read")
    assert(parquetFiles(new java.io.File(dir, "_staging")).isEmpty, "staging is cleaned up")
  }

  test("parquet sink: the batch writer's files match DataFrameWriter's, file for file") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = Files.createTempDirectory("graft_sink_same").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 10:30:00")
    val input = (1 to 60).map { i =>
      (s"0/${i.toHexString}:$i:INSERT:public.t:${i % 3}", s"cdc.db.public.t${i % 5}",
        s"0/${i.toHexString}", new java.sql.Timestamp(t0.getTime + (i % 7) * 1000L),
        if (i % 4 == 0) null else Map("id" -> i.toString, "v" -> (if (i % 3 == 0) null else "x")),
        i.toLong)
    }.toDF("event_id", "subject", "lsn", "commit_time", "after", "txid") // txid non-nullable
    val ordered = OrderedSink.inCommitOrder(input, 3)
    ordered.write.parquet(s"$dir/spark/batch_id=1") // the DataFrameWriter sink
    OrderedSink.writeBatch(input, 1, s"$dir/graft", numPartitions = 3)

    val conf = spark.sessionState.newHadoopConf()
    def files(side: String) = parquetFiles(new java.io.File(s"$dir/$side/batch_id=1"))
      .map(f => f.getName.take(10) -> f.getPath).toMap // part-NNNNN
    def footer(f: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try (r.getFooter.getFileMetaData.getSchema, r.getFooter.getFileMetaData.getKeyValueMetaData,
        r.getRecordCount) finally r.close()
    }
    def rows(f: String) = spark.read.parquet(f).select($"subject", $"event_id")
      .as[(String, String)].collect().toSeq
    val (a, b) = (files("spark").filter(kv => footer(kv._2)._3 > 0), files("graft"))
    assert(a.keySet == b.keySet && b.nonEmpty, s"one file per non-empty partition: $a vs $b")
    for (k <- b.keySet) {
      val (fa, fb) = (footer(a(k)), footer(b(k)))
      assert(fa._1 == fb._1, s"$k parquet schema")
      assert(fa._2 == fb._2, s"$k Spark metadata")
      assert(rows(a(k)) == rows(b(k)), s"$k rows in the same order")
    }
    val (ra, rb) = (spark.read.parquet(s"$dir/spark"), spark.read.parquet(s"$dir/graft"))
    assert(ra.schema == rb.schema)
    assert(ra.collect().toSet == rb.collect().toSet && rb.count() == 60)
  }

  test("parquet sink: the write task ships a broadcast handle, not the Hadoop conf") {
    import org.apache.spark.serializer.JavaSerializer
    import org.apache.spark.util.SerializableConfiguration
    import graft.streaming.ParquetBatchWriter
    val dir = Files.createTempDirectory("graft_sink_task").toString
    val batch = Seq(("a:1", "cdc.db.public.a")).toDF("event_id", "subject")
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val task = new ParquetBatchWriter(dir).shippedFor(batch).writer(s"$dir/x", "attempt")
    val taskBytes = ser.serialize(task).limit()
    // the positive control: what DataFrameWriter puts into every task
    val confBytes = ser.serialize(
      new SerializableConfiguration(spark.sessionState.newHadoopConf())).limit()
    assert(confBytes > 100 * 1024, s"session conf is $confBytes bytes")
    assert(taskBytes < 16 * 1024, s"write function is $taskBytes bytes")
  }

  test("intervalMs parses the TTL and watermark interval grammar") {
    import graft.streaming.CdcStream.intervalMs
    assert(intervalMs("500 milliseconds") == 500L)
    assert(intervalMs("1 second") == 1000L)
    assert(intervalMs("2 minutes") == 120000L)
    assert(intervalMs("3 hours") == 10800000L)
    assert(intervalMs("3650 days") == 3650L * 86400000L)
    // an absent TTL is None at the call sites, never an empty string
    intercept[IllegalArgumentException] { intervalMs("") }
    intercept[IllegalArgumentException] { intervalMs("2 fortnights") }
    intercept[IllegalArgumentException] { intervalMs("1 month") }
  }

  test("pipeline plan shape: exactly ONE stateful operator (assembly+dedup fused), one exchange") {
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val plan = events.queryExecution.analyzed.toString
    assert("FlatMapGroupsWithState".r.findAllIn(plan).size == 1,
      s"one fused stateful operator, not assembly+dedup: $plan")
    assert(!plan.contains("DeduplicateWithinWatermark") && !plan.contains("Deduplicate"),
      "no separate dedup operator — suppression lives in assembly state")
  }

  test("pgoutput pipeline plan shape: exactly ONE stateful operator (assembly; decode runs in the source)") {
    val events = CdcStream.pipelinePgOutput(spark,
      PgSlot.stream(spark, new InMemoryReplicationServer), "testdb")
    val plan = events.queryExecution.analyzed.toString
    // the source keeps the relation registry and tx cursor, assembly the
    // per-txid buffers — one keyed exchange; nothing else holds state
    assert("FlatMapGroupsWithState".r.findAllIn(plan).size == 1,
      s"assembly, nothing more: $plan")
    assert(!plan.contains("TransformWithState") && !plan.contains("Deduplicate"),
      "no other stateful operator sneaks into the pgoutput path")
  }

  test("E3 unordered mode: same rows, zero shuffle; ordered mode shuffles by subject") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val batch = (1 to 100).map(i =>
      (s"0/${i.toHexString}:1:INSERT:public.t:$i", s"cdc.db.public.t${i % 7}",
        s"0/${i.toHexString}", java.sql.Timestamp.valueOf("2024-01-15 10:30:00")))
      .toDF("event_id", "subject", "lsn", "commit_time").repartition(4)
      .cache()
    batch.count() // materialize: the input repartition must not count as sink shuffle

    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def shuffledRows(op: => Unit): Long = {
      shuffleRecords.set(0)
      spark.sparkContext.addSparkListener(listener)
      // listener delivery is async: poll until the counter is stable
      try { op
        val deadline = System.currentTimeMillis() + 5000
        var last = -1L
        while (System.currentTimeMillis() < deadline && shuffleRecords.get != last) {
          last = shuffleRecords.get; Thread.sleep(300)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      shuffleRecords.get
    }

    val dir = Files.createTempDirectory("graft_unordered").toString
    val unorderedShuffle = shuffledRows(UnorderedSink.writeBatch(batch, 1, dir))
    val orderedShuffle = shuffledRows(OrderedSink.writeBatch(batch, 2, dir, numPartitions = 2))
    assert(unorderedShuffle == 0, "unordered publish must not repartition")
    assert(orderedShuffle == 100, "ordered publish shuffles every row to its subject partition")
    // both modes publish the same row set — only ordering differs
    val a = spark.read.parquet(s"$dir/batch_id=1").select($"event_id").as[String].collect().toSet
    val b = spark.read.parquet(s"$dir/batch_id=2").select($"event_id").as[String].collect().toSet
    assert(a == b && a.size == 100)
    batch.unpersist()
  }

  test("keyed state codecs are codegen-stable: warm triggers compile nothing (both plugins)") {
    // Spark caches generated classes by source text. A state type with
    // collection or map fields gets a codec with fresh variable names on
    // every trigger, and so a compile per trigger. Commit times are
    // all equal, so after the first batch the watermark (and with it the
    // late-row predicate) stays put; each batch commits the transaction
    // the previous one left open, so buffers are written and read back.
    import graft.cdc.PgWire
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sctx = spark.sqlContext
    val t0 = 1705314600123456L
    def walBatch(i: Int): Seq[(Long, String)] = {
      val ws = 100L * i + 10
      (if (i > 0) Seq(walLine(ws, "C", 1999 + i)) else Nil) ++ Seq(
        walLine(ws + 1, "B", 1000 + i), walLine(ws + 2, "I", 1000 + i, id = i),
        walLine(ws + 3, "C", 1000 + i), walLine(ws + 4, "B", 2000 + i),
        walLine(ws + 5, "I", 2000 + i, id = -i))
    }
    def pgBatch(i: Int): Seq[(Long, Array[Byte])] = {
      val ws = 100L * i + 10
      (if (i > 0) Seq((ws, PgWire.commit(ws, ws + 1, t0)))
       else Seq((1L, PgWire.relation(100, "public", "users",
         Seq("id" -> 20, "name" -> 25))))) ++ Seq(
        (ws + 1, PgWire.begin(ws + 3, t0, 1000 + i)),
        (ws + 2, PgWire.insert(100, Seq(Some(s"$i"), Some("a")))),
        (ws + 3, PgWire.commit(ws + 3, ws + 4, t0)),
        (ws + 4, PgWire.begin(ws + 100, t0, 2000 + i)),
        (ws + 5, PgWire.insert(100, Seq(Some(s"-$i"), Some("b")))))
    }
    def compilesPerWarmBatches(plugin: String, raw: org.apache.spark.sql.DataFrame,
        add: Int => Unit): Long = {
      val out = Files.createTempDirectory(s"graft_codegen_$plugin").toString
      val q = CdcStream.start(spark, raw,
        "testdb", s"$out/sink", s"$out/ckpt", plugin = plugin)
      try {
        def run(i: Int): Unit = { add(i); q.processAllAvailable() }
        (0 until 2).foreach(run)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (2 until 7).foreach(run)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        // every batch's transactions arrived: 2 per batch after the first
        assert(spark.read.parquet(s"$out/sink").count() == 13)
        compiles
      } finally q.stop()
    }
    val walIn = MemoryStream[(Long, String)]
    val wal = compilesPerWarmBatches("wal2json", walIn.toDF().toDF("wal_start", "data"),
      i => walIn.addData(walBatch(i): _*))
    val pgIn = new InMemoryReplicationServer
    val pg = compilesPerWarmBatches("pgoutput", PgSlot.stream(spark, pgIn),
      i => PgSlot.deliver(pgIn, pgBatch(i): _*))
    assert((wal, pg) == ((0L, 0L)), "(wal2json, pgoutput) compiles over 5 warm batches")
  }

  test("config round trip: E3 flag + batch cadence reach CdcStream.start") {
    val cfg = graft.config.GraftConfig.load(Map(
      "UNSAFE_UNORDERED_ASYNC_PUBLISH" -> "true",
      "BATCH_TIMEOUT" -> "50ms",
      "CDC_DATABASE_NAME" -> "db")).toOption.get
    assert(cfg.unsafeUnorderedAsyncPublish && cfg.batchTimeout.toMillis == 50)
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData(Seq(walLine(5, "B", 1)) ++
      (1 to 3).map(i => walLine(i * 10L, "I", 1, id = i)) :+ walLine(40, "C", 1): _*)
    val out = Files.createTempDirectory("graft_cfg_out").toString
    val ckpt = Files.createTempDirectory("graft_cfg_ckpt").toString
    val q = CdcStream.start(spark, input.toDF().toDF("wal_start", "data"),
      cfg.database, out, ckpt,
      trigger = Trigger.ProcessingTime(cfg.batchTimeout.toMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS),
      unsafeUnorderedAsyncPublish = cfg.unsafeUnorderedAsyncPublish)
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() == 3, "commit-gated events land through the unordered sink")
  }

  test("config round trip: CDC_PLUGIN=pgoutput selects the pgoutput pipeline") {
    val cfg = graft.config.GraftConfig.load(Map(
      "CDC_PLUGIN" -> "pgoutput",
      "BATCH_TIMEOUT" -> "50ms",
      "CDC_DATABASE_NAME" -> "testdb")).toOption.get
    assert(cfg.plugin == "pgoutput")
    import graft.cdc.PgWire
    val t0 = 1705314600123456L
    val input = new InMemoryReplicationServer
    PgSlot.deliver(input,
      (10L, PgWire.relation(100, "public", "users", Seq("id" -> 20, "name" -> 25))),
      (20L, PgWire.begin(1000, t0, 7)),
      (30L, PgWire.insert(100, Seq(Some("1"), Some("alice")))),
      (40L, PgWire.commit(1000, 1001, t0)),
      (50L, PgWire.begin(2000, t0, 8)),   // uncommitted: must not emit
      (60L, PgWire.insert(100, Seq(Some("2"), Some("bob")))))
    val out = Files.createTempDirectory("graft_pgcfg_out").toString
    val ckpt = Files.createTempDirectory("graft_pgcfg_ckpt").toString
    val q = CdcStream.start(spark, PgSlot.stream(spark, input),
      cfg.database, out, ckpt, plugin = cfg.plugin)
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(out)
    assert(written.count() == 1, "only the committed pgoutput tx emits")
    val row = written.select("txid", "subject", "operation").head()
    assert(row.getLong(0) == 7L)
    assert(row.getString(1) == "cdc.testdb.public.users")
    assert(row.getString(2) == "INSERT")
  }
}

/** Arms one failure of the sink test's poison row; read inside tasks. */
object SinkFault {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
