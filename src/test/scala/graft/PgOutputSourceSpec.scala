package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{PgOutput, PgWire, Transform, TxAssembly}
import graft.sources.{CopyBothFraming, CopyBothWalStream,
  InMemoryReplicationServer, LsnOffset, LsnRangePartition}
import graft.streaming.{CdcStream, PgSlotState, StateBlob}

/** Seeded random pgoutput WAL in send order: v1 transactions,
  * mid-stream Relation replacement (at walStart 0, as Postgres sends
  * it, inside segments too), protocol-v2 streamed transactions whose
  * segments interleave with other transactions, with subtransactions,
  * StreamAbort and StreamPrepare, and two-phase prepare followed later by
  * CommitPrepared or RollbackPrepared. Every transaction is resolved by
  * the end, and commit times only grow.
  */
final class PgWalGen(seed: Long) {
  private val rnd = new Random(seed)
  private val frames = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
  private var lsn = 0L
  private var ts = 1705314600000000L
  private var lastXid = 1000
  private val rels = mutable.Map(1 -> Seq("id", "v"), 2 -> Seq("id", "v", "w"))
  // open streamed transactions: top xid -> subtransaction xids with rows
  private val streams = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Int]]
  private val prepared = mutable.ArrayBuffer.empty[Int]

  private def emit(f: Array[Byte]): Unit = { lsn += 10; frames += ((lsn, f)) }
  private def newXid(): Int = { lastXid += 1; lastXid }
  private def tick(): Long = { ts += 1000; ts }
  private def relMsg(id: Int) =
    PgWire.relation(id, "public", s"t$id", rels(id).map(_ -> 25))
  private def value(): Option[String] =
    if (rnd.nextInt(8) == 0) None
    else Some(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)

  private def change(): Array[Byte] = {
    val id = 1 + rnd.nextInt(2)
    val width = rels(id).size
    def row = Some(rnd.nextInt(1000).toString) +: Seq.fill(width - 1)(value())
    rnd.nextInt(3) match {
      case 0 => PgWire.insert(id, row)
      case 1 => PgWire.update(id, if (rnd.nextBoolean()) Some(row) else None, row)
      case _ => PgWire.delete(id,
        Some(rnd.nextInt(1000).toString) +: Seq.fill(width - 1)(None))
    }
  }

  /** A relation gains or loses a column; `segment` is the open streamed
    * transaction, whose in-segment messages carry its xid. */
  private def replaceRelation(segment: Option[Int]): Unit = {
    val id = 1 + rnd.nextInt(2)
    val cols = rels(id)
    rels(id) =
      if (cols.size > 2 && rnd.nextBoolean()) cols.init else cols :+ s"c${cols.size}"
    frames += ((0L, segment.fold(relMsg(id))(x => PgWire.streamed(x, relMsg(id)))))
  }

  private def changes(segment: Option[Int])(xid: => Int): Unit =
    (0 until 1 + rnd.nextInt(3)).foreach { _ =>
      if (rnd.nextInt(6) == 0) replaceRelation(segment)
      val c = change()
      emit(segment.fold(c)(_ => PgWire.streamed(xid, c)))
    }

  private def v1(): Unit = {
    val x = newXid()
    emit(PgWire.begin(lsn + 100, tick(), x))
    changes(None)(x)
    emit(PgWire.commit(lsn, lsn + 1, tick()))
  }

  private def twoPhase(): Unit = {
    val x = newXid()
    emit(PgWire.beginPrepare(lsn, lsn + 1, tick(), x, s"g$x"))
    changes(None)(x)
    emit(PgWire.prepare(lsn, lsn + 1, tick(), x, s"g$x"))
    prepared += x
  }

  private def resolvePrepared(): Unit = {
    val x = prepared.remove(rnd.nextInt(prepared.size))
    if (rnd.nextInt(4) == 0)
      emit(PgWire.rollbackPrepared(lsn, lsn + 1, tick(), tick(), x, s"g$x"))
    else emit(PgWire.commitPrepared(lsn, lsn + 1, tick(), x, s"g$x"))
  }

  private def segment(x: Int, first: Boolean): Unit = {
    emit(PgWire.streamStart(x, first))
    val subs = streams(x)
    changes(Some(x)) {
      if (rnd.nextInt(3) == 0) { val s = newXid(); subs += s; s }
      else (x +: subs.toSeq)(rnd.nextInt(subs.size + 1))
    }
    emit(PgWire.streamStop())
  }

  private def finishStream(x: Int): Unit = {
    val subs = streams.remove(x).get
    rnd.nextInt(5) match {
      case 0 => emit(PgWire.streamAbort(x, x))
      case 1 if subs.nonEmpty =>
        emit(PgWire.streamAbort(x, subs(rnd.nextInt(subs.size))))
        emit(PgWire.streamCommit(x, lsn, lsn + 1, tick()))
      case 2 =>
        emit(PgWire.streamPrepare(lsn, lsn + 1, tick(), x, s"g$x"))
        prepared += x
      case _ => emit(PgWire.streamCommit(x, lsn, lsn + 1, tick()))
    }
  }

  /** `steps` random actions, then every open transaction resolved. */
  def build(steps: Int): IndexedSeq[(Long, Array[Byte])] = {
    frames += ((0L, relMsg(1))); frames += ((0L, relMsg(2)))
    (0 until steps).foreach { _ =>
      rnd.nextInt(10) match {
        case 0 | 1 if streams.size < 2 =>
          val x = newXid(); streams(x) = mutable.ArrayBuffer.empty
          segment(x, first = true)
        case 2 | 3 if streams.nonEmpty =>
          val x = streams.keys.toSeq(rnd.nextInt(streams.size))
          if (rnd.nextBoolean()) segment(x, first = false) else finishStream(x)
        case 4 => twoPhase()
        case 5 if prepared.nonEmpty => resolvePrepared()
        case 6 => replaceRelation(None)
        case _ => v1()
      }
    }
    while (streams.nonEmpty) finishStream(streams.head._1)
    while (prepared.nonEmpty) resolvePrepared()
    frames.toIndexedSeq
  }
}

object PgWalGen {
  /** About one frame in seven broken: truncated (possibly to nothing),
    * given an unknown message type, or given a garbage tail. */
  def corrupt(frames: IndexedSeq[(Long, Array[Byte])],
      rnd: Random): IndexedSeq[(Long, Array[Byte])] =
    frames.map { case (lsn, f) =>
      if (rnd.nextInt(7) != 0) (lsn, f)
      else (lsn, rnd.nextInt(3) match {
        case 0 => f.take(rnd.nextInt(f.length))
        case 1 => 'Z'.toByte +: f.drop(1)
        case _ => f ++ Array.fill(1 + rnd.nextInt(6))(rnd.nextInt(256).toByte)
      })
    }

  /** Frames as the source admits them: a walStart-0 frame rides the next
    * positioned frame's lsn (held ones at the end are not admitted). */
  def admitted(frames: IndexedSeq[(Long, Array[Byte])]): IndexedSeq[(Long, Array[Byte])] = {
    val out = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val held = mutable.ArrayBuffer.empty[Array[Byte]]
    frames.foreach { case (lsn, f) =>
      if (lsn == 0L) held += f
      else { held.foreach(h => out += ((lsn, h))); held.clear(); out += ((lsn, f)) }
    }
    out.toIndexedSeq
  }

  /** A snapshot with the registry's arrays as sequences, comparable by ==. */
  def comparable(st: PgSlotState): Product = (
    st.relations.map { case (id, r) =>
      id -> (r.schema, r.table, r.columns.toSeq, r.columnTypes.toSeq) },
    st.xid, st.ts, st.streamTop, st.streams, st.prepared)
}

/** The driver-side decode context of the pgoutput replication source:
  * the tracker makes exactly the decoder's state changes, and every
  * planned range carries the state that decoding the frames before it
  * reaches — corrupt frames included, under the policies that decode on.
  */
class PgOutputTrackerSpec extends AnyFunSuite {
  import PgWalGen._

  test("track makes exactly decode's state changes, corrupt frames included") {
    for (seed <- 1 to 300; policy <- Seq("dlq", "skip")) {
      val frames = corrupt(new PgWalGen(seed).build(40), new Random(seed))
      val decoder = new PgOutput.DecodeSession
      val tracker = new PgOutput.DecodeSession
      frames.foreach { case (ws, f) =>
        decoder.decode(ws, f, policy)
        tracker.track(ws, f)
        assert(comparable(tracker.snapshot) == comparable(decoder.snapshot),
          s"seed $seed, $policy: states part at frame ${f.toSeq.take(16)} (wal_start $ws)")
      }
    }
  }

  test("a planned range carries the context of the frames before it; " +
      "planning it twice gives the same rows and context") {
    for (seed <- 1 to 80; policy <- Seq("dlq", "skip")) {
      val rnd = new Random(seed)
      val frames = corrupt(new PgWalGen(seed).build(25), rnd)
      val admitted = PgWalGen.admitted(frames)
      val server = new InMemoryReplicationServer
      frames.foreach { case (lsn, f) => server.deliverBytes(lsn, f) }
      val stream = new CopyBothWalStream(() => server.connect(),
        pgoutput = Some(policy))
      var start: Offset = stream.initialOffset()
      var done = false
      while (!done) {
        val end = stream.latestOffset(start, ReadLimit.maxRows(1 + rnd.nextInt(6)))
        if (end == null || end == start) done = true
        else {
          def plan() = stream.planInputPartitions(start, end).toSeq
            .map(_.asInstanceOf[LsnRangePartition])
          val (p1, p2) = (plan(), plan())
          assert(p1.map(_.rows.map { case (l, f) => (l, f.toSeq) }) ==
            p2.map(_.rows.map { case (l, f) => (l, f.toSeq) }))
          assert(p1.map(_.context.toSeq) == p2.map(_.context.toSeq))
          val lo = start.asInstanceOf[LsnOffset].lsn
          val expected = new PgOutput.DecodeSession
          admitted.filter(_._1 <= lo).foreach { case (ws, f) =>
            expected.decode(ws, f, policy) }
          assert(comparable(StateBlob.read[PgSlotState](p1.head.context)) ==
            comparable(expected.snapshot), s"seed $seed, $policy: context at $lo")
          // the engine commits each batch before planning the next; a
          // lagging commit must not change what a range carries
          if (rnd.nextInt(3) != 0) stream.commit(end)
          start = end
        }
      }
      stream.stop()
    }
  }

  test("an admission never ends inside one lsn: a walStart-0 Relation and " +
      "its data frame ride one range") {
    val server = new InMemoryReplicationServer
    val rel = PgWire.relation(100, "public", "users", Seq("id" -> 20))
    val ins = PgWire.insert(100, Seq(Some("1")))
    server.deliverBytes(0L, rel)
    server.deliverBytes(10L, ins)
    val stream = new CopyBothWalStream(() => server.connect(),
      pgoutput = Some("crash"))
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.maxRows(1))
    assert(end == LsnOffset(10L))
    val part = stream.planInputPartitions(start, end)
    assert(part.toSeq.flatMap(_.asInstanceOf[LsnRangePartition].rows)
      .map { case (l, f) => (l, f.toSeq) } == Seq((10L, rel.toSeq), (10L, ins.toSeq)))
    val reader = stream.createReaderFactory().createReader(part.head)
    val ops = Iterator.continually(reader.next()).takeWhile(identity)
      .map(_ => reader.get().getUTF8String(1).toString).toList
    assert(ops == List("INSERT"), "the range decodes the INSERT")
    assert(stream.latestOffset(end, ReadLimit.maxRows(1)) == end, "nothing is left behind")
    stream.stop()
    // the offset's context covers every frame at its lsn: a cap that
    // falls on a Relation sharing a StreamPrepare's lsn still takes the
    // prepare's members into the offset
    val t0 = 1705314600123456L
    val server2 = new InMemoryReplicationServer
    Seq(0L -> rel, 10L -> PgWire.streamStart(21, firstSegment = true),
      20L -> PgWire.streamed(22, ins), 30L -> PgWire.streamStop(), 0L -> rel,
      40L -> PgWire.streamPrepare(100L, 101L, t0, 21, "g21")
    ).foreach { case (lsn, f) => server2.deliverBytes(lsn, f) }
    val stream2 = new CopyBothWalStream(() => server2.connect(),
      pgoutput = Some("crash"))
    assert(stream2.latestOffset(stream2.initialOffset(), ReadLimit.maxRows(5)) ==
      LsnOffset(40L, Map(21L -> Seq(21L, 22L))))
    stream2.stop()
  }

  test("the offset carries a confirmed-prepared stream's members; " +
      "a resumed instance decodes its CommitPrepared with them") {
    val t0 = 1705314600123456L
    val server = new InMemoryReplicationServer
    Seq(
      0L -> PgWire.relation(100, "public", "users", Seq("id" -> 20)),
      10L -> PgWire.streamStart(21, firstSegment = true),
      20L -> PgWire.streamed(22, PgWire.insert(100, Seq(Some("1")))),
      30L -> PgWire.streamStop(),
      40L -> PgWire.streamPrepare(100L, 101L, t0, 21, "g21")
    ).foreach { case (lsn, f) => server.deliverBytes(lsn, f) }
    val s1 = new CopyBothWalStream(() => server.connect(), pgoutput = Some("crash"))
    val end = s1.latestOffset(s1.initialOffset(), ReadLimit.allAvailable())
    assert(end == LsnOffset(40L, Map(21L -> Seq(21L, 22L))))
    assert(s1.deserializeOffset(end.json()) == end, s"round trip of ${end.json()}")
    s1.commit(end)
    s1.stop()
    // text offsets stay the bare lsn
    assert(LsnOffset(40L).json() == "40" && LsnOffset.parse("40") == LsnOffset(40L))
    server.deliverBytes(50L, PgWire.commitPrepared(120L, 121L, t0, 21, "g21"))
    val s2 = new CopyBothWalStream(() => server.connect(), pgoutput = Some("crash"))
    val start = s2.deserializeOffset(end.json())
    val next = s2.latestOffset(start, ReadLimit.allAvailable())
    assert(next == LsnOffset(50L), "the resolution ends the prepared stream")
    val part = s2.planInputPartitions(start, next)
    assert(part.toSeq.flatMap(_.asInstanceOf[LsnRangePartition].rows)
      .map { case (l, f) => (l, f.head.toChar) } == Seq((50L, 'R'), (50L, 'K')),
      "the slot re-sends the relation and the CommitPrepared, not the stream")
    val reader = s2.createReaderFactory().createReader(part.head)
    val commits = Iterator.continually(reader.next()).takeWhile(identity)
      .map(_ => reader.get().getLong(8)).toList
    assert(commits == List(21L, 22L), "the commit fans out to every member")
    s2.stop()
  }

  test("a new session re-sends open transactions from their Begin, " +
      "and each relation's latest Relation first") {
    val t0 = 1705314600123456L
    val server = new InMemoryReplicationServer
    val relV1 = PgWire.relation(100, "public", "users", Seq("id" -> 20))
    val relV2 = PgWire.relation(100, "public", "users", Seq("id" -> 20, "n" -> 25))
    val streamedRel = PgWire.streamed(21, PgWire.relation(200, "public", "t", Seq("id" -> 20)))
    val frames = Seq(
      0L -> relV1,
      10L -> PgWire.begin(30, t0, 7),
      20L -> PgWire.insert(100, Seq(Some("1"))),
      30L -> PgWire.commit(30, 31, t0),
      0L -> relV2,
      40L -> PgWire.streamStart(21, firstSegment = true),
      0L -> streamedRel,
      50L -> PgWire.streamed(21, PgWire.insert(200, Seq(Some("2")))),
      60L -> PgWire.streamStop(),
      70L -> PgWire.begin(90, t0, 8),
      80L -> PgWire.insert(100, Seq(Some("3"), Some("x"))),
      90L -> PgWire.commit(90, 91, t0),
      100L -> PgWire.begin(120, t0, 9),
      110L -> PgWire.insert(100, Seq(Some("4"), Some("y"))))
    frames.foreach { case (lsn, f) => server.deliverBytes(lsn, f) }
    def session(): Seq[(Long, Seq[Byte])] = {
      val c = server.connect()
      Iterator.continually(c.receive()).takeWhile(_.isDefined).map { b =>
        val x = CopyBothFraming.parse(b.get).asInstanceOf[CopyBothFraming.XLogData]
        (x.walStart, x.payload.toSeq)
      }.toSeq
    }
    def confirm(pos: Long): Unit =
      server.connect().send(CopyBothFraming.standbyStatusUpdate(pos, 0L))
    // confirmed inside tx 9: everything from the open stream 21's first
    // StreamStart comes again (tx 9's Begin is later), with the
    // walStart-0 Relation just before it, after the relations' shapes as
    // of that point
    confirm(100L)
    val s1 = session()
    assert(s1.map(_._1) == Seq(0L, 0L, 40L, 0L, 50L, 60L, 70L, 80L, 90L, 100L, 110L))
    assert(s1.take(2).map(_._2) == Seq(relV1.toSeq, relV2.toSeq))
    assert(s1(3)._2 == streamedRel.toSeq, "frames from the rewind point are sent as they were")
    // stream 21 commits and is confirmed; the next session starts at the
    // still open tx 9's Begin, after both relations, the one first sent
    // inside a segment now in protocol-v1 layout
    server.deliverBytes(120L, PgWire.streamCommit(21, 120, 121, t0))
    confirm(120L)
    val s2 = session()
    assert(s2.map(_._1) == Seq(0L, 0L, 100L, 110L, 120L))
    assert(s2.take(2).map(_._2) == Seq(relV2.toSeq,
      PgWire.relation(200, "public", "t", Seq("id" -> 20)).toSeq))
  }
}

/** Randomized differential test of the live pgoutput path against the
  * batch one: the same WAL served through the replication source, cut
  * into random micro-batches with one query restart at a random point,
  * publishes exactly what `PgOutput.decode` → `TxAssembly.assemble` →
  * `Transform.normalize` computes — each event once, same row images.
  */
class PgOutputStreamingEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def published(df: org.apache.spark.sql.DataFrame) =
    df.select($"event_id", $"txid", $"operation", $"lsn", $"commit_time".cast("string"),
        $"before", $"after")
      .as[(String, Long, String, String, String, Map[String, String], Map[String, String])]
      .collect().toSeq

  test("pgoutput streaming ≡ batch: random WAL, random micro-batches, one restart") {
    for (seed <- Seq(71L, 72L, 73L)) {
      val rnd = new Random(seed)
      val frames = new PgWalGen(seed).build(30)
      val expected = published(Transform.normalize(TxAssembly.assemble(
        PgOutput.decode(spark, frames.toDF("wal_start", "data").coalesce(1))),
        "testdb"))
      assert(expected.nonEmpty)
      val server = new InMemoryReplicationServer
      val dir = Files.createTempDirectory(s"pg_equiv_$seed").toString
      def start() = CdcStream.start(spark,
        PgSlot.stream(spark, server, maxMessagesPerTrigger = Some(2 + rnd.nextInt(6))),
        "testdb", s"$dir/out", s"$dir/ck", plugin = "pgoutput")
      val cuts = (Seq(0, frames.size) ++ Seq.fill(6)(rnd.nextInt(frames.size)))
        .distinct.sorted
      val restartAfter = rnd.nextInt(cuts.size - 2)
      var q = start()
      try cuts.sliding(2).zipWithIndex.foreach { case (Seq(from, until), i) =>
        PgSlot.deliver(server, frames.slice(from, until): _*)
        q.processAllAvailable()
        if (i == restartAfter) { q.stop(); q = start() }
      } finally q.stop()
      val got = published(spark.read.parquet(s"$dir/out"))
      assert(got.map(_._1).distinct.size == got.size, s"seed $seed: an event landed twice")
      assert(got.sortBy(_._1) == expected.sortBy(_._1),
        s"seed $seed: streaming ${got.size} events, batch ${expected.size}")
    }
  }
}
