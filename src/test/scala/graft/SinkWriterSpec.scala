package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** Mock broker for the E6 sink seam: scriptable per-event transient
  * failures and poison (permanent) events, Nats-Msg-Id-style dedup on
  * eventId, and a per-subject publish log for order assertions. State
  * lives in the companion's static registry keyed by broker id so
  * executor-side writers (same JVM under local[*]) and the driver-side
  * assertions see the same broker — the standard local-mode sink-test
  * pattern.
  */
final class MockBrokerSinkWriter(brokerId: String) extends SinkWriter {
  override def publish(item: PublishItem): Unit = {
    val b = MockBroker.get(brokerId)
    val remaining = b.transientFails.get(item.eventId)
    if (remaining != null && remaining.getAndDecrement() > 0)
      throw new RuntimeException(s"simulated ack timeout for ${item.eventId}")
    if (b.poison.contains(item.eventId))
      throw new PermanentPublishException(
        s"message size exceeds maximum for ${item.eventId}")
    if (b.fencedFrom.contains(item.eventId) || b.fencedNow.get())
      { b.fencedNow.set(true) // writer-level: every later publish fenced too
        throw new FencedWriterException(
          s"producer fenced at ${item.eventId} (newer incarnation)") }
    b.synchronized {
      if (b.seenMsgIds.add(item.eventId)) b.log += item // Msg-Id dedup (E7)
    }
  }
}

object MockBroker {
  final class State {
    val log = ArrayBuffer[PublishItem]()
    val seenMsgIds = scala.collection.mutable.Set[String]()
    val transientFails = new ConcurrentHashMap[String, AtomicInteger]()
    val poison = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // first eventId at which the writer gets fenced by a successor; once
    // tripped every subsequent publish is fenced (the Kafka epoch bump)
    val fencedFrom = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val fencedNow = new java.util.concurrent.atomic.AtomicBoolean(false)
  }
  private val registry = new ConcurrentHashMap[String, State]()
  def get(id: String): State = registry.computeIfAbsent(id, _ => new State)
  def reset(id: String): State = { registry.remove(id); get(id) }
}

/** E6 SinkWriter contract: the reference's publish loops
  * (internal/engine/engine.go:436-530, jetstream.go:316-474,
  * waitforacks_test.go:30-169) driven through a mock broker.
  */
class SinkWriterSpec extends SparkSpec {
  import spark.implicits._

  private def items(n: Int, subject: String = "cdc.db.public.t"): Vector[PublishItem] =
    (0 until n).map(i => PublishItem(subject, s"ev$i", s"{}", i.toLong * 10)).toVector

  private def noSleep: Long => Unit = _ => ()

  test("all acked: complete result, lastSuccessPosition = final item") {
    val b = MockBroker.reset("all-acked")
    val res = SinkPublisher.publishOrdered(items(3).iterator,
      new MockBrokerSinkWriter("all-acked"), sleep = noSleep)
    assert(res.isComplete && res.succeeded == 3 && res.failed == 0)
    assert(res.lastSuccessPosition.contains(20L))
    assert(b.log.map(_.eventId) == Seq("ev0", "ev1", "ev2"))
  }

  test("transient ack failures retry with backoff and then succeed") {
    val b = MockBroker.reset("transient")
    b.transientFails.put("ev1", new AtomicInteger(2)) // fails twice, then acks
    var retries = 0
    val res = SinkPublisher.publishOrdered(items(3).iterator,
      new MockBrokerSinkWriter("transient"), maxRetries = 3,
      sleep = noSleep, onRetry = () => retries += 1)
    assert(res.isComplete && res.succeeded == 3)
    assert(retries == 2, "publish_retries_total counts each backoff")
    assert(b.log.map(_.eventId) == Seq("ev0", "ev1", "ev2"), "order preserved through retries")
  }

  test("retry budget exhausted: ordered publish STOPS at the failed item " +
      "(partial-ack, waitforacks_test.go:57-88)") {
    val b = MockBroker.reset("exhausted")
    b.transientFails.put("ev2", new AtomicInteger(Int.MaxValue))
    val res = SinkPublisher.publishOrdered(items(5).iterator,
      new MockBrokerSinkWriter("exhausted"), maxRetries = 2, sleep = noSleep)
    assert(res.succeeded == 2 && res.failed == 3)
    assert(res.failedItems == Seq(2, 3, 4), "items after the failure never publish (order guarantee)")
    assert(res.lastSuccessPosition.contains(10L),
      "checkpoint high-water mark stops BEFORE the failed item — contiguous from start")
    assert(res.firstError.exists(_.getMessage.contains("ack timeout")))
    assert(b.log.map(_.eventId) == Seq("ev0", "ev1"))
  }

  test("poison event quarantines to the DLQ handler and the batch continues") {
    val b = MockBroker.reset("poison-dlq")
    b.poison.add("ev1")
    val dlq = ArrayBuffer[(String, String)]()
    val res = SinkPublisher.publishOrdered(items(3).iterator,
      new MockBrokerSinkWriter("poison-dlq"), sleep = noSleep,
      quarantine = Some((item, e) => dlq += ((item.eventId, e.getMessage))))
    assert(res.isComplete, "quarantined poison counts as handled (engine.go:523-529)")
    assert(res.quarantined == Seq(1))
    assert(dlq.map(_._1) == Seq("ev1"))
    assert(dlq.head._2.contains("message size exceeds maximum"))
    assert(b.log.map(_.eventId) == Seq("ev0", "ev2"))
    assert(res.lastSuccessPosition.contains(20L))
  }

  test("poison without a quarantine policy fails fast, never burning retries") {
    val b = MockBroker.reset("poison-crash")
    b.poison.add("ev0")
    var retries = 0
    val res = SinkPublisher.publishOrdered(items(2).iterator,
      new MockBrokerSinkWriter("poison-crash"), maxRetries = 3,
      sleep = noSleep, onRetry = () => retries += 1)
    assert(!res.isComplete && res.succeeded == 0)
    assert(retries == 0, "permanent errors are never retried (errors.go:14-18)")
    assert(res.lastSuccessPosition.isEmpty)
    assert(res.firstError.exists(_.isInstanceOf[PermanentPublishException]))
  }

  test("FENCED writer fails the ordered batch WITHOUT quarantining: the " +
      "remaining items are healthy and belong to the successor — a DLQ " +
      "record would be a side effect outside the aborted transaction") {
    val b = MockBroker.reset("fenced-ordered")
    b.fencedFrom.add("ev1")
    val dlq = ArrayBuffer[String]()
    var retries = 0
    val res = SinkPublisher.publishOrdered(items(4).iterator,
      new MockBrokerSinkWriter("fenced-ordered"), maxRetries = 3,
      sleep = noSleep, onRetry = () => retries += 1,
      quarantine = Some((item, _) => dlq += item.eventId))
    assert(!res.isComplete && res.succeeded == 1 && res.failed == 3)
    assert(dlq.isEmpty, "fencing must NEVER consult the quarantine policy")
    assert(res.quarantined.isEmpty)
    assert(retries == 0, "fencing is permanent — never retried")
    assert(res.firstError.exists(_.isInstanceOf[FencedWriterException]))
    assert(b.log.map(_.eventId) == Seq("ev0"))
  }

  test("FENCED writer stops the unordered rounds immediately and " +
      "quarantines nothing — every later publish from the zombie is " +
      "fenced too, so re-driving the pending set is pure waste") {
    val b = MockBroker.reset("fenced-unordered")
    b.fencedFrom.add("ev2")
    val dlq = ArrayBuffer[String]()
    var retries = 0
    val res = SinkPublisher.publishUnordered(items(5).iterator,
      new MockBrokerSinkWriter("fenced-unordered"), maxRetries = 3,
      sleep = noSleep, onRetry = () => retries += 1,
      quarantine = Some((item, _) => dlq += item.eventId))
    assert(!res.isComplete)
    assert(dlq.isEmpty && res.quarantined.isEmpty,
      "fencing must NEVER consult the quarantine policy")
    assert(retries == 0, "no retry rounds after the fence")
    assert(res.firstError.exists(_.isInstanceOf[FencedWriterException]))
    assert(b.log.map(_.eventId) == Seq("ev0", "ev1"),
      "publishes before the fence landed; nothing after it was attempted")
  }

  test("lastSuccessPosition is positional: a failed low-position item blocks the " +
      "high-water mark even when later-iterated items acked (multi-subject partition)") {
    val b = MockBroker.reset("positional")
    // iteration order: subjA at positions 500/600, then subjB at 100/200 —
    // subjB's first item fails permanently
    val mixed = Vector(
      PublishItem("cdc.db.a", "a1", "{}", 500L),
      PublishItem("cdc.db.a", "a2", "{}", 600L),
      PublishItem("cdc.db.b", "b1", "{}", 100L),
      PublishItem("cdc.db.b", "b2", "{}", 200L))
    b.poison.add("b1")
    val res = SinkPublisher.publishOrdered(mixed.iterator,
      new MockBrokerSinkWriter("positional"), sleep = noSleep)
    assert(res.succeeded == 2 && res.failed == 2)
    assert(res.lastSuccessPosition.isEmpty,
      s"position 100 is unacked, so NO position may be checkpointed: $res")
  }

  test("lastSuccessPosition never advances onto a position shared with an unacked item") {
    val b = MockBroker.reset("ties")
    // duplicate position 100: one acks, one is poison — the mark must stay
    // strictly below 100
    val tied = Vector(
      PublishItem("cdc.db.a", "t0", "{}", 50L),
      PublishItem("cdc.db.a", "t1", "{}", 100L),
      PublishItem("cdc.db.b", "t2", "{}", 100L),
      PublishItem("cdc.db.b", "t3", "{}", 200L))
    b.poison.add("t2")
    val res = SinkPublisher.publishOrdered(tied.iterator,
      new MockBrokerSinkWriter("ties"), sleep = noSleep)
    assert(res.lastSuccessPosition.contains(50L),
      s"an acked item tying the unacked position must not advance the mark: $res")
  }

  test("skip policy: poison is handled without a DLQ record and the batch continues " +
      "(engine_failure_policy_test.go:109)") {
    val b = MockBroker.reset("poison-skip")
    b.poison.add("ev1")
    val dlq = ArrayBuffer[(String, String)]()
    val res = SinkPublisher.publishOrdered(items(3).iterator,
      new MockBrokerSinkWriter("poison-skip"), sleep = noSleep,
      quarantine = SinkPublisher.quarantineFor(graft.cdc.Dlq.PolicySkip,
        (item, e) => dlq += ((item.eventId, e.getMessage))))
    assert(res.isComplete && res.quarantined == Seq(1))
    assert(dlq.isEmpty, "skip policy records nothing")
    assert(b.log.map(_.eventId) == Seq("ev0", "ev2"))
  }

  test("transient exhaustion still fails the batch under the DLQ policy " +
      "(engine_failure_policy_test.go:133)") {
    val b = MockBroker.reset("transient-dlq")
    b.transientFails.put("ev1", new AtomicInteger(Int.MaxValue))
    val dlq = ArrayBuffer[String]()
    val res = SinkPublisher.publishOrdered(items(3).iterator,
      new MockBrokerSinkWriter("transient-dlq"), maxRetries = 2, sleep = noSleep,
      quarantine = SinkPublisher.quarantineFor(graft.cdc.Dlq.PolicyDlq,
        (item, _) => dlq += item.eventId))
    assert(!res.isComplete, "only PERMANENT failures consult the policy")
    assert(dlq.isEmpty, "a transient failure never quarantines")
    assert(res.failedItems == Seq(1, 2) && res.lastSuccessPosition.contains(0L))
  }

  test("unordered mode retries ONLY the failed items (E3, engine.go:539-661)") {
    val b = MockBroker.reset("unordered")
    b.transientFails.put("ev1", new AtomicInteger(1))
    val calls = new AtomicInteger(0)
    val counting = new SinkWriter {
      val inner = new MockBrokerSinkWriter("unordered")
      override def publish(item: PublishItem): Unit = { calls.incrementAndGet(); inner.publish(item) }
    }
    val res = SinkPublisher.publishUnordered(items(3).iterator, counting,
      maxRetries = 2, sleep = noSleep)
    assert(res.isComplete && res.succeeded == 3)
    assert(calls.get() == 4, "3 first-round publishes + 1 retry of the single failure")
    assert(b.log.map(_.eventId).toSet == Set("ev0", "ev1", "ev2"))
  }

  test("streaming end-to-end: partial-ack recovery through the mock broker " +
      "(foreachBatch via writeBatchVia)") {
    implicit val sctx = spark.sqlContext
    val brokerId = "stream-e2e"
    val b = MockBroker.reset(brokerId)
    val input = MemoryStream[(Long, String)]
    def walLine(ws: Long, action: String, xid: Long, id: Int = 0): (Long, String) = {
      val ts = "2024-01-15 10:30:00.123456+00"
      action match {
        case "B" | "C" => (ws, s"""{"action":"$action","xid":$xid,"timestamp":"$ts"}""")
        case a => (ws,
          s"""{"action":"$a","xid":$xid,"timestamp":"$ts","schema":"public","table":"users","columns":[{"name":"id","type":"bigint","value":$id}]}""")
      }
    }
    val events = CdcStream.pipeline(spark, input.toDF().toDF("wal_start", "data"), "testdb")
    val q = events.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        SinkPublisher.writeBatchVia(batch.toDF(),
          () => new MockBrokerSinkWriter(brokerId), numPartitions = 2,
          sleep = _ => ())
        () // writeBatchVia returns what it published; foreachBatch wants Unit
      }.start()
    try {
      input.addData(walLine(1, "B", 1), walLine(2, "I", 1, id = 1),
        walLine(3, "I", 1, id = 2), walLine(4, "C", 1))
      q.processAllAvailable()
      val evIds = b.synchronized(b.log.map(_.eventId).toVector)
      assert(evIds.size == 2, s"both committed events published, got $evIds")

      // second tx: its (deterministic) event id is seeded to FAIL its
      // first two acks — the in-batch publish loop must retry with
      // backoff and still deliver (partial-ack recovery)
      b.transientFails.put("0/6:2:INSERT:public.users:0", new AtomicInteger(2))
      input.addData(walLine(5, "B", 2), walLine(6, "I", 2, id = 3), walLine(7, "C", 2))
      q.processAllAvailable()
      val afterTx2 = b.synchronized(b.log.map(_.eventId).toVector)
      assert(afterTx2.size == 3, s"flaky-acked event recovered via retries, got $afterTx2")
      assert(afterTx2.contains("0/6:2:INSERT:public.users:0"))
      assert(b.transientFails.get("0/6:2:INSERT:public.users:0").get() <= 0,
        "the scripted failures were actually consumed by retries")

      // at-least-once redelivery: replaying tx 1's rows must not duplicate
      // (stream-side watermark dedup + broker Msg-Id dedup)
      input.addData(walLine(1, "B", 1), walLine(2, "I", 1, id = 1),
        walLine(3, "I", 1, id = 2), walLine(4, "C", 1))
      q.processAllAvailable()
      val after = b.synchronized(b.log.map(_.eventId).toVector)
      assert(after.size == 3, s"replayed events deduped by Msg-Id, got $after")
      assert(after.distinct.size == after.size)
      // per-subject commit order: positions must be non-decreasing per subject
      val bySubject = b.synchronized(b.log.groupBy(_.subject).view.mapValues(_.map(_.position)).toMap)
      bySubject.foreach { case (subj, pos) =>
        val sorted = pos.sortBy(identity)
        assert(pos == sorted, s"subject $subj published out of order: $pos")
      }
    } finally q.stop()
  }
}
