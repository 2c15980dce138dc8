package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.ops.{Behavior, SessionConf}

/** Funnel ordering semantics (a stage event BEFORE the prior stage must
  * not count) and cohort week arithmetic.
  */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: stages only count at or after the previous stage's reach") {
    val events = Seq(
      // u1 completes the full ordered funnel
      (1L, "signup", ts("2024-01-01 10:00:00"), 1L),
      (1L, "view", ts("2024-01-01 11:00:00"), 2L),
      (1L, "purchase", ts("2024-01-01 12:00:00"), 3L),
      // u2 purchases BEFORE viewing — reaches stage 2, not 3
      (2L, "signup", ts("2024-01-02 10:00:00"), 4L),
      (2L, "purchase", ts("2024-01-02 10:30:00"), 5L),
      (2L, "view", ts("2024-01-02 11:00:00"), 6L),
      // u3 views before signing up — that view must NOT qualify, and no
      // later view exists -> stage 1 only
      (3L, "view", ts("2024-01-03 09:00:00"), 7L),
      (3L, "signup", ts("2024-01-03 10:00:00"), 8L),
      (3L, "purchase", ts("2024-01-03 11:00:00"), 9L),
      // u4 never signs up -> no stage at all
      (4L, "view", ts("2024-01-04 10:00:00"), 10L),
      (4L, "purchase", ts("2024-01-04 11:00:00"), 11L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = Behavior.funnel(events, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "view", "purchase"))
      .orderBy($"stage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toList == List(
      (1L, "signup", 3L, 1000000L),
      (2L, "view", 2L, 666666L),
      (3L, "purchase", 1L, 333333L)))
  }

  test("funnel: ts ties break deterministically on the tie column") {
    // signup and view share a timestamp; view's event_id sorts AFTER ->
    // the view qualifies; flipping the ids disqualifies it
    def run(signupId: Long, viewId: Long) = {
      val events = Seq(
        (1L, "signup", ts("2024-01-01 10:00:00"), signupId),
        (1L, "view", ts("2024-01-01 10:00:00"), viewId))
        .toDF("user_id", "event_type", "ts", "event_id")
      Behavior.funnel(events, "user_id", "event_type", "ts", "event_id",
          Seq("signup", "view"))
        .orderBy($"stage").collect().map(_.getLong(2)).toList
    }
    assert(run(1L, 2L) == List(1L, 1L))
    assert(run(2L, 1L) == List(1L, 0L))
  }

  test("funnel is one window pass: a single exchange on the entity key") {
    val e = spark.read.parquet(s"$sf0001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
    val plan = Behavior.funnel(e, "user_id", "event_type", "ts", "event_id",
      Seq("signup", "view", "purchase")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // one shuffle into user_id for the window+groupBy chain, one single-
    // partition exchange for the global stage rollup (tiny)
    assert(exchanges <= 2, s"$exchanges exchanges:\n${plan.take(1200)}")
    assert(!plan.contains("Join"), "funnel must not self-join")
    // the stage-alphabet pre-filter reaches the parquet scan: at 100 TB
    // the window shuffles only the funnel's event types, not the corpus
    assert(plan.contains("PushedFilters") && plan.contains("In(event_type"),
      plan.take(1500))
  }

  test("funnel deadline: late conversions don't count, on-time ones do") {
    val events = Seq(
      // u1 views 30 min after signup — inside a 1h deadline
      (1L, "signup", ts("2024-01-01 10:00:00"), 1L),
      (1L, "view", ts("2024-01-01 10:30:00"), 2L),
      // u2 views 2h after signup — outside; a later view is ALSO outside
      (2L, "signup", ts("2024-01-02 10:00:00"), 3L),
      (2L, "view", ts("2024-01-02 12:00:00"), 4L),
      (2L, "view", ts("2024-01-02 13:00:00"), 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = Behavior.funnel(events, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "view"), maxGapSeconds = 3600L)
      .orderBy($"stage").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toList == List((1L, 2L), (2L, 1L)))
    // without the deadline u2 converts too
    val noDl = Behavior.funnel(events, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "view"))
      .orderBy($"stage").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(noDl.toList == List((1L, 2L), (2L, 2L)))
  }

  test("streaming funnel: state advances across micro-batches, monotone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("funnel_ckpt")
    withRocksDb {
      val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val hits = graft.streaming.StreamingFunnel.stageHits(spark,
        input.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", Seq("signup", "view", "purchase"))
      val q = hits.writeStream.outputMode("append").format("memory")
        .queryName("funnel_hits_t")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        // batch 1: signup, then a purchase BEFORE any view — only the
        // signup advances (stage state = 1 carried into batch 2)
        input.addData((1L, "signup", ts("2024-01-01 10:00:00"), 1L),
          (1L, "purchase", ts("2024-01-01 10:30:00"), 2L))
        q.processAllAvailable()
        val afterB1 = spark.table("funnel_hits_t").select($"stage")
          .as[Long].collect().sorted.toList
        assert(afterB1 == List(1L), s"batch 1 emitted $afterB1")
        // batch 2: view then purchase — both advance, reading the state
        // persisted by batch 1
        input.addData((1L, "view", ts("2024-01-01 11:00:00"), 3L),
          (1L, "purchase", ts("2024-01-01 12:00:00"), 4L))
        q.processAllAvailable()
        val all = spark.table("funnel_hits_t")
          .select($"stage", $"stage_name").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toList
        assert(all == List((1L, "signup"), (2L, "view"), (3L, "purchase")))
      } finally q.stop()
    }
  }

  test("streaming transitions: the last event bridges micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("trans_ckpt")
    withRocksDb {
      val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val edges = graft.streaming.StreamingTransitions.edges(spark,
        input.toDF().toDF("u", "t", "tts", "id"), "u", "t", "tts", "id")
      val q = edges.writeStream.outputMode("append").format("memory")
        .queryName("trans_edges_t")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        input.addData((1L, "view", ts("2024-01-01 10:00:00"), 1L),
          (1L, "click", ts("2024-01-01 10:10:00"), 2L))
        q.processAllAvailable()
        // batch 2's first event pairs with batch 1's LAST (from state)
        input.addData((1L, "purchase", ts("2024-01-01 10:20:00"), 3L))
        q.processAllAvailable()
        val out = spark.table("trans_edges_t")
          .select($"from_type", $"to_type").collect()
          .map(r => (r.getString(0), r.getString(1))).sorted.toList
        assert(out == List(("click", "purchase"), ("view", "click")))
      } finally q.stop()
    }
  }

  test("cohort retention plan: one entity window + one rollup, no joins") {
    val e = spark.read.parquet(s"$sf0001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
    val plan = Behavior.cohortRetention(e, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "cohort must not self-join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"$exchanges exchanges:\n${plan.take(1200)}")
  }

  test("cohort retention: week arithmetic and distinct entity counting") {
    val events = Seq(
      // u1 first seen Mon Jan 1 week; active that week and 2 weeks later
      (1L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-03 10:00:00")), // same week, still one row
      (1L, ts("2024-01-16 10:00:00")),
      // u2 cohorts the same week, active only then
      (2L, ts("2024-01-05 10:00:00")),
      // u3 cohorts the NEXT week (Jan 8)
      (3L, ts("2024-01-08 00:00:00")),
      (3L, ts("2024-01-15 23:59:59")))
      .toDF("user_id", "ts")
    val out = Behavior.cohortRetention(events, "user_id", "ts")
      .orderBy($"cohort_week", $"week_offset").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(out.toList == List(
      ("2024-01-01", 0L, 2L),
      ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L),
      ("2024-01-08", 1L, 1L)))
  }

  private def withRocksDb(body: => Unit): Unit =
    SessionConf.scoped(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run one AvailableNow pass of `df` against a persistent checkpoint
    * + parquet sink (the file sink supports checkpoint recovery; the
    * memory sink refuses it) and return ALL rows emitted so far. Two
    * passes over one checkpoint exercise TTL deterministically — state
    * written by pass 1 is read by pass 2 through RocksDB with the clock
    * advanced — without a live ProcessingTime trigger (whose TTL mode
    * schedules continuous no-data maintenance batches: a spin loop
    * inside processAllAvailable, not a usable test harness).
    */
  private def runPass[T](df: org.apache.spark.sql.Dataset[T],
      out: String, ckpt: String): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.streaming.Trigger
    // processing-time TTL state makes the engine schedule no-data
    // maintenance batches CONTINUOUSLY (AvailableNow never terminates);
    // TTL filtering itself is lazy-on-read, so turning the no-data
    // batches off changes nothing these passes assert
    SessionConf.scoped(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val q = df.writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      spark.read.parquet(out).collect().toSeq
    }
  }

  test("behavior-state TTL: expired entities reset — funnel restarts at " +
      "stage 1, cohort re-cohorts, transition path re-anchors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx = spark.sqlContext
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("bttl")
      // funnel: stage-1 state expires between passes → the second signup
      // re-advances to stage 1 (live state would swallow it)
      val fIn = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val fHits = graft.streaming.StreamingFunnel.stageHits(spark,
        fIn.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", Seq("signup", "view"), ttlMs = 500L)
      fIn.addData((1L, "signup", ts("2024-01-01 10:00:00"), 1L))
      val f1 = runPass(fHits, s"$base/fo", s"$base/f").map(_.getLong(1))
      assert(f1 == Seq(1L), s"pass 1 reaches stage 1: $f1")

      // transitions: the (view→click) path's last-event state expires →
      // the purchase anchors a fresh path instead of bridging
      val tIn = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val tEdges = graft.streaming.StreamingTransitions.edges(spark,
        tIn.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", ttlMs = 500L)
      tIn.addData((1L, "view", ts("2024-01-01 10:00:00"), 1L),
        (1L, "click", ts("2024-01-01 10:10:00"), 2L))
      val t1 = runPass(tEdges, s"$base/to", s"$base/t")
        .map(r => (r.getString(1), r.getString(2)))
      assert(t1 == Seq(("view", "click")), s"pass 1 edge: $t1")

      // cohort: the cohort-week state expires → the entity is
      // RE-COHORTED at its next event (live state would emit offset 2)
      val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val cHits = graft.streaming.StreamingCohort.hits(spark,
        cIn.toDF().toDF("u", "tts", "id"), "u", "tts", "id", ttlMs = 500L)
      cIn.addData((1L, ts("2024-01-02 10:00:00"), 1L)) // week of Jan 1
      val c1 = runPass(cHits, s"$base/co", s"$base/c")
        .map(r => (r.getDate(1).toString, r.getLong(2)))
      assert(c1 == Seq(("2024-01-01", 0L)), s"pass 1 cohort: $c1")

      Thread.sleep(1200L) // > ttlMs: all three entities' state expires

      fIn.addData((1L, "signup", ts("2024-03-01 10:00:00"), 2L))
      val f2 = runPass(fHits, s"$base/fo", s"$base/f").map(_.getLong(1))
      assert(f2 == Seq(1L, 1L), // cumulative: a SECOND stage-1 hit
        s"expired entity must restart at stage 1, got $f2")

      tIn.addData((1L, "purchase", ts("2024-03-01 10:00:00"), 3L))
      val t2 = runPass(tEdges, s"$base/to", s"$base/t")
        .map(r => (r.getString(1), r.getString(2)))
      assert(t2 == Seq(("view", "click")), // cumulative: NO new edge
        s"expired entity must not bridge click→purchase, got $t2")

      cIn.addData((1L, ts("2024-01-16 10:00:00"), 2L)) // two weeks later
      val c2 = runPass(cHits, s"$base/co", s"$base/c")
        .map(r => (r.getDate(1).toString, r.getLong(2))).sorted
      assert(c2 == Seq(("2024-01-01", 0L), ("2024-01-15", 0L)),
        s"expired entity must re-cohort at offset 0, got $c2")
    }
  }

  test("TTL state survives a restart within ttl; stays expired across " +
      "restarts after ttl (processing-time clock, restart-independent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx = spark.sqlContext
    withRocksDb {
      val base = java.nio.file.Files.createTempDirectory("bttlr")
      // generous ttl vs pass wall-time: the restart between passes must
      // land well inside it
      val aIn = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val aHits = graft.streaming.StreamingFunnel.stageHits(spark,
        aIn.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", Seq("signup", "view"), ttlMs = 120000L)
      aIn.addData((1L, "signup", ts("2024-01-01 10:00:00"), 1L))
      assert(runPass(aHits, s"$base/ao", s"$base/a").map(_.getLong(1))
        == Seq(1L))
      // RESTART from the checkpoint (runPass starts a fresh query): the
      // persisted TTL state must still be live — the view advances to
      // stage 2. A restart that cleared or ignored state would emit
      // nothing; one that re-keyed it would re-emit stage 1.
      aIn.addData((1L, "view", ts("2024-01-01 10:01:00"), 2L))
      val a2 = runPass(aHits, s"$base/ao", s"$base/a").map(_.getLong(1))
      assert(a2 == Seq(1L, 2L),
        s"state must survive a within-ttl restart intact: $a2")

      // expired entity: a later restart must NOT resurrect it — the TTL
      // clock is wall-time anchored at write, not at query start
      val bIn = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val bHits = graft.streaming.StreamingFunnel.stageHits(spark,
        bIn.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", Seq("signup", "view"), ttlMs = 500L)
      bIn.addData((2L, "signup", ts("2024-01-01 10:00:00"), 1L))
      assert(runPass(bHits, s"$base/bo", s"$base/b").map(_.getLong(1))
        == Seq(1L))
      Thread.sleep(1200L) // > ttl: entity 2's stage state expires
      // a restart later, the view must find NO stage-1 state (emitting
      // stage 2 here would mean the restart resurrected expired state)
      bIn.addData((2L, "view", ts("2024-01-01 10:02:00"), 2L))
      val b2 = runPass(bHits, s"$base/bo", s"$base/b").map(_.getLong(1))
      assert(b2 == Seq(1L),
        s"expired state must stay expired across restarts: $b2")
      // and the churn path re-enters at stage 1, append-only
      bIn.addData((2L, "signup", ts("2024-01-01 10:03:00"), 3L))
      val b3 = runPass(bHits, s"$base/bo", s"$base/b").map(_.getLong(1))
      assert(b3 == Seq(1L, 1L), s"churned entity restarts at stage 1: $b3")
    }
  }

  test("cross-batch disorder: funnel monotone, cohort never negative") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sctx = spark.sqlContext
    withRocksDb {
      // The documented ordering boundary (doc comments on all three
      // processors), pinned: event-time stragglers arriving a batch LATE
      // degrade monotonically — no retroactive stage re-qualification, no
      // negative cohort offsets — rather than corrupting state.
      val fCkpt = java.nio.file.Files.createTempDirectory("funnel_ooo_ckpt")
      val fIn = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
      val fHits = graft.streaming.StreamingFunnel.stageHits(spark,
        fIn.toDF().toDF("u", "t", "tts", "id"),
        "u", "t", "tts", "id", Seq("signup", "view", "purchase"))
      val fq = fHits.writeStream.outputMode("append").format("memory")
        .queryName("funnel_ooo_t")
        .option("checkpointLocation", fCkpt.toString).start()
      try {
        // the view arrives a batch EARLY (event-time 11:00, before the
        // signup is known): no stage taken, and it is gone for good
        fIn.addData((1L, "view", ts("2024-01-01 11:00:00"), 2L))
        fq.processAllAvailable()
        assert(spark.table("funnel_ooo_t").isEmpty)
        // the signup (event-time 10:00) and purchase (12:00) arrive next
        // batch: signup advances to stage 1; the purchase cannot take
        // stage 2 (that is the view's slot, already consumed unseen) —
        // monotone: the batch recompute would say stage 3, the stream
        // says stage 1 and NEVER retroactively re-qualifies
        fIn.addData((1L, "signup", ts("2024-01-01 10:00:00"), 1L),
          (1L, "purchase", ts("2024-01-01 12:00:00"), 3L))
        fq.processAllAvailable()
        val stages = spark.table("funnel_ooo_t").select($"stage")
          .as[Long].collect().toList
        assert(stages == List(1L), s"disorder must degrade monotone: $stages")
      } finally fq.stop()

      val cCkpt = java.nio.file.Files.createTempDirectory("cohort_ooo_ckpt")
      val cIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val cHits = graft.streaming.StreamingCohort.hits(spark,
        cIn.toDF().toDF("u", "tts", "id"), "u", "tts", "id")
      val cq = cHits.writeStream.outputMode("append").format("memory")
        .queryName("cohort_ooo_t")
        .option("checkpointLocation", cCkpt.toString).start()
      try {
        cIn.addData((1L, ts("2024-01-16 10:00:00"), 2L)) // week of Jan 15
        cq.processAllAvailable()
        // a straggler OLDER than the recorded cohort: dropped, not
        // emitted with a negative offset, and the cohort stands
        cIn.addData((1L, ts("2024-01-02 10:00:00"), 1L),
          (1L, ts("2024-01-23 10:00:00"), 3L))
        cq.processAllAvailable()
        val out = spark.table("cohort_ooo_t")
          .select($"cohort_week", $"week_offset").collect()
          .map(r => (r.getDate(0).toString, r.getLong(1))).sorted.toList
        assert(out == List(("2024-01-15", 0L), ("2024-01-15", 1L)),
          s"straggler must drop, cohort must stand: $out")
      } finally cq.stop()
    }
  }

  /** Manual-clock state harness: a fake StatefulProcessorHandle whose
    * ValueState/MapState honor the declared TTLConfig against a clock the
    * test advances — processors' TTL SEMANTICS (what refreshes the clock,
    * what a re-entering entity sees) become deterministic assertions, not
    * Thread.sleep races. Read-side-lazy expiry mirrors RocksDB TTL.
    */
  private class ManualClockHandle
      extends org.apache.spark.sql.streaming.StatefulProcessorHandle {
    import org.apache.spark.sql.streaming.{ListState, MapState, TTLConfig,
      ValueState}
    var now: Long = 0L
    private def ttlMs(c: TTLConfig): Long = c.ttlDuration.toMillis

    private class FakeValue[T](ttl: Long) extends ValueState[T] {
      private var v: Option[(T, Long)] = None
      private def live = v.exists { case (_, w) => ttl <= 0 || now < w + ttl }
      override def exists(): Boolean = live
      override def get(): T =
        if (live) v.get._1 else null.asInstanceOf[T]
      override def update(x: T): Unit = v = Some((x, now))
      override def clear(): Unit = v = None
    }
    private class FakeMap[K, V](ttl: Long) extends MapState[K, V] {
      private val m =
        scala.collection.mutable.LinkedHashMap[K, (V, Long)]()
      private def live(w: Long) = ttl <= 0 || now < w + ttl
      override def exists(): Boolean =
        m.exists { case (_, (_, w)) => live(w) }
      override def getValue(k: K): V = m.get(k).collect {
        case (v, w) if live(w) => v }.getOrElse(null.asInstanceOf[V])
      override def containsKey(k: K): Boolean =
        m.get(k).exists { case (_, w) => live(w) }
      override def updateValue(k: K, v: V): Unit = m(k) = (v, now)
      override def iterator(): Iterator[(K, V)] = m.iterator.collect {
        case (k, (v, w)) if live(w) => (k, v) }
      override def keys(): Iterator[K] = iterator().map(_._1)
      override def values(): Iterator[V] = iterator().map(_._2)
      override def removeKey(k: K): Unit = m.remove(k)
      override def clear(): Unit = m.clear()
    }

    override def getValueState[T](name: String,
        enc: org.apache.spark.sql.Encoder[T],
        ttl: TTLConfig): ValueState[T] = new FakeValue[T](ttlMs(ttl))
    override def getValueState[T](name: String, ttl: TTLConfig)(
        implicit enc: org.apache.spark.sql.Encoder[T]): ValueState[T] =
      new FakeValue[T](ttlMs(ttl))
    override def getMapState[K, V](name: String,
        kEnc: org.apache.spark.sql.Encoder[K],
        vEnc: org.apache.spark.sql.Encoder[V],
        ttl: TTLConfig): MapState[K, V] = new FakeMap[K, V](ttlMs(ttl))
    override def getMapState[K, V](name: String, ttl: TTLConfig)(
        implicit kEnc: org.apache.spark.sql.Encoder[K],
        vEnc: org.apache.spark.sql.Encoder[V]): MapState[K, V] =
      new FakeMap[K, V](ttlMs(ttl))
    override def getListState[T](name: String,
        enc: org.apache.spark.sql.Encoder[T],
        ttl: TTLConfig): ListState[T] =
      throw new UnsupportedOperationException("unused in these specs")
    override def getListState[T](name: String, ttl: TTLConfig)(
        implicit enc: org.apache.spark.sql.Encoder[T]): ListState[T] =
      throw new UnsupportedOperationException("unused in these specs")
    override def getQueryInfo(): org.apache.spark.sql.streaming.QueryInfo =
      throw new UnsupportedOperationException("unused in these specs")
    override def registerTimer(expiryTimestampMs: Long): Unit = ()
    override def deleteTimer(expiryTimestampMs: Long): Unit = ()
    override def listTimers(): Iterator[Long] = Iterator.empty
    override def deleteIfExists(stateName: String): Unit = ()
  }

  private val noTimers = new org.apache.spark.sql.streaming.TimerValues {
    override def getCurrentProcessingTimeInMs(): Long = 0L
    override def getCurrentWatermarkInMs(): Long = 0L
  }

  test("cohort TTL measures INACTIVITY: a continuously-active entity is " +
      "never re-cohorted, even past ttlMs from its first event") {
    val h = new ManualClockHandle
    val p = new graft.streaming.CohortProcessor("UTC", ttlMs = 1000L)
    p.setHandle(h)
    p.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    def feed(at: Long, when: String) = {
      h.now = at
      p.handleInputRows(1L, Iterator(
          graft.streaming.FunnelEvent(1L, "", ts(when), at)), noTimers)
        .map(c => (c.cohort_week.toString, c.week_offset)).toList
    }
    assert(feed(0L, "2024-01-02 10:00:00") == List(("2024-01-01", 0L)))
    assert(feed(800L, "2024-01-16 10:00:00") == List(("2024-01-01", 2L)))
    // 1600 ms is past ttl from the FIRST write (t=0) but within ttl of
    // the last arrival (t=800): the entity has been active throughout,
    // so it must continue its original cohort — the pre-fix code (write
    // cohortDay once, guarded by !exists) re-cohorted here
    assert(feed(1600L, "2024-01-23 10:00:00") == List(("2024-01-01", 3L)),
      "active entity must not be re-cohorted mid-life")
    // genuine churn: > ttl after the last arrival -> re-cohort at the
    // new event's own week, offset 0, prior hits standing (append-only)
    assert(feed(2700L, "2024-02-06 10:00:00") == List(("2024-02-05", 0L)))
  }

  test("cohort weeksSeen entries refresh on every same-week arrival — an " +
      "active entity never re-emits an already-emitted offset") {
    val h = new ManualClockHandle
    val p = new graft.streaming.CohortProcessor("UTC", ttlMs = 1000L)
    p.setHandle(h)
    p.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    def feed(at: Long, when: String) = {
      h.now = at
      p.handleInputRows(3L, Iterator(
          graft.streaming.FunnelEvent(3L, "", ts(when), at)), noTimers)
        .map(c => (c.cohort_week.toString, c.week_offset)).toList
    }
    assert(feed(0L, "2024-01-02 10:00:00") == List(("2024-01-01", 0L)))
    assert(feed(800L, "2024-01-03 10:00:00") == Nil, "same week: no re-emit")
    // 1600 ms is past ttl from the FIRST weeksSeen(0) write (t=0) but
    // within ttl of the t=800 arrival: test-then-REWRITE must have
    // refreshed the entry, so this same-week event emits nothing — the
    // pre-fix code (write-once, containsKey-guarded) re-emitted a
    // duplicate offset-0 hit here
    assert(feed(1600L, "2024-01-04 10:00:00") == Nil,
      "an active entity must not re-emit an already-emitted week offset")
  }

  test("cohort re-entry after expiry starts with a CLEAN weeksSeen — a " +
      "surviving colliding offset entry cannot suppress the new cohort") {
    val h = new ManualClockHandle
    val p = new graft.streaming.CohortProcessor("UTC", ttlMs = 1000L)
    p.setHandle(h)
    p.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    def feed(at: Long, when: String) = {
      h.now = at
      p.handleInputRows(7L, Iterator(
          graft.streaming.FunnelEvent(7L, "", ts(when), at)), noTimers)
        .map(c => (c.cohort_week.toString, c.week_offset)).toList
    }
    assert(feed(0L, "2024-01-02 10:00:00") == List(("2024-01-01", 0L)))
    // churned: re-enters at 2500 (> ttl since 0) two weeks later. The
    // new cohort is the new week; its offset 0 must EMIT even though the
    // expired life also emitted an offset-0 hit (clean weeksSeen).
    assert(feed(2500L, "2024-01-16 10:00:00") == List(("2024-01-15", 0L)),
      "re-cohorted entity must emit offset 0 for its new cohort")
  }

  test("funnel TTL refreshes on every stage-alphabet arrival, including " +
      "non-advancing repeats; expiry restarts at stage 1") {
    val h = new ManualClockHandle
    val p = new graft.streaming.FunnelProcessor(
      Seq("signup", "view"), ttlMs = 1000L)
    p.setHandle(h)
    p.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    def feed(at: Long, typ: String) = {
      h.now = at
      p.handleInputRows(1L, Iterator(graft.streaming.FunnelEvent(
          1L, typ, ts("2024-01-01 10:00:00"), at)), noTimers)
        .map(_.stage).toList
    }
    assert(feed(0L, "signup") == List(1L))
    // a NON-advancing repeat (signup again at stage 1) still rewrites
    // the state and refreshes the TTL clock — the documented boundary
    assert(feed(800L, "signup") == Nil)
    // 1600 is > ttl from the advance at 0 but within ttl of the repeat
    // at 800: state must be alive, view advances to stage 2
    assert(feed(1600L, "view") == List(2L),
      "non-advancing arrivals must keep funnel state alive")
    // true churn: past ttl from the last arrival -> restart at stage 1
    assert(feed(2700L, "signup") == List(1L))
  }

  test("duplicate stage names are rejected in batch and streaming funnels") {
    val events = Seq((1L, "a", ts("2024-01-01 10:00:00"), 1L))
      .toDF("user_id", "event_type", "ts", "event_id")
    intercept[IllegalArgumentException] {
      Behavior.stageTimes(events, "user_id", "event_type", "ts",
        "event_id", Seq("a", "a", "b"))
    }
    intercept[IllegalArgumentException] {
      new graft.streaming.FunnelProcessor(Seq("a", "a", "b"))
    }
  }
}
