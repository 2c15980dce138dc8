package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** One funnel input event (entity-keyed). */
case class FunnelEvent(entity: Long, event_type: String,
    ts: java.sql.Timestamp, tie: Long)

/** A stage completion: `entity` reached `stage` (1-based) at `ts`. */
case class StageHit(entity: Long, stage: Long, stage_name: String,
    ts: java.sql.Timestamp)

/** INCREMENTAL ordered funnel — [[graft.ops.Behavior.funnel]]'s streaming
  * twin on `transformWithState`: per-entity progress is ONE integer in
  * keyed state (stages reached so far), each arriving event advances it
  * at most one stage, and every advancement emits a [[StageHit]]. At
  * 100 TB the funnel is maintained this way — per-trigger cost is
  * O(arrivals), the corpus of historical events is never re-scanned,
  * and the per-entity state is 4 bytes however long the history.
  *
  * Ordering contract: within a micro-batch, an entity's events are
  * folded in (ts, tie) order — identical to the batch operator. Across
  * micro-batches, arrival order is processing order: an event-time
  * straggler older than an already-taken stage cannot retroactively
  * re-qualify later stages (the batch operator re-computes, the stream
  * is monotone). Feed event-time-ordered input for exact batch parity.
  */
class FunnelProcessor(stages: Seq[String], ttlMs: Long = 0L)
    extends StatefulProcessor[Long, FunnelEvent, StageHit] {
  require(stages.distinct == stages,
    s"funnel stages must be distinct (got $stages): the batch operator's " +
      "running-min window and this one-stage-per-event processor diverge " +
      "on repeated stage names")

  @transient private var reached: ValueState[Int] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // ttlMs > 0 bounds state for churned entities (visitors who never
    // return): an expired entity re-entering restarts at stage 1 — the
    // same TTLConfig knob as StreamingCohort and StreamingTransitions.
    // Default NONE preserves the exact-forever contract for bounded
    // entity populations.
    //
    // TTL clock boundary: handleInputRows rewrites `reached` on EVERY
    // row that reaches the processor — including stage-typed events
    // that do NOT advance (a repeat of an already-taken stage refreshes
    // the TTL). What does NOT refresh it is traffic outside the stage
    // alphabet, which stageHits() filters at the source and never
    // shuffles into state. So TTL measures "time since the entity's
    // last stage-alphabet event", not "time since any activity" — an
    // entity parked at stage k emitting only non-stage events for ttlMs
    // is treated as churned and restarts at stage 1 on its next stage
    // event (a duplicate StageHit in the append-only output, by
    // design: the alternative — shuffling ALL traffic into state to
    // keep it alive — costs the full event volume at 100 TB).
    //
    // Restart/replay boundary (applies to ALL the behavior processors —
    // cohort and transitions carry the same knob): the TTL clock is
    // PROCESSING time, anchored at state-write wall-time and persisted
    // in the store, so a checkpoint restart neither clears live state
    // nor refreshes expired state — expiry depends only on wall-clock
    // elapsed since the last write, however many restarts happen in
    // between. The corollary for checkpoint REPLAY after downtime: a
    // stream resumed after more than ttlMs of downtime finds entities
    // expired that a live run would have kept alive (their events were
    // waiting in the source, not absent). Degradation is the documented
    // churn path — re-emission from stage 1 / re-cohorting at next
    // event, monotone and append-only — never a wrong join of old and
    // new state. Pin: BehaviorSpec "TTL state survives a restart within
    // ttl; stays expired across restarts after ttl".
    val ttl = if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else TTLConfig.NONE
    reached = getHandle.getValueState[Int]("reached", Encoders.scalaInt,
      ttl)
  }

  override def handleInputRows(entity: Long, rows: Iterator[FunnelEvent],
      timers: TimerValues): Iterator[StageHit] = {
    var r = if (reached.exists()) reached.get() else 0
    val hits = List.newBuilder[StageHit]
    rows.toList.sortBy(e => (e.ts.getTime, e.tie)).foreach { e =>
      if (r < stages.length && e.event_type == stages(r)) {
        r += 1
        hits += StageHit(entity, r.toLong, stages(r - 1), e.ts)
      }
    }
    reached.update(r)
    hits.result().iterator
  }
}

object StreamingFunnel {

  /** Stage-completion stream for `events` (columns: entityCol, typeCol,
    * tsCol, tieCol). Requires the RocksDB state-store provider.
    */
  def stageHits(spark: SparkSession, events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String, tieCol: String,
      stages: Seq[String], ttlMs: Long = 0L): Dataset[StageHit] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // stage-alphabet filter at the source (same semantics-free shrink as
    // the batch operator): non-stage events never advance the state, so
    // they need not shuffle into it
    events.filter(col(typeCol).isin(stages: _*)).select(
        events(entityCol).cast("long").as("entity"),
        events(typeCol).as("event_type"),
        events(tsCol).as("ts"),
        events(tieCol).cast("long").as("tie"))
      .as[FunnelEvent]
      .groupByKey(_.entity)
      .transformWithState(new FunnelProcessor(stages, ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append(), Encoders.product[StageHit])
  }
}
