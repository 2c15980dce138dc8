package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** One observed transition: `entity` went `from_type` → `to_type`. */
case class Transition(entity: Long, from_type: String, to_type: String,
    ts: java.sql.Timestamp)

/** INCREMENTAL event-transition mining — the streaming twin of the q68
  * Markov matrix: keyed state is just the entity's LAST event (type +
  * time), and every arriving event emits one transition edge. The
  * transition matrix is then any downstream rollup of the edge stream —
  * at 100 TB this is how path analysis stays current: per-trigger cost
  * O(arrivals), per-entity state one (string, timestamp) pair, history
  * never re-read.
  *
  * Ordering contract mirrors [[StreamingFunnel]]: within a micro-batch an
  * entity's events fold in (ts, tie) order (≡ the batch lead() program);
  * across batches arrival order is processing order, so event-time-
  * ordered input gives exact batch parity.
  */
class TransitionProcessor(ttlMs: Long = 0L)
    extends StatefulProcessor[Long, FunnelEvent, Transition] {

  @transient private var last: ValueState[(String, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // ttlMs > 0 expires churned entities' last-event state: a re-entering
    // entity starts a fresh path (its first new event emits no edge) —
    // same TTLConfig knob as StreamingFunnel and StreamingCohort,
    // default NONE.
    val ttl = if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else TTLConfig.NONE
    last = getHandle.getValueState[(String, Long)]("last",
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong), ttl)
  }

  override def handleInputRows(entity: Long, rows: Iterator[FunnelEvent],
      timers: TimerValues): Iterator[Transition] = {
    var prev: Option[(String, Long)] =
      if (last.exists()) Some(last.get()) else None
    val out = List.newBuilder[Transition]
    rows.toList.sortBy(e => (e.ts.getTime, e.tie)).foreach { e =>
      prev.foreach { case (fromType, _) =>
        out += Transition(entity, fromType, e.event_type, e.ts)
      }
      prev = Some((e.event_type, e.ts.getTime))
    }
    prev.foreach(last.update)
    out.result().iterator
  }
}

object StreamingTransitions {

  /** Transition-edge stream for `events` (same column contract as
    * [[StreamingFunnel.stageHits]]). Requires the RocksDB provider.
    */
  def edges(spark: SparkSession, events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String, tieCol: String,
      ttlMs: Long = 0L): Dataset[Transition] = {
    import spark.implicits._
    events.select(
        events(entityCol).cast("long").as("entity"),
        events(typeCol).as("event_type"),
        events(tsCol).as("ts"),
        events(tieCol).cast("long").as("tie"))
      .as[FunnelEvent]
      .groupByKey(_.entity)
      .transformWithState(new TransitionProcessor(ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append(), Encoders.product[Transition])
  }
}
