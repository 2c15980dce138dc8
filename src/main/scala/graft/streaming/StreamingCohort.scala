package graft.streaming

import java.time.{DayOfWeek, LocalDate, ZoneId}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** One cohort-activity observation: `entity` (cohorted at `cohort_week`)
  * was active `week_offset` weeks in. Emitted ONCE per (entity, offset).
  */
case class CohortHit(entity: Long, cohort_week: java.sql.Date,
    week_offset: Long)

/** INCREMENTAL cohort retention — [[graft.ops.Behavior.cohortRetention]]'s
  * streaming twin: per-entity state is the cohort week (one long,
  * ValueState) plus the set of week offsets already emitted (MapState —
  * per-entry RocksDB point lookups/writes, never a whole-set round trip),
  * so each arriving event costs O(1) state work and emits at most one
  * [[CohortHit]]. The retention matrix is any rollup of the hit stream;
  * history is never re-read.
  *
  * Ordering contract mirrors [[StreamingFunnel]]: the first event seen
  * fixes the cohort (exact under event-time-ordered ingest); an
  * out-of-order straggler OLDER than the recorded cohort cannot
  * re-cohort the entity (monotone) and is dropped rather than emitted
  * with a negative offset.
  */
class CohortProcessor(zoneId: String = "UTC", ttlMs: Long = 0L)
    extends StatefulProcessor[Long, FunnelEvent, CohortHit] {

  @transient private var cohortDay: ValueState[Long] = _
  @transient private var weeksSeen: MapState[Long, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // ttlMs > 0 expires CHURNED entities — cohortDay is rewritten on
    // every arrival (handleInputRows), so expiry fires only after ttlMs
    // of true inactivity, never mid-life for an active entity. A
    // re-entering entity is RE-COHORTED at its next event with a cleared
    // weeksSeen (its prior hits stand — append-only output), bounding
    // state for unbounded visitor populations. Same TTLConfig knob as
    // StreamingFunnel and StreamingTransitions, default NONE.
    val ttl = if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
      else TTLConfig.NONE
    cohortDay = getHandle.getValueState[Long]("cohortDay",
      Encoders.scalaLong, ttl)
    weeksSeen = getHandle.getMapState[Long, Boolean]("weeksSeen",
      Encoders.scalaLong, Encoders.scalaBoolean, ttl)
  }

  // Week truncation follows the SESSION zone (passed in by hits()), not a
  // hardcoded UTC, so batch parity with Behavior.cohortRetention — whose
  // date_trunc follows spark.sql.session.timeZone — holds for any session
  // zone, not only UTC-pinned ones.
  private def weekStartEpochDay(tsMillis: Long): Long = {
    val ld = LocalDate.ofInstant(
      java.time.Instant.ofEpochMilli(tsMillis), ZoneId.of(zoneId))
    ld.minusDays(ld.getDayOfWeek.getValue - DayOfWeek.MONDAY.getValue)
      .toEpochDay
  }

  override def handleInputRows(entity: Long, rows: Iterator[FunnelEvent],
      timers: TimerValues): Iterator[CohortHit] = {
    val out = List.newBuilder[CohortHit]
    val sorted = rows.toList.sortBy(e => (e.ts.getTime, e.tie))
    if (sorted.nonEmpty) {
      if (!cohortDay.exists()) {
        // (Re-)cohorting: MapState TTL is per-entry, so recently-touched
        // weeksSeen entries can outlive an expired cohortDay — left in
        // place they'd collide with the NEW cohort's offsets and
        // silently suppress its hits. A fresh cohort starts clean.
        weeksSeen.clear()
        cohortDay.update(weekStartEpochDay(sorted.head.ts.getTime))
      }
      val cohort = cohortDay.get()
      // Rewrite on every batch of arrivals (not only the first event) so
      // TTL measures INACTIVITY: a continuously-active entity never
      // expires mid-life and never gets spuriously re-cohorted.
      cohortDay.update(cohort)
      sorted.foreach { e =>
        val wk = weekStartEpochDay(e.ts.getTime)
        val offset = (wk - cohort) / 7
        if (wk >= cohort) {
          // test-then-REWRITE: MapState TTL is per-entry, so the current
          // week's entry must be refreshed by every arrival or a
          // continuously-active entity would see it expire mid-week and
          // re-emit a duplicate hit for an already-emitted offset
          val dup = weeksSeen.containsKey(offset)
          weeksSeen.updateValue(offset, true)
          if (!dup)
            out += CohortHit(entity,
              java.sql.Date.valueOf(LocalDate.ofEpochDay(cohort)), offset)
        }
      }
    }
    out.result().iterator
  }
}

object StreamingCohort {

  /** Cohort-activity stream (same column contract as
    * [[StreamingFunnel.stageHits]]; typeCol unused but kept for the shared
    * event shape). Requires the RocksDB provider.
    */
  def hits(spark: SparkSession, events: DataFrame, entityCol: String,
      tsCol: String, tieCol: String, ttlMs: Long = 0L): Dataset[CohortHit] = {
    import spark.implicits._
    val zone = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    events.select(
        events(entityCol).cast("long").as("entity"),
        lit("").as("event_type"),
        events(tsCol).as("ts"),
        events(tieCol).cast("long").as("tie"))
      .as[FunnelEvent]
      .groupByKey(_.entity)
      .transformWithState(new CohortProcessor(zone, ttlMs),
        if (ttlMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append(), Encoders.product[CohortHit])
  }
}
