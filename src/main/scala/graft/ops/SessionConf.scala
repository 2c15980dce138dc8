package graft.ops

import org.apache.spark.sql.SparkSession

/** The one place that changes session confs for a stretch of work.
  *
  * Library operators narrow the shuffle width of small iterative
  * sections, and streaming harnesses pick a state-store provider; both
  * change the SHARED session, so both must hand it back exactly as they
  * found it. [[scoped]] is that save/set/restore, [[narrowed]] the one
  * width/AQE policy built on it.
  */
object SessionConf {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val Adaptive = "spark.sql.adaptive.enabled"

  /** Run `body` with `settings` applied, then undo them in reverse order,
    * also when `body` throws. A key that had an explicit value gets that
    * value back; a key that had none is unset again. The snapshot reads
    * `conf.getAll` (explicit settings only): `conf.getOption` answers an
    * unset key with its default, and writing that back would leave the
    * key set. Scopes nest: an inner scope restores to the outer's values.
    */
  def scoped[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    var undo = List.empty[() => Unit]
    try {
      for ((key, value) <- settings) {
        val before = explicit.get(key)
        spark.conf.set(key, value)
        undo ::= (() => before.fold(spark.conf.unset(key))(spark.conf.set(key, _)))
      }
      body
    } finally undo.foreach(_())
  }

  /** Run `body` at a shuffle width sized to `rows`: one partition per
    * `rowsPerPartition` rows, never wider than the session's width, so
    * the partitioning scales with the data. Inside, the session's
    * `spark.sql.shuffle.partitions` IS the derived width. Below the
    * session width the frames are known-small, so AQE goes off as well:
    * its per-exchange materialization (one job plus a driver replan per
    * shuffle stage) is pure fixed latency on a chain of tiny joins. At
    * corpus scale the width hits the session cap and both width and AQE
    * (skew handling) stay as they are.
    */
  def narrowed[T](spark: SparkSession, rows: Long, rowsPerPartition: Long)(body: => T): T = {
    val session = spark.conf.get(ShufflePartitions).toLong
    val width = math.min(session, rows / rowsPerPartition + 1L)
    val aqe = if (width < session) Seq(Adaptive -> "false") else Nil
    scoped(spark, (ShufflePartitions -> width.toString) +: aqe: _*)(body)
  }
}
