package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CDC apply — the MERGE shape (reference readme "Delivery semantics":
  * consumers materialize the stream into table state; SURVEY E7 names
  * Delta/Iceberg `MERGE` on `event_id` as the Spark analog — this is that
  * operator without the table format).
  *
  * Folds a change batch onto a base table state, per key:
  *  - the highest-WAL-position change wins (WAL order, not arrival order),
  *  - a winning DELETE removes the key,
  *  - a winning INSERT/UPDATE replaces the row image,
  *  - keys the batch never touches keep their base image.
  *
  * Scale shape: the ranking window runs over the CHANGE BATCH only (small
  * relative to the table), then one key-partitioned full-outer join against
  * the base. At 100 TB keep the base bucketed on the key (see
  * `ops/DedupIndex` for the pattern) so only the batch shuffles; the base
  * side reads co-located.
  */
object Apply {

  /** `base`: one row per key, row image under `baseImage`
    * (map<string,string>). `changes`: normalized envelope rows carrying
    * `operation`, an image column (`after`; null for DELETEs) and a
    * numeric WAL-order column `seq`. Returns keys + `image`.
    */
  def applyChanges(base: DataFrame, baseImage: Column, changes: DataFrame,
      changeImage: Column, seq: Column, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table key")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("_seq").desc)
    val winner = changes
      .select(keys :+ col("operation").as("_op") :+ changeImage.as("_new")
        :+ seq.as("_seq"): _*)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn", "_seq")
    base.select(keys :+ baseImage.as("_base"): _*)
      .join(winner, keyCols, "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "DELETE")
      .select(keys :+ coalesce(col("_new"), col("_base")).as("image"): _*)
  }

  /** The inverse of [[applyChanges]]: diff two table versions into a CDC
    * change set — INSERT for keys only in `newDf`, DELETE for keys only in
    * `oldDf`, UPDATE where both exist and the image changed; unchanged
    * keys emit nothing. This is the backfill / bootstrap-without-a-slot
    * move: two consistent snapshots stand in for the WAL between them.
    *
    * Images are compared as canonical JSON (Spark cannot order/compare
    * map columns directly; both images must be built with a deterministic
    * key order, as every producer in this codebase does). One
    * key-partitioned full-outer join, no window. Output: keys, operation,
    * before, after.
    */
  /** Net-change compaction: collapse a batch's per-key change SEQUENCE to
    * the minimal equivalent change SET before shipping it downstream —
    * the standard pre-aggregation in CDC fan-out (a row inserted and
    * deleted inside one batch never leaves the pipeline; ten updates
    * become one). Per key, with ops in WAL order:
    *
    *  - first INSERT … last DELETE  → nothing (net no-op)
    *  - first INSERT … last other   → one INSERT with the final image
    *  - first other  … last DELETE  → one DELETE
    *  - otherwise                   → one UPDATE with the final image
    *
    * Sound when the batch is a contiguous WAL slice over consistent base
    * state (a key's first in-batch op being UPDATE/DELETE implies the row
    * pre-existed). ONE map-side-combinable aggregation — min_by/max_by
    * partials, a single shuffle on the key, no window sort.
    *
    * Output: key columns + (net_op, last_image, n_changes); last_image is
    * null for DELETE.
    */
  def netChanges(changes: DataFrame, keyCols: Seq[Column], opCol: Column,
      orderCol: Column, imageCol: Column): DataFrame =
    changes.groupBy(keyCols: _*)
      .agg(
        min_by(opCol, orderCol).as("_first_op"),
        max_by(opCol, orderCol).as("_last_op"),
        max_by(imageCol, orderCol).as("_last_image"),
        count(lit(1)).as("n_changes"))
      .withColumn("net_op",
        when(col("_first_op") === "INSERT" && col("_last_op") === "DELETE",
          lit(null).cast("string"))
          .when(col("_first_op") === "INSERT", lit("INSERT"))
          .when(col("_last_op") === "DELETE", lit("DELETE"))
          .otherwise(lit("UPDATE")))
      .filter(col("net_op").isNotNull)
      .withColumn("last_image",
        when(col("net_op") === "DELETE", lit(null).cast("string"))
          .otherwise(col("_last_image")))
      .drop("_first_op", "_last_op", "_last_image")

  /** SCD Type-2 history materialization: turn a key's CDC change sequence
    * into versioned rows with validity intervals — the standard
    * warehouse-side consumer of a CDC stream (each change opens a version,
    * the key's next change closes it, DELETE closes without opening).
    *
    * Per key, with changes in WAL order (`orderCol`):
    *  - every non-DELETE change emits one version row: `image`,
    *    `valid_from` = its own order value, `valid_to` = the NEXT change's
    *    order value (whatever its verb — an UPDATE supersedes, a DELETE
    *    terminates), null when no later change exists;
    *  - a DELETE emits nothing but still closes its predecessor (it
    *    participates in the lead() before being filtered);
    *  - `is_current` marks open-ended versions (a key whose last change is
    *    DELETE has none).
    *
    * Scale shape: ONE shuffle on the key for the lead() window, no join —
    * the history table appends per batch; at 100 TB run it per change
    * batch against net-changed keys (compose with [[netChanges]]) rather
    * than over full history.
    */
  def scd2(changes: DataFrame, keyCols: Seq[String], opCol: Column,
      orderCol: Column, imageCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table key")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("valid_from"))
    changes
      .select(keys :+ opCol.as("_op") :+ orderCol.as("valid_from")
        :+ imageCol.as("image"): _*)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("_op") =!= "DELETE")
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_op")
  }

  /** Incremental [[scd2]]: fold a NEW change batch onto an existing
    * history table — the per-batch production path (never re-window full
    * history at scale):
    *
    *  - keys the batch touches have their open version closed at the
    *    batch's FIRST change position;
    *  - the batch's own versions come from [[scd2]] over the batch alone
    *    (intra-batch versions preserved — this is not net-change
    *    compaction);
    *  - untouched keys pass through.
    *
    * Sound under the same precondition as [[netChanges]]: the batch is a
    * contiguous WAL slice strictly after the history's horizon.
    * Guarantees `scd2Apply(scd2(prefix), suffix) == scd2(prefix ++
    * suffix)` exactly (ApplySpec property). Scale shape: one aggregation
    * over the batch keys + one key-partitioned join against history
    * (bucket history on the key so only the batch shuffles) + append.
    */
  def scd2Apply(history: DataFrame, changes: DataFrame, keyCols: Seq[String],
      opCol: Column, orderCol: Column, imageCol: Column): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table key")
    val keys = keyCols.map(col)
    val batchVers = scd2(changes, keyCols, opCol, orderCol, imageCol)
    val firsts = changes.groupBy(keys: _*)
      .agg(min(orderCol).as("_batch_first"))
    history.join(firsts, keyCols, "left")
      .withColumn("valid_to",
        when(col("_batch_first").isNotNull && col("is_current"),
          col("_batch_first")).otherwise(col("valid_to")))
      .withColumn("is_current",
        col("is_current") && col("_batch_first").isNull)
      .drop("_batch_first")
      .unionByName(batchVers)
  }

  def diff(oldDf: DataFrame, oldImage: Column, newDf: DataFrame,
      newImage: Column, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table key")
    val keys = keyCols.map(col)
    val o = oldDf.select(keys :+ oldImage.as("_old"): _*)
    val n = newDf.select(keys :+ newImage.as("_new"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("operation",
        when(col("_old").isNull, "INSERT")
          .when(col("_new").isNull, "DELETE")
          .when(to_json(col("_old")) =!= to_json(col("_new")), "UPDATE"))
      .filter(col("operation").isNotNull)
      .select(keys :+ col("operation")
        :+ col("_old").as("before") :+ col("_new").as("after"): _*)
  }
}
