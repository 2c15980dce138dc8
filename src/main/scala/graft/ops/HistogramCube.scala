package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable quantile cube: fixed-width integer histograms per slice —
  * the percentile companion to [[SketchCube]]'s distinct counts.
  *
  * Exact percentiles need a sort per question; sketch percentiles
  * (GK/KLL) are mergeable but engine-specific. A fixed-width histogram
  * over an integer measure is BOTH: merge/rollup is count addition
  * (associative, exact — a shard-merged cube is bit-identical to the
  * whole-corpus cube), and the quantile estimate is deterministic
  * integer arithmetic (ceil-rank into the cumulative counts + uniform
  * in-bucket interpolation, max error = one bucket width — a LAYOUT
  * choice, not a probabilistic bound). That makes the estimates
  * oracle-reproducible bit-for-bit in DuckDB, unlike any sketch.
  *
  * Scale shape: one fact scan partial-aggregates into ≤ #slices ×
  * #buckets rows; every later quantile question is a window cumsum over
  * the CUBE (tiny), and increments land by count addition — the same
  * no-rescan discipline as the HLL cube. The quantile step broadcasts
  * the requested q-list; the fact is never re-read or sorted.
  */
object HistogramCube {

  /** Exact floor division for non-negative BIGINTs — decimal-exact (no
    * double rounding above 2^53), identical semantics to SQL `div` on
    * the non-negative domain used here.
    */
  private def floorDiv(a: Column, b: Column): Column =
    floor(a.cast("decimal(38,0)").divide(b.cast("decimal(19,0)")))
      .cast("bigint")

  /** One pass over the fact: `(dims..., bucket, n)` where bucket =
    * value div bucketWidth (integer floor). `valueCol` must be integral
    * and non-negative (cents, not dollars — the caller picks the
    * exactness unit).
    */
  def build(fact: DataFrame, dims: Seq[String], valueCol: Column,
      bucketWidth: Long): DataFrame =
    fact.groupBy((dims.map(col) :+
        floorDiv(valueCol.cast("bigint"), lit(bucketWidth)).as("bucket")): _*)
      .agg(count(lit(1)).as("n"))

  /** Roll up to a coarser dim subset: counts add — exact at any grain. */
  def rollup(cube: DataFrame, dims: Seq[String]): DataFrame =
    cube.groupBy((dims.map(col) :+ col("bucket")): _*)
      .agg(sum(col("n")).as("n"))

  /** Merge an increment cube into a base cube (same grain). */
  def merge(base: DataFrame, increment: DataFrame, dims: Seq[String]): DataFrame =
    rollup(base.unionByName(increment), dims)

  /** Quantile estimates off the cube, one row per (dims, q_pct):
    * ceil-rank into the per-slice cumulative counts, then uniform
    * interpolation inside the holding bucket — all BIGINT arithmetic,
    * `est = bucket*W + ((rank - cum_below) * W) div bucket_n`.
    */
  def quantiles(cube: DataFrame, dims: Seq[String], bucketWidth: Long,
      qPcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDims = Window.partitionBy(dims.map(col): _*)
    val cum = cube
      .withColumn("cum", sum(col("n")).over(byDims.orderBy(col("bucket"))))
      .withColumn("total", sum(col("n")).over(byDims))
    val qs = qPcts.map(q => struct(lit(q).as("q_pct"))) // tiny literal frame
    cum.select((dims.map(col) ++ Seq(col("bucket"), col("n"), col("cum"),
        col("total"), explode(array(qs: _*)).as("qr"))): _*)
      .withColumn("q_pct", col("qr.q_pct")).drop("qr")
      // ceil(total * q / 100), clamped to >= 1
      .withColumn("rank",
        greatest(floorDiv(col("total") * col("q_pct") + lit(99L), lit(100L)),
          lit(1L)))
      .filter(col("cum") - col("n") < col("rank") && col("rank") <= col("cum"))
      .select((dims.map(col) :+ col("q_pct").cast("bigint").as("q_pct") :+
        (col("bucket") * lit(bucketWidth) +
          floorDiv((col("rank") - (col("cum") - col("n"))) * lit(bucketWidth),
            col("n"))).as("est")): _*)
  }

  // ---------- maintained lifecycle (count-addition folds) ----------

  /** STREAMING maintenance — the quantile twin of
    * [[SketchCube.startMaintenance]]: each micro-batch pre-aggregates to
    * its own histogram (≤ #slices × #buckets rows) and lands through the
    * replay-idempotent partition protocol. Serve-time results are
    * independent of land/fold state: count addition is associative, so
    * any partition layout sums to the same cube.
    */
  def startMaintenance(spark: SparkSession, fact: DataFrame,
      dims: Seq[String], valueCol: String, bucketWidth: Long, name: String,
      checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    fact.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val cube = build(batch.toDF(), dims, col(valueCol), bucketWidth)
          .withColumn("ingest_batch", lit(batchId))
        DedupIndex.landBatch(s, spark, cube, name, batchId,
          bucketed = false, buckets = 8)
      }.start()

  /** Size-tiered compaction with count-addition row compression — the
    * second instantiation of the generic `foldAgg` hook (the first is
    * the HLL register-union in [[SketchCube.compactMaintained]]): a fold
    * of M batch partials is ≤ #slices × #buckets rows, not M× that.
    */
  def compactMaintained(spark: SparkSession, name: String,
      dims: Seq[String], tierFanout: Int = 8): Unit =
    DedupIndex.compactTable(spark, name, bucketed = false,
      bucketCol = "bucket_unused", buckets = 8, tierFanout,
      foldAgg = df => rollup(df, dims))

  /** Quantiles off the maintained cube at any rollup grain. */
  def serve(spark: SparkSession, name: String, dims: Seq[String],
      bucketWidth: Long, qPcts: Seq[Int]): DataFrame =
    quantiles(rollup(spark.table(name).drop("ingest_batch"), dims),
      dims, bucketWidth, qPcts)
}
