package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Query-surface plumbing shared by the query groups.
  *
  * Oracle-parity rules (the driver hash-compares against DuckDB on the same
  * parquet, see Verify.scala):
  *  - every output column is explicitly aliased, identically on both sides;
  *  - every query ends in a total ORDER BY (unique tie-breaker included);
  *  - double aggregation is done exactly: cast to DECIMAL(12,2) -> exact
  *    decimal sum -> one final CAST AS DOUBLE (identical IEEE result in any
  *    engine and any partitioning — floating sums would differ per run);
  *  - averages are CAST(sum_dec AS DOUBLE) / count (one IEEE division);
  *  - hashes are md5-derived integer arithmetic (portable), never
  *    engine-native hash functions.
  */
object Q {
  type Fn = (SparkSession, String) => DataFrame

  /** One declared query: the Spark implementation + its DuckDB oracle SQL
    * (None -> driver falls back to a rows-only check).
    */
  final case class Def(fn: Fn, oracle: Option[String])

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (no native Spark
      // type — read the raw int64 nanos and floor-truncate to micros, exactly
      // what DuckDB does) and as native TIMESTAMP(MICROS) without the UTC
      // flag (Spark infers TIMESTAMP_NTZ). Normalize both to TimestampType
      // micros: the session TZ is pinned UTC, so the NTZ wall-clock IS the
      // UTC instant and every downstream query sees one stable type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Exact money arithmetic: DECIMAL(12,2) keeps products within both
    * engines' 38-digit cap (12+12 -> 25 digits, *3 -> 38).
    */
  def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Conditionally widen a NARROW batch input to the session's default
    * parallelism before a CPU-heavy narrow chain (the spanFingerprints
    * move, guide §2.5 "one unsplittable input → repartition right after
    * the read"): a single-file source otherwise serializes the whole
    * map chain into ONE task. At scale the scan already carries ≥
    * defaultParallelism partitions and this adds nothing. Only for
    * chains whose semantics are partition-independent (stateless maps +
    * keyed shuffles) — NOT for the PgOutput decode family, whose
    * relation registry is per-partition by design.
    */
  def wide(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (!df.isStreaming && df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  /** Recursive on-disk size of a staged stream-input directory — the
    * input-size hint [[withStreamParts]] derives its partition count
    * from.
    */
  def dirBytes(path: String): Long = {
    def rec(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(rec).sum
      else f.length()
    rec(new java.io.File(path))
  }

  /** Run a bounded streaming job with a state-partition count derived
    * from its INPUT SIZE instead of the session width, scoped to `body`
    * by [[graft.ops.SessionConf.scoped]].
    *
    * Stateful streaming latches `spark.sql.shuffle.partitions` into the
    * checkpoint at the first batch, and every stateful operator then
    * pays per-partition state-store machinery (provider load, delta
    * write, snapshot bookkeeping, commit fsync) on EVERY micro-batch of
    * every partition — cost proportional to the partition count, not
    * the data. A bounded query stream therefore sizes its state by its
    * input bytes (the live pipeline, `tools.Main`, runs at the core
    * count instead: one wave per trigger): measured here, a 3-batch
    * stream-stream interval join over ~2 MB of input spent ~100 s of
    * cumulative task time on 32 partitions and ~5 s on 4, identical
    * results. One 64 MB-of-input-per-partition target (a
    * floor of 4 for probe-side parallelism, capped by the session
    * setting so a production session's width is never exceeded) makes
    * the shape scale-adaptive: at 100 TB the hint exceeds cores and the
    * session value wins; at bench scale the state machinery stops
    * dominating. AQE cannot do this for us — stateful plans bypass it.
    */
  def withStreamParts[T](spark: SparkSession, inputBytes: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val target = math.min(spark.conf.get(key).toLong,
      math.max(4L, (inputBytes + (64L << 20) - 1) / (64L << 20)))
    graft.ops.SessionConf.scoped(spark, key -> target.toString)(body)
  }

  /** `df` cut into `n` ordered slices on contiguous ranges of `idCol`
    * that split [0, maxId] evenly: a gate's usual input slices. */
  def idSlices(df: DataFrame, idCol: String, n: Int, maxId: Long): Seq[DataFrame] =
    (0 until n).map { k =>
      df.filter(col(idCol).between(if (k == 0) 0L else k * maxId / n + 1,
        (k + 1) * maxId / n))
    }

  /** [[idSlices]] up to the largest `idCol` in `df`. */
  def idSlices(df: DataFrame, idCol: String, n: Int): Seq[DataFrame] =
    idSlices(df, idCol, n, df.agg(max(col(idCol))).head().getLong(0))

  /** Ordered slices staged as files: slice i is the one file under
    * `$dir/s$i`, with a forced mtime that strictly increases with i. */
  final case class Staged(dir: String, schema: StructType, format: String) {

    /** The slices as a file stream admitting `filesPerTrigger` files per
      * micro-batch, in mtime order: with the default 1, slice i is
      * micro-batch i. */
    def stream(spark: SparkSession, filesPerTrigger: Int = 1): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toLong)
        .format(format).load(s"$dir/s*")

    /** On-disk size: the input-size hint for [[withStreamParts]]. */
    def bytes: Long = dirBytes(dir)
  }

  /** Write `slices` in order under `dir` as parquet or json, one
    * `coalesce(1)` file each, for a gate's file stream to replay. */
  def stage(slices: Seq[DataFrame], dir: String, format: String = "parquet"): Staged = {
    slices.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.format(format).save(s"$dir/s$i")
      new java.io.File(s"$dir/s$i").listFiles()
        .foreach(f => { f.setLastModified(1700000000000L + i * 60000L); () })
    }
    Staged(dir, slices.head.schema, format)
  }

  /** One call of a stream gate: a bounded streaming query the surface
    * runs to completion inside a query function, on state of its own.
    *
    * `dir` holds what the gate reads after its queries stop (sink
    * output, state tables); it lives until the JVM exits, since the
    * returned frame reads it lazily. Checkpoints and the slices staged
    * through [[stage]] go to a scratch dir that [[streamGate]] releases
    * when the gate returns. Every call gets fresh dirs: a checkpoint
    * kept across calls would make a second call resume a finished query
    * and run no micro-batch at all.
    */
  final class Gate private[Q] (tag: String) {
    lazy val dir: String = TempDirs.workDir(tag).toString
    private[Q] val scratch = TempDirs.workDir(tag + "_scratch")
    private var fresh = 0
    private def next(name: String): String = { fresh += 1; s"$scratch/$name$fresh" }

    /** The one trigger every gate query runs on, and must: the query
      * takes what is staged when it starts, still one file per
      * micro-batch, runs any no-data batch its watermark needs, and
      * stops itself, which is what [[run]] waits for. */
    val trigger: Trigger = Trigger.AvailableNow()

    /** Stage per-call parquet slices (see [[Q.stage]]) in the scratch dir. */
    def stage(slices: Seq[DataFrame]): Staged = Q.stage(slices, next("in"))

    /** Start a query on a fresh checkpoint (passed to `start`) and
      * [[trigger]], wait until it has drained its input, and stop it. */
    def run(start: String => StreamingQuery): Unit = {
      val q = start(next("ckpt"))
      try q.awaitTermination() finally q.stop()
    }
  }

  /** Run `body` on a fresh [[Gate]], then release its scratch dir. */
  def streamGate[T](tag: String)(body: Gate => T): T = {
    val g = new Gate(tag)
    try body(g) finally TempDirs.release(g.scratch)
  }
}
