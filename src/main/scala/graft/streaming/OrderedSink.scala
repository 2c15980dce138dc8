package graft.streaming

import java.util.UUID

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Ordered, idempotent batch sink (reference E2/E6:
  * internal/engine/engine.go:447-534, internal/publisher/jetstream.go).
  *
  * The reference serializes publishes per subject and acks one-by-one to
  * preserve CDC order through retries. The Spark restatement:
  *  - repartition by `subject` so each subject's events land in a single
  *    task (per-key order is preservable; global order would need one
  *    partition — the documented trade-off, SURVEY.md §7.4.1);
  *  - sortWithinPartitions (subject, lsn, seq-bearing event_id) so rows are
  *    written in commit order per subject;
  *  - write under `batch_id=<id>` through [[ParquetBatchWriter]], whose
  *    commit replaces an earlier `batch_id=<id>`: re-running a failed
  *    micro-batch (at-least-once redelivery) replaces rather than appends —
  *    the sink-side idempotence the reference gets from Nats-Msg-Id dedup
  *    (E7). A Kafka-backed deployment would instead use the idempotent
  *    producer with max.in.flight=1 per partition.
  */
object OrderedSink {

  import org.apache.spark.sql.Column

  /** Numeric WAL position from the canonical `X/Y` lower-hex rendering.
    * Sorting on the hex STRING is not numeric order for variable-width hex
    * ('2' > '10' lexicographically), so within a transaction (equal
    * commit_time) rows could be written out of WAL order whenever the hex
    * digit count changes. Decoding back to the 64-bit position restores
    * true commit order without widening the normalize schema.
    */
  private[graft] def lsnNumeric(lsn: Column): Column =
    conv(split(lsn, "/").getItem(0), 16, 10).cast(LongType) * lit(4294967296L) +
      conv(split(lsn, "/").getItem(1), 16, 10).cast(LongType)

  /** seq_in_tx from the event-id tail (`lsn:txid:op:schema.table:seq`) —
    * decimal, so the string form of the id does not sort numerically either.
    */
  private[graft] def seqNumeric(eventId: Column): Column =
    element_at(split(eventId, ":"), -1).cast(LongType)

  /** The batch as subject partitions in commit order: the shape both the
    * parquet sink and the broker publish loops consume.
    */
  private[graft] def inCommitOrder(batch: DataFrame, numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else batch.sparkSession.sessionState.conf.numShufflePartitions
    batch
      .repartition(parts, col("subject"))
      .sortWithinPartitions(col("subject"), col("commit_time"),
        lsnNumeric(col("lsn")), seqNumeric(col("event_id")))
  }

  /** One Spark job over the batch's partitions, as one SQL execution: `f`
    * gets each partition's index and rows and returns what it did. The
    * sinks' published counts are these return values, so counting adds
    * no job.
    */
  private[graft] def eachPartition[T: ClassTag](batch: DataFrame, name: String)(
      f: (Int, Iterator[InternalRow]) => T): Array[T] = {
    val qe = batch.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitionsWithIndex((i, rows) => Iterator(f(i, rows))).collect()
    }
  }

  /** Write one batch in commit order; returns the rows written. */
  def writeBatch(batch: DataFrame, batchId: Long, outPath: String,
      numPartitions: Int = 0): Long =
    new ParquetBatchWriter(outPath).write(inCommitOrder(batch, numPartitions), batchId)
}

/** Explicitly-unsafe unordered publish (reference E3:
  * `UNSAFE_UNORDERED_ASYNC_PUBLISH`, internal/engine/engine.go:539-661).
  *
  * The reference's unordered path publishes the whole batch async and
  * retries ONLY the failed items, so later events can commit before
  * earlier failed ones — maximum throughput, no order guarantee. The
  * Spark restatement drops the subject repartition and the in-partition
  * sort entirely: every input partition writes concurrently with no
  * shuffle, and Spark's task-level retry re-executes only failed
  * partitions (the retry-only-failed semantics at partition granularity)
  * while the [[ParquetBatchWriter]] commit keeps redelivered batches
  * idempotent via the `batch_id=` replace. Opt-in only —
  * [[CdcStream.start]] selects it from the same config flag name the
  * reference uses.
  */
object UnorderedSink {

  /** Write one batch as its partitions stand; returns the rows written. */
  def writeBatch(batch: DataFrame, batchId: Long, outPath: String): Long =
    new ParquetBatchWriter(outPath).write(batch, batchId)
}

/** The parquet sink's writer, one per query.
  *
  * Spark's `DataFrameWriter.parquet` puts a serialized copy of the whole
  * session Hadoop configuration into every write task, and each task
  * spends tens of milliseconds reading it back. This writer prepares that
  * configuration the way Spark's parquet source does
  * (`ParquetUtils.prepareWrite`: write support, schema, codec, timestamp
  * type) at its first batch, and broadcasts it once; tasks share the one
  * copy their JVM holds.
  *
  * A batch is one job. Each non-empty partition writes one file, named
  * as Spark names it (`part-<split>-<uuid>-c000.<codec>.parquet`), into
  * a staging directory of its own write attempt,
  * `<out>/_staging/batch_id=<id>/<uuid>` (Spark's partition discovery
  * skips names starting with `_`). When every task has finished, the
  * driver replaces any earlier `batch_id=<id>` with the attempt's
  * directory and writes `_SUCCESS` into it. A failed attempt deletes its
  * staging directory, so `batch_id=<id>` only ever holds a whole attempt.
  */
final class ParquetBatchWriter(outPath: String) {

  private var shipped: ParquetBatchWriter.Shipped = _

  /** The prepared conf for this schema: built once, at the first batch. */
  private[graft] def shippedFor(batch: DataFrame): ParquetBatchWriter.Shipped = {
    if (shipped == null || shipped.schema != batch.schema)
      shipped = ParquetBatchWriter.ship(batch)
    shipped
  }

  /** Write `batch` as `batch_id=<batchId>`, replacing an earlier one;
    * returns the rows written.
    */
  def write(batch: DataFrame, batchId: Long): Long = {
    val task = shippedFor(batch)
    val out = new Path(outPath)
    val fs = out.getFileSystem(task.conf.value.value)
    val staging = new Path(out, s"_staging/batch_id=$batchId")
    val attempt = UUID.randomUUID().toString
    val attemptDir = new Path(staging, attempt)
    val target = new Path(out, s"batch_id=$batchId")
    try {
      val rows = OrderedSink.eachPartition(batch, s"graft sink batch $batchId")(
        task.writer(attemptDir.toString, attempt)).sum
      fs.delete(target, true)
      if (!fs.exists(attemptDir)) fs.mkdirs(target) // no partition had rows
      else if (!fs.rename(attemptDir, target))
        throw new java.io.IOException(s"could not rename $attemptDir to $target")
      fs.create(new Path(target, "_SUCCESS"), true).close()
      fs.delete(staging, true)
      rows
    } catch {
      case e: Throwable =>
        fs.delete(attemptDir, true)
        throw e
    }
  }
}

object ParquetBatchWriter {

  /** What a write task needs: the schema, Spark's parquet writer factory
    * and the broadcast job conf. Small enough to ship with every task.
    */
  final case class Shipped(schema: StructType, factory: OutputWriterFactory,
      extension: String, conf: Broadcast[SerializableConfiguration]) {

    /** The task function of one write attempt into `dir`: write the
      * partition's rows to one file, or none when it has no rows.
      */
    def writer(dir: String, attempt: String): (Int, Iterator[InternalRow]) => Long =
      (split, rows) => if (!rows.hasNext) 0L else {
        val tc = TaskContext.get()
        // a task's own copy: writers may set keys on the conf they get
        val ctx = new TaskAttemptContextImpl(new Configuration(conf.value.value),
          new TaskAttemptID("graft", tc.stageId(), TaskType.MAP, split, tc.attemptNumber()))
        val path = f"$dir/part-$split%05d-$attempt-c000$extension"
        val w = factory.newInstance(path, schema, ctx)
        var n = 0L
        try {
          rows.foreach { r => w.write(r); n += 1 }
          w.close()
        } catch {
          case e: Throwable =>
            try w.close() catch { case c: Throwable => e.addSuppressed(c) }
            val p = new Path(path)
            p.getFileSystem(ctx.getConfiguration).delete(p, false)
            throw e
        }
        n
      }
  }

  /** Prepare and broadcast the job conf for `batch`'s schema, from the
    * session's Hadoop conf (so `fs.file.impl` and friends carry over).
    */
  private def ship(batch: DataFrame): Shipped = {
    val spark = batch.sparkSession
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, batch.schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val conf = job.getConfiguration
    val extension = factory.getFileExtension(
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    Shipped(batch.schema, factory, extension,
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)))
  }
}
