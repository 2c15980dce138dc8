package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace records, written out once when their producer ends. */
object TraceSink {
  /** Trigger progress JSON, kept here so whichever listener sees the end
    * first (query termination or application end) can write it. */
  val progress = mutable.ArrayBuffer.empty[String]

  def flushProgress(): Unit = progress.synchronized { write("progress.jsonl", progress) }

  private def dir: File = new File(sys.props.getOrElse("perfbench.trace.dir", "trace"))

  def write(name: String, lines: Iterable[String]): Unit = {
    dir.mkdirs()
    Files.write(new File(dir, name).toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Streaming layer trace, attached to `graft.tools.Main` from outside via
  * `-Dspark.sql.streaming.streamingQueryListeners`: keeps every trigger's
  * progress (durations, source rows, state operators) and writes them as
  * JSON lines to `progress.jsonl` when the query terminates or the
  * application ends, whichever comes first. */
class StreamTraceListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    TraceSink.progress.synchronized { TraceSink.progress += e.progress.json.replace("\n", " ") }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    TraceSink.flushProgress()
}

/** Execution layer trace, attached via `-Dspark.extraListeners`: one record
  * per job (start, micro-batch id, stage ids) and per completed stage
  * (RDD scope names, task count, summed task metrics), written to
  * `jobs.jsonl` / `stages.jsonl` when the application ends. */
class TraceListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
    jobStart(e.jobId) = (e.time, batch, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, batch, stageIds) =>
      jobs += Json(Map("start" -> t0, "batch" -> batch, "stages" -> stageIds))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val scopes = s.rddInfos.flatMap(_.scope.map(_.name)).distinct
    stages += Json(Map(
      "stage" -> s.stageId, "scopes" -> scopes, "tasks" -> s.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = flush()

  def flush(): Unit = synchronized {
    TraceSink.write("jobs.jsonl", jobs)
    TraceSink.write("stages.jsonl", stages)
    TraceSink.flushProgress()
  }
}
