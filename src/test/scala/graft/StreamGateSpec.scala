package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** Every stream gate of the query surface does its full work on every
  * call. Each gate is called twice in one fresh session: both calls must
  * run at least one micro-batch that reads input rows, and both must
  * return the same rows. A gate that kept its checkpoint across calls
  * would restart a finished query on the second call, run no batch, and
  * still return the first call's rows, so the rows alone cannot pin this.
  */
class StreamGateSpec extends SparkSpec {

  private val gates = Seq(
    "c29_scd2_streaming", "c30_mv_streaming", "c31_scd2_asof",
    "c32_scd2_asof_outofband", "l78_windowed_dedup_streaming",
    "l79_streaming_index_neardup", "l82_tiered_index_compaction",
    "l84_ann_index_lifecycle", "l88_streaming_cluster_maintenance",
    "l90_cluster_takedown", "l92_bm25_maintained", "l109_streaming_drift",
    "l111_cube_maintained", "l114_stream_funnel", "l115_stream_transitions",
    "l116_stream_cohort", "l117_stream_metric_series",
    "l118_quantile_cube_maintained", "l119_stream_stream_join",
    "l120_stream_join_outer", "l124_streaming_cluster_assign",
    "l134_streaming_url_admission", "l138_maintained_centroids",
    "l139_centroid_drift", "l140_maintained_epoch2",
    "l141_streaming_tokenize", "l148_streaming_span_index")

  /** Counts the session's started and terminated queries, its
    * micro-batches, and those of them that read input rows. */
  private final class Batches extends StreamingQueryListener {
    val started, terminated, batches, dataBatches = new AtomicInteger
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      started.incrementAndGet(); ()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
      ()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.incrementAndGet(); ()
    }
  }

  /** Bytes under the temp roots the gates stage and checkpoint into. */
  private def tmpBytes(): Long =
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).toSeq
      .flatten.filter(_.getName.startsWith("graft_"))
      .map(f => graft.queries.Q.dirBytes(f.getPath)).sum

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  gates.foreach { name =>
    test(s"$name does its full work on each of two calls in one session") {
      val fn = SparkEntry.all(name).fn
      val listener = new Batches
      session.streams.addListener(listener)
      try {
        def call(n: Int): Seq[Row] = {
          val (b0, d0) = (listener.batches.get, listener.dataBatches.get)
          val bytes0 = tmpBytes()
          val t0 = System.nanoTime()
          val rows = fn(session, sf0001).collect().toSeq
          val wall = (System.nanoTime() - t0) / 1e9
          // progress events reach the listener asynchronously; each
          // query's terminated event follows its last progress event
          val deadline = System.nanoTime() + 60000000000L
          while (listener.terminated.get < listener.started.get &&
            System.nanoTime() < deadline) Thread.sleep(20)
          val (b, d) = (listener.batches.get - b0, listener.dataBatches.get - d0)
          info(f"$name call $n: $d data batches of $b, $wall%.1f s, " +
            s"${tmpBytes() - bytes0} temp bytes kept")
          assert(d >= 1, s"$name call $n ran no micro-batch with input rows")
          rows
        }
        val first = call(1)
        val second = call(2)
        assert(first.nonEmpty, s"$name returned no rows")
        assert(first == second, s"$name returned different rows on its second call")
      } finally session.streams.removeListener(listener)
    }
  }
}
