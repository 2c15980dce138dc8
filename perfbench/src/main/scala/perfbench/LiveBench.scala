package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One live workload run: a seeded WAL, the fake walsender, and the
  * deployment binary `graft.tools.Main` as its own process.
  *
  *   java perfbench.LiveBench --plugin wal2json|pgoutput --seed N
  *     --seconds S --trace 0|1 --work DIR --rate TX_PER_S
  *     --backlog CHANGES --cp MAIN_CLASSPATH
  *
  * Phases: set-up (launch until START_REPLICATION), catch-up (a backlog
  * sits in the slot at connect time), live (commits due at a fixed
  * open-loop rate from the moment the backlog is acked; lag is measured on
  * a window of `seconds` that starts `settle` seconds after that). Writes
  * `result.json` (timings) and `expected.jsonl` (every generated change
  * with the row images the sink must carry) into DIR; run.py checks the
  * sink against the latter.
  */
object LiveBench {

  // timeouts keep a stuck run well inside the 180 s a run may take
  private val settleSec = 5.0
  private val ackWaitSec = 20.0
  private val setupTimeoutSec = 50.0
  private val catchupTimeoutSec = 50.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plugin = opt("plugin")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val rate = opt("rate").toDouble
    val backlogChanges = opt("backlog").toInt
    work.mkdirs()

    val calib = Calibrate.run()

    // ---- the WAL: backlog, one transaction that never commits, live ----
    val gen = new WalGen(seed)
    val txs = scala.collection.mutable.ArrayBuffer.empty[Tx]
    var n = 0
    while (n < backlogChanges) { val t = gen.tx(); txs += t; n += t.changes.length }
    val lastBacklogCommit = txs.last.commitLsn
    txs += gen.tx(n = 50, committed = false)
    val backlogUnits = txs.size
    // enough live transactions to outlast settle, window and ack wait
    val liveCount = (rate * (seconds + settleSec + ackWaitSec + 10)).toInt
    (0 until liveCount).foreach(_ => txs += gen.tx())
    val units = txs.map(t => Render.unit(t, plugin, gen.stampOf(t))).toIndexedSeq
    val sender = new Walsender(units,
      if (plugin == "pgoutput") Render.relations else Map.empty, backlogUnits, rate)

    // ---- launch Main as an operator would ----
    val out = new File(work, "out"); val ck = new File(work, "checkpoint")
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val healthPort = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    // a pinned heap, as a container deployment sets it: G1's adaptive heap
    // sizing would make peak RSS vary by about 15% between runs, so peak
    // RSS is 2 GiB plus what Main holds outside the heap
    val javaCmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xms2g", "-Xmx2g", s"-Djava.io.tmpdir=$tmp") ++ Jvm.addOpens ++
      (if (trace) Seq(
        "-Dspark.extraListeners=perfbench.TraceListener",
        "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTraceListener",
        s"-Dperfbench.trace.dir=${new File(work, "trace")}")
      else Nil) ++ Seq("-cp", opt("cp"), "graft.tools.Main")
    val pb = new ProcessBuilder(javaCmd.asJava).directory(work)
      .redirectOutput(new File(work, "main.out")).redirectError(new File(work, "main.err"))
    val env = pb.environment()
    Map(
      "CDC_SOURCE" -> "socket",
      "CDC_PLUGIN" -> plugin,
      "DATABASE_URL" -> s"postgres://postgres@127.0.0.1:${sender.port}/postgres",
      "GRAFT_MODE" -> "sink",
      "GRAFT_OUT_DIR" -> out.toString,
      "GRAFT_CHECKPOINT_DIR" -> ck.toString,
      "SPARK_MASTER" -> s"local[${Runtime.getRuntime.availableProcessors}]",
      "SPARK_LOCAL_DIRS" -> tmp.toString,
      "HEALTH_ADDR" -> s"127.0.0.1:$healthPort").foreach { case (k, v) => env.put(k, v) }
    val launched = System.nanoTime()
    val main = pb.start()
    // Main must not outlive the benchmark, however the benchmark ends
    sys.addShutdownHook { if (main.isAlive) { main.destroyForcibly(); main.waitFor(); () } }
    var rssMb = 0.0
    var error = ""
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    def waitFor(timeoutSec: Double, what: String)(done: => Boolean): Boolean = {
      val t0 = System.nanoTime()
      while (!done && since(t0) < timeoutSec && main.isAlive) Thread.sleep(5)
      if (!done && error.isEmpty)
        error = s"$what: ${if (main.isAlive) "timed out" else "Main exited " + main.exitValue()}"
      done
    }
    def peakRss(): Double = try {
      Files.readAllLines(Paths.get(s"/proc/${main.pid}/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

    var catchupDone = -1L
    val commitLsns = txs.map(_.commitLsn).toArray
    try {
      waitFor(setupTimeoutSec, "START_REPLICATION")(sender.startReplicationAt > 0)
      waitFor(catchupTimeoutSec, "catch-up ack")(sender.confirmed >= lastBacklogCommit)
      catchupDone = LagBook.ackTimes(Array(lastBacklogCommit), sender.feedback).head
      if (catchupDone > 0) {
        val windowEnd = catchupDone + ((settleSec + seconds) * 1e9).toLong
        while (System.nanoTime() < windowEnd && main.isAlive) Thread.sleep(10)
        val lastWindow = (backlogUnits until units.size).takeWhile(i =>
          sender.dueAt(i) >= 0 && sender.dueAt(i) < windowEnd).lastOption
        lastWindow.foreach { i =>
          waitFor(ackWaitSec, "window acks")(sender.confirmed >= commitLsns(i))
        }
      }
      rssMb = peakRss()
    } finally {
      // a traced Main must shut down in order so its listeners write out;
      // otherwise stop at once (the sink check reads committed batches only)
      if (trace) main.destroy() else main.destroyForcibly()
      if (!main.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) {
        main.destroyForcibly(); main.waitFor()
      }
      sender.close()
    }

    // ---- timings ----
    val fb = sender.feedback
    val acks = LagBook.ackTimes(commitLsns, fb)
    val windowStart = catchupDone + (settleSec * 1e9).toLong
    val windowEnd = windowStart + (seconds * 1e9).toLong
    val window = (backlogUnits until units.size).filter { i =>
      val d = sender.dueAt(i); catchupDone > 0 && d >= windowStart && d < windowEnd
    }
    val lags = window.filter(acks(_) > 0).map(i => (acks(i) - sender.dueAt(i)) / 1e6)
    val late = window.filter(sender.sentAt(_) > 0).map(i => (sender.sentAt(i) - sender.dueAt(i)) / 1e6)
    val unackedWindow = window.filter(acks(_) < 0)
    // unacked commits (sent minus acked) sampled every 100 ms of the window
    val committedUnits = units.indices.filter(txs(_).committed)
    val sentTimes = committedUnits.map(sender.sentAt(_)).filter(_ > 0).sorted
    val ackTimes = committedUnits.map(acks(_)).filter(_ > 0).sorted
    def upTo(times: IndexedSeq[Long], t: Long): Int = times.search(t + 1).insertionPoint
    val samples = if (window.isEmpty) Seq.empty[Double] else
      (windowStart to windowEnd by 100000000L).map(t =>
        (upTo(sentTimes, t) - upTo(ackTimes, t)).toDouble)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val (firstHalf, secondHalf) = samples.splitAt(samples.size / 2)
    // share of changes that belong to transactions of 1000 changes or more
    def largeShare(ts: Seq[Tx]): Double = {
      val all = ts.map(_.changes.length)
      if (all.isEmpty) 0.0 else all.filter(_ >= 1000).sum.toDouble / all.sum
    }

    // ---- expected sink content ----
    val exp = new PrintWriter(new File(work, "expected.jsonl"), "UTF-8")
    try txs.foreach { t =>
      val i = t.index
      val status =
        if (!t.committed) "U"
        else if (acks(i) > 0) "A"
        else if (sender.sentAt(i) > 0) "S"
        else "N"
      t.changes.indices.foreach { s =>
        val (b, a) = Render.images(t.changes(s), plugin)
        exp.println(Json(Seq(Render.eventId(t, s), t.changes(s).table.subject, i, s, b, a, status)))
      }
    } finally exp.close()

    val backlogCount = txs.take(backlogUnits).filter(_.committed).map(_.changes.length).sum
    val r = Map[String, Any](
      "error" -> error,
      "setup_s" -> (if (sender.startReplicationAt > 0) (sender.startReplicationAt - launched) / 1e9 else 0.0),
      "catchup_s" -> (if (catchupDone > 0) (catchupDone - sender.startReplicationAt) / 1e9 else 0.0),
      "backlog_changes" -> backlogCount,
      "backlog_large_share" -> largeShare(txs.take(backlogUnits).filter(_.committed).toSeq),
      "window_large_share" -> largeShare(window.map(txs(_))),
      "ack_lag_ms" -> lags,
      "lateness_ms" -> late,
      "window_commits" -> window.size,
      "window_unacked_changes" -> unackedWindow.map(units(_).changes).sum,
      "unacked_first_half" -> mean(firstHalf),
      "unacked_second_half" -> mean(secondHalf),
      "peak_rss_mb" -> rssMb,
      "start_replication_ns" -> sender.startReplicationAt,
      "catchup_done_ns" -> catchupDone,
      "window_start_ns" -> windowStart,
      "window_end_ns" -> windowEnd,
      "wall_epoch_offset_ns" -> (System.currentTimeMillis() * 1000000L - System.nanoTime()),
      "host_calib_st_ops" -> calib._1,
      "host_calib_mt_ops" -> calib._2)
    Files.writeString(Paths.get(work.toString, "result.json"), Json(r))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** JVM flags Spark 4 needs on JDK 17 outside spark-submit (the same list
  * the repo's build passes to forked runs). */
object Jvm {
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
}

/** Host calibration: a fixed integer workload, single-threaded and on
  * every core, in operations per second. It should move with host drift
  * and with nothing else. */
object Calibrate {
  @volatile private var sink = 0L
  private def spin(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def opsPerSec(threads: Int): Double = {
    val iters = 20000000
    sink = spin(iters) // warm the JIT
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { sink = spin(iters) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    threads.toDouble * iters / ((System.nanoTime() - t0) / 1e9)
  }

  def run(): (Double, Double) =
    (opsPerSec(1), opsPerSec(Runtime.getRuntime.availableProcessors))
}
