package graft.tools

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.GraftConfig
import graft.streaming.{CdcMetrics, CdcStream, HealthServer}

/** One-command deployable entrypoint: config → source → pipeline → sink →
  * health, the wiring order of the reference's process main
  * (cmd/cdc-handler/main.go:51-135: config.Load → wal.NewPGReader →
  * parser by plugin → transformer → publisher → checkpoint → health.Start
  * → engine.Run). Here each stage is the Spark-native analog already built
  * elsewhere in the library; this object only wires them:
  *
  *   - config: [[GraftConfig.load]] from the SAME env var names the
  *     reference reads, validated before anything starts;
  *   - source: `CDC_SOURCE=file` (default) tails archived WAL lines from
  *     `GRAFT_WAL_DIR` via the DSv2 [[graft.sources.WalDirectorySource]];
  *     `CDC_SOURCE=socket` dials the replication protocol over TCP via
  *     [[graft.sources.CopyBothSource]], with host/port/user/password/db
  *     parsed from `DATABASE_URL` and the slot from `SLOT_NAME` —
  *     `CDC_PLUGIN` picks text (wal2json) vs binary (pgoutput) frames;
  *   - pipeline + sink: [[CdcStream.start]] (decode → tx assembly → dedup
  *     → normalize → route → ordered publish to `GRAFT_OUT_DIR`), cadence /
  *     filters / retry budget / dedup window from the config; or, with
  *     `GRAFT_MODE=mv`/`scd2`, the CONSUMER side instead — the decoded
  *     stream maintains bucketed current state / compacted SCD2 history
  *     under `GRAFT_OUT_DIR` (keys from `GRAFT_MV_KEYS`), the reference's
  *     apply-changes subscribers as a deployment mode;
  *   - health: [[HealthServer]] on `HEALTH_ADDR`'s port serving /health,
  *     /ready (source + query liveness checks), /metrics (Prometheus
  *     text), /debug/threads, /debug/heap.
  *
  * Run: `sbt "runMain graft.tools.Main"` with at least `GRAFT_WAL_DIR`
  * set, or spark-submit the assembly with the same env. SIGTERM/Ctrl-C
  * stops the query, then the health server, then the session (the
  * signal.NotifyContext analog).
  *
  * State width: keyed state and the ordered sink run at the default
  * parallelism ([[shufflePartitions]]), latched into a checkpoint at its
  * first batch; pass `--conf spark.sql.shuffle.partitions=N` before the
  * first start to choose another.
  *
  * State: both plugins run their one keyed state, the shared transaction
  * assembly, on `flatMapGroupsWithState` (pgoutput decodes in the
  * replication source), so Main sets no state-store provider; pass `--conf
  * spark.sql.streaming.stateStore.providerClass=...` to choose one. Both
  * suppress replayed transactions within `DUPLICATE_WINDOW` and evict
  * abandoned ones by event time.
  *
  * Local files: `file:` checkpoints, state stores and the parquet sink go
  * through [[LocalFs]]'s fork-free classes unless Spark's conf names
  * other `fs.file.impl` / `fs.AbstractFileSystem.file.impl` classes.
  */
object Main {

  /** Handle on a started deployment — what main() blocks on and what a
    * test (or embedding host) stops. `query` is the CURRENT streaming
    * query: [[await]] restarts it (same checkpoint) on transient failures
    * with the reference's reconnect backoff, so the reference held by
    * health checks and callers follows across restarts.
    */
  final class Running(restart: () => StreamingQuery,
      val metrics: CdcMetrics.Registry, maxRestarts: Int) {
    @volatile private var current: StreamingQuery = restart()
    private[tools] var healthServer: HealthServer.Started = _
    // undoes what Main.start attached to the session for this deployment
    private[tools] var detach: () => Unit = () => ()
    def query: StreamingQuery = current
    def health: HealthServer.Started = healthServer
    @volatile private var stopped = false

    /** Block until clean stop or fatal error — the reference engine's
      * supervision loop (transient → reconnect backoff → restart from the
      * checkpoint; fatal (auth/config SQLSTATEs, a checkpoint whose state
      * schema this build cannot read) → propagate). During the
      * backoff window /ready reports 503 via the failed query's state.
      * Returns the number of restarts performed.
      */
    def await(): Int = {
      var restarts = 0
      var done = false
      while (!done) {
        try { current.awaitTermination(); done = true }
        catch {
          case e: Throwable if !stopped &&
              !graft.streaming.Reliability.isFatal(e) &&
              restarts < maxRestarts =>
            restarts += 1
            Thread.sleep(
              graft.streaming.Reliability.reconnectBackoffMillis(restarts))
            // stop() may land during the backoff sleep — and checking
            // `stopped` alone still races: stop() could run BETWEEN the
            // check and restart(), stopping only the old (already-failed)
            // query while the fresh one leaks past health teardown and
            // re-blocks await() forever. The shared lock makes
            // post-stop restart impossible: whichever side wins, the
            // other observes it (stop() stops the query restart()
            // assigned, or restart() never runs at all).
            this.synchronized {
              if (stopped) done = true else current = restart()
            }
        }
      }
      restarts
    }

    def stop(): Unit = {
      try this.synchronized {
        stopped = true
        if (current.isActive) current.stop()
      } finally try Option(healthServer).foreach(_.stop()) finally detach()
    }
  }

  /** host/port/user/password of a postgres:// URL (the parts
    * [[GraftConfig.databaseNameFromUrl]] doesn't cover — the socket
    * transport needs them; java.net.URI handles the user:pw@host:port
    * authority form).
    */
  private[graft] def endpointFromUrl(raw: String): (String, Int, String, Option[String]) = {
    val uri = new java.net.URI(raw)
    val host = Option(uri.getHost).getOrElse("localhost")
    val port = if (uri.getPort > 0) uri.getPort else 5432
    val (user, pw) = Option(uri.getUserInfo) match {
      case Some(ui) => ui.split(":", 2) match {
        case Array(u, p) => (u, Some(p))
        case Array(u) => (u, None)
      }
      case None => ("postgres", None)
    }
    (host, port, user, pw)
  }

  /** Port of a Go-style listen address (":8080" or "host:8080"). */
  private[graft] def portOf(addr: String): Int =
    addr.substring(addr.lastIndexOf(':') + 1).toInt

  /** Output-plugin start options for the socket source's
    * START_REPLICATION command. NOT optional against real Postgres:
    * pgoutput rejects the command without proto_version +
    * publication_names, and wal2json without format-version=2 emits v1
    * frames the v2 FAILFAST decoder cannot parse — the reference always
    * sends them (internal/wal/reader.go's plugin arguments). Rendered in
    * [[graft.sources.CopyBothSource]]'s `startOptions` k=v;k=v form.
    */
  private[graft] def pluginStartOptions(cfg: GraftConfig): String =
    if (cfg.plugin == "pgoutput")
      s"proto_version=${cfg.protoVersion};publication_names=" +
        cfg.publications.mkString(",") +
        // CDC_PROTO_VERSION=2 opts into streamed in-progress transactions
        // (interleaved StreamStart..StreamStop segments); =3 additionally
        // opts into two-phase frames (BeginPrepare/Prepare/CommitPrepared/
        // RollbackPrepared/StreamPrepare for PREPARE TRANSACTION, PG 15+);
        // =4 requests streaming=parallel (PG 16+), whose StreamAbort
        // frames additionally carry abort LSN + timestamp. The decoder
        // speaks all four; v1 stays the reference-parity default.
        (if (cfg.protoVersion >= 4) ";streaming=parallel"
         else if (cfg.protoVersion >= 2) ";streaming=on" else "") +
        (if (cfg.protoVersion >= 3) ";two_phase=on" else "")
    else "format-version=2;include-xids=1;include-timestamp=1"

  /** Width of keyed state and the ordered sink: Spark's conf, else the
    * default parallelism (executor cores; N for `local[N]`). Every state
    * partition commits a file per trigger, even when empty, so a width
    * above the cores adds a wave of that cost to every trigger, whatever
    * its rows.
    */
  private[graft] def shufflePartitions(conf: SparkConf,
      defaultParallelism: Int): String =
    conf.get("spark.sql.shuffle.partitions", defaultParallelism.toString)

  /** Spark settings Main sets unless the operator's conf (`--conf`)
    * already does: the fork-free `file:` binding, and 256 KB broadcast
    * pieces. Spark broadcasts each stage's task binary and each stateful
    * operator's Hadoop conf on every trigger, one
    * `spark.broadcast.blockSize` array per broadcast. At the 4 MB default
    * each array is a humongous object for G1 (half a region or more; a
    * 2 GiB heap has 1 MB regions), and they pile up between young GCs.
    * 256 KB stays under that threshold at every region size; Main runs no
    * broadcast join, so more pieces per large broadcast cost nothing.
    */
  private[graft] def sessionDefaults(conf: SparkConf): Map[String, String] =
    LocalFs.sessionConfs(conf) ++ Map("spark.broadcast.blockSize" -> "256k")
      .filter { case (k, _) => !conf.contains(k) }

  /** Build the raw frame stream for the configured source kind. */
  private def rawStream(spark: SparkSession, cfg: GraftConfig,
      env: Map[String, String]): DataFrame =
    env.getOrElse("CDC_SOURCE", "file") match {
      case "file" =>
        val dir = env.getOrElse("GRAFT_WAL_DIR", sys.error(
          "GRAFT_WAL_DIR must be set for CDC_SOURCE=file"))
        spark.readStream.format("graft.sources.WalDirectorySource")
          .option("path", dir).load()
      case "socket" =>
        val (host, port, user, pw) = endpointFromUrl(cfg.databaseUrl)
        val payload = if (cfg.plugin == "pgoutput") "binary" else "text"
        val r = spark.readStream.format("graft.sources.CopyBothSource")
          .option("host", host).option("port", port.toString)
          .option("slot", cfg.slotName).option("user", user)
          // cfg.database already resolves CDC_DATABASE → URL path → default
          .option("database", cfg.database)
          .option("payload", payload)
          .option("startOptions", pluginStartOptions(cfg))
        pw.fold(r)(p => r.option("password", p)).load()
      case "kafka" => sys.error("CDC_SOURCE=kafka is a consumer transport " +
        "(envelopes from the broker) — use GRAFT_MODE=mv|scd2")
      case other => sys.error(s"unknown CDC_SOURCE '$other' (file | socket | kafka)")
    }

  /** Wire and start everything against an existing session. Separated from
    * [[main]] so the deployment shape itself is testable in-process
    * (ToolsMainSpec) and embeddable.
    */
  def start(spark: SparkSession, env: Map[String, String],
      healthPortOverride: Option[Int] = None): Running = {
    val cfg = GraftConfig.load(env).flatMap(_.validated) match {
      case Right(c) => c
      case Left(err) => throw new IllegalArgumentException(
        s"invalid configuration: $err")
    }
    graft.logging.Log.configure(cfg.debug)
    val log = graft.logging.Log(getClass)
    val outDir = env.getOrElse("GRAFT_OUT_DIR", "graft-out")
    val ckDir = env.getOrElse("GRAFT_CHECKPOINT_DIR", "graft-checkpoint")
    val metrics = new CdcMetrics.Registry
    // restartable from the same checkpoint — the supervision loop's unit
    // (the reference's wal reader reconnects and resumes from the slot).
    // GRAFT_MODE picks WHICH consumer runs on the decoded stream:
    //   sink (default) — normalize + ordered publish (the reference's
    //                    publisher process);
    //   mv            — maintain current table state (bucketed
    //                    MaterializedView loop; the reference's
    //                    apply-changes consumers);
    //   scd2          — maintain validity-interval history (bucketed +
    //                    compacted closed log).
    // mv/scd2 need GRAFT_MV_KEYS (comma-separated key names in the row
    // image) and write bucketed state to GRAFT_OUT_DIR.
    val mode = env.getOrElse("GRAFT_MODE", "sink")
    val trigger = Trigger.ProcessingTime(cfg.batchTimeout.toMillis,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    def mvKeys: Seq[String] = env.get("GRAFT_MV_KEYS")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .getOrElse(sys.error(s"GRAFT_MODE=$mode requires GRAFT_MV_KEYS"))
    // WAL order for the fold's per-key winner: the envelope's lsn,
    // numeric (the ordered sink's sort key)
    def mvSeq = graft.streaming.OrderedSink.lsnNumeric(
      org.apache.spark.sql.functions.col("lsn"))
    val mvBuckets = env.getOrElse("GRAFT_MV_BUCKETS", "8").toInt
    // GRAFT_SINK picks the broker behind the SinkWriter seam:
    //   parquet (default) — the ordered parquet sink (sandbox deployment);
    //   kafka             — the wire-protocol producer (KAFKA_BOOTSTRAP
    //                       names the broker, default localhost:9092),
    //                       the reference's publisher process against a
    //                       real log.
    val sinkWriter: Option[() => graft.streaming.SinkWriter] =
      env.getOrElse("GRAFT_SINK", "parquet") match {
        case "parquet" => None
        case "kafka" =>
          val bootstrap = env.getOrElse("KAFKA_BOOTSTRAP", "localhost:9092")
          // optional SASL (PLAIN | SCRAM-SHA-256) — the broker analog of
          // DATABASE_URL credentials
          val ku = env.get("KAFKA_USER"); val kp = env.get("KAFKA_PASSWORD")
          val km = env.getOrElse("KAFKA_SASL_MECHANISM", "PLAIN")
          // optional TLS: KAFKA_TLS=true [+ KAFKA_TLS_TRUSTSTORE(.p12|.jks)
          // / KAFKA_TLS_TRUSTSTORE_PASSWORD for private CAs]
          val ktls = env.get("KAFKA_TLS").exists(_.equalsIgnoreCase("true"))
          val kts = env.get("KAFKA_TLS_TRUSTSTORE")
          val ktsPw = env.get("KAFKA_TLS_TRUSTSTORE_PASSWORD")
          // KAFKA_COMPRESSION=gzip compresses each record batch's
          // records block on the wire (none | gzip; gzip is the codec
          // the JDK provides)
          val kcomp = env.getOrElse("KAFKA_COMPRESSION", "none")
          // KAFKA_TRANSACTIONAL_ID=<base> upgrades publish to EXACTLY-
          // ONCE per partition task: each executor partition runs one
          // transaction (id = base-<partitionId>, stable across task
          // retries so a zombie attempt is fenced, its partial publish
          // aborted, and the retry's commit is the only visible copy).
          // Cross-restart batch REPLAY dedup stays on the event-id
          // header, as documented on KafkaSinkWriter.
          val ktid = env.get("KAFKA_TRANSACTIONAL_ID")
          Some(() => new graft.sinks.KafkaSinkWriter(bootstrap,
            user = ku, password = kp, mechanism = km, tls = ktls,
            tlsTruststore = kts, tlsTruststorePassword = ktsPw,
            compression = kcomp,
            transactionalId = ktid.map { base =>
              val pid = Option(org.apache.spark.TaskContext.get())
                .map(_.partitionId()).getOrElse(0)
              s"$base-$pid"
            }))
        case other => sys.error(s"unknown GRAFT_SINK '$other' (parquet | kafka)")
      }
    val startQuery: () => StreamingQuery = mode match {
      case "sink" => () => CdcStream.start(spark, rawStream(spark, cfg, env),
        cfg.database, outDir, ckDir,
        tableAllowlist = cfg.tableFilters,
        trigger = trigger,
        unsafeUnorderedAsyncPublish = cfg.unsafeUnorderedAsyncPublish,
        maxPublishRetries = cfg.maxPublishRetries,
        dedupWatermark = s"${cfg.duplicateWindow.toSeconds} seconds",
        metrics = Some(metrics),
        sinkWriter = sinkWriter,
        plugin = cfg.plugin)
      case "mv" | "scd2" =>
        val keys = mvKeys
        () => {
          // consumer-mode transport: decode the WAL ourselves (file /
          // socket sources), or — the reference's actual consumer
          // deployment (its subscribers read JetStream, never the WAL) —
          // take the published envelopes straight from the broker
          // (CDC_SOURCE=kafka + KAFKA_TOPIC) and parse them back into
          // the same normalized columns
          val events = env.getOrElse("CDC_SOURCE", "file") match {
            case "kafka" =>
              val bootstrap = env.getOrElse("KAFKA_BOOTSTRAP", "localhost:9092")
              // KAFKA_TOPIC (one or comma-list) and/or KAFKA_TOPIC_PATTERN
              // (regex — the reference's wildcard subject subscription)
              val topic = env.get("KAFKA_TOPIC")
              val pattern = env.get("KAFKA_TOPIC_PATTERN")
              if (topic.isEmpty && pattern.isEmpty) sys.error(
                "CDC_SOURCE=kafka requires KAFKA_TOPIC or KAFKA_TOPIC_PATTERN")
              val r0 = spark.readStream
                .format("graft.sources.KafkaEnvelopeSource")
                .option("bootstrap", bootstrap)
                .option("mechanism",
                  env.getOrElse("KAFKA_SASL_MECHANISM", "PLAIN"))
              var r = r0
              topic.foreach(t => r = r.option("topic", t))
              pattern.foreach(pt => r = r.option("topicPattern", pt))
              env.get("KAFKA_MAX_OFFSETS_PER_TRIGGER")
                .foreach(n => r = r.option("maxOffsetsPerTrigger", n))
              // KAFKA_GROUP_ID mirrors each batch's end offsets to the
              // broker (ecosystem lag visibility); KAFKA_STARTING_OFFSETS
              // = earliest|latest|group — `group` starts a fresh
              // checkpoint from that group's broker-committed offsets
              // (handover from an ecosystem consumer)
              env.get("KAFKA_GROUP_ID").foreach(g => r = r.option("groupId", g))
              env.get("KAFKA_STARTING_OFFSETS")
                .foreach(v => r = r.option("startingOffsets", v))
              // KAFKA_ISOLATION=read_committed skips other producers'
              // aborted transactions (and plans triggers at the LSO)
              env.get("KAFKA_ISOLATION")
                .foreach(v => r = r.option("isolation", v))
              env.get("KAFKA_USER").foreach(u => r = r.option("user", u))
              env.get("KAFKA_PASSWORD")
                .foreach(pw => r = r.option("password", pw))
              env.get("KAFKA_TLS").foreach(v => r = r.option("tls", v))
              env.get("KAFKA_TLS_TRUSTSTORE")
                .foreach(v => r = r.option("tlsTruststore", v))
              env.get("KAFKA_TLS_TRUSTSTORE_PASSWORD")
                .foreach(v => r = r.option("tlsTruststorePassword", v))
              graft.cdc.Transform.parseEnvelope(r.load(),
                org.apache.spark.sql.functions.col("value"))
            case _ => cfg.plugin match {
              case "pgoutput" => CdcStream.pipelinePgOutput(spark,
                rawStream(spark, cfg, env), cfg.database, cfg.tableFilters,
                s"${cfg.duplicateWindow.toSeconds} seconds")
              case _ => CdcStream.pipeline(spark, rawStream(spark, cfg, env),
                cfg.database, cfg.tableFilters,
                s"${cfg.duplicateWindow.toSeconds} seconds")
            }
          }
          if (mode == "mv")
            graft.streaming.MaterializedView.start(spark, events, outDir,
              ckDir, keys, mvSeq, buckets = mvBuckets, trigger = trigger)
          else
            graft.streaming.MaterializedView.startScd2(spark, events, outDir,
              ckDir, keys, mvSeq, buckets = mvBuckets, trigger = trigger)
        }
      case other => sys.error(s"unknown GRAFT_MODE '$other' (sink | mv | scd2)")
    }
    val maxRestarts = env.get("GRAFT_MAX_RESTARTS").map(_.toInt)
      .getOrElse(Int.MaxValue) // a CDC daemon reconnects until told to stop
    // the engine series of /metrics (events, batches, latency, rate,
    // replication errors) come from query progress: one listener per
    // deployment, counting only its own query, whose id every supervised
    // restart from the checkpoint keeps
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new graft.streaming.Reliability.CdcMetricsListener(
      Some(metrics), ours.contains)
    spark.streams.addListener(listener)
    val running =
      try new Running(() => { val q = startQuery(); ours.add(q.id); q },
        metrics, maxRestarts)
      catch { case e: Throwable => spark.streams.removeListener(listener); throw e }
    running.detach = () => spark.streams.removeListener(listener)
    // readiness mirrors the reference's checks (main.go:85-108: slot-store
    // load + publisher ready): the source must be reachable and the
    // streaming query alive without a pending exception (during a
    // reconnect backoff the failed query makes /ready report 503)
    val sourceCheck = HealthServer.Check("source", () =>
      env.getOrElse("CDC_SOURCE", "file") match {
        case "file" =>
          val d = new java.io.File(env("GRAFT_WAL_DIR"))
          require(d.isDirectory && d.canRead, s"WAL dir not readable: $d")
        case _ => () // socket liveness is the query check: a dead
                     // connection fails/restarts the stream
      })
    val queryCheck = HealthServer.Check("query", () => {
      running.query.exception.foreach(e => throw e)
      require(running.query.isActive, "streaming query not active")
    })
    val health = HealthServer.start(
      healthPortOverride.getOrElse(portOf(cfg.healthAddr)),
      checks = Seq(sourceCheck, queryCheck), metrics = Some(metrics))
    running.healthServer = health
    // the reference's startup log line, same fields (main.go:115-135)
    log.info("starting graft-cdc",
      "debug" -> cfg.debug,
      "mode" -> mode,
      "source" -> env.getOrElse("CDC_SOURCE", "file"),
      "slot" -> cfg.slotName,
      "db" -> cfg.database,
      "plugin" -> cfg.plugin,
      "batch_timeout_ms" -> cfg.batchTimeout.toMillis,
      "unsafe_unordered_async_publish" -> cfg.unsafeUnorderedAsyncPublish,
      "max_publish_retries" -> cfg.maxPublishRetries,
      "publish_failure_policy" -> cfg.publishFailurePolicy,
      "dlq_subject_prefix" -> cfg.dlqSubjectPrefix,
      "duplicate_window_s" -> cfg.duplicateWindow.toSeconds,
      "table_filters" -> cfg.tableFilters,
      "out_dir" -> outDir,
      "health_port" -> health.port,
      "max_restarts" -> (if (maxRestarts == Int.MaxValue) "unbounded"
        else maxRestarts.toString))
    running
  }

  /** Above Spark's composite hook (FileSystem.SHUTDOWN_HOOK_PRIORITY +
    * 30 = 40); see [[graft.queries.TempDirs]] for the ordering. */
  private val StopHookPriority = 50

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cdc")
      .config("spark.sql.session.timeZone", "UTC")
      .config(sessionDefaults(new SparkConf()))
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions(
      spark.sparkContext.getConf, spark.sparkContext.defaultParallelism))
    val running = start(spark, sys.env)
    // The query stops from Hadoop's ShutdownHookManager, the registry
    // Spark's own hook runs from, at a higher priority: it finishes
    // before Spark's hook stops the SparkContext (a plain JVM hook would
    // run concurrently with Spark's and could call a stopped context).
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => running.stop(), StopHookPriority)
    println(s"graft-cdc started: health on :${running.health.port} " +
      "(/health /ready /metrics /debug/threads /debug/heap)")
    running.await() // supervised: transient failures restart with backoff
    ()
  }
}
