package graft

import org.apache.spark.sql.SparkSession

import graft.ops.SessionConf

/** Benchmark harness (driver contract): times every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * The four THROUGHPUT sections (cdc / stream / stream-10x / mv / codec)
  * each run in their OWN forked JVM (same flags, fresh heap): measured at
  * the end of a 31-minute 224-query battery in the shared JVM, the r9
  * artifact recorded 39.9k for a figure an isolated rerun of the same
  * commit measures at 97k — the number was JVM history (tenured garbage,
  * fragmented heap, accumulated native state), not the engine. A child
  * JVM per section makes the recorded figure the isolated figure by
  * construction. SPARK_GRAFT_SECTION=<name> selects child mode (the
  * driver never sets it; the orchestrator spawns itself with it); if the
  * spawn itself fails the section falls back to in-process execution
  * rather than losing the figure.
  *
  * A small untimed warmup absorbs JVM/codegen startup so per-query numbers
  * measure the queries, not first-run JIT.
  */
object Bench {

  /** One throughput section's contribution to the final JSON line:
    * `frag` is ready-to-splice `"key":value` pairs (no outer braces),
    * `errors` merges into the top-level errors array, `calib` is the
    * section child JVM's own (single-thread, multi-thread) host-speed
    * calibration — the denominator its figure is normalized by.
    */
  private case class SectionResult(frag: String, errors: Seq[String],
      calib: Option[(Long, Long)] = None)

  private def sfDirEnv: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def main(args: Array[String]): Unit =
    sys.env.get("SPARK_GRAFT_SECTION") match {
      case Some(section) => childMain(section)
      case None => orchestrate()
    }

  /** Host-speed calibration pair, run inside every bench JVM: a
    * single-thread xorshift chain (CPU-steal sensitive, allocation-free)
    * and one Spark whole-stage-codegen range sum (parallel CPU +
    * scheduler). This virtualized host's absolute throughput swings
    * 1.5–2.5× between runs HOURS apart (r10 measured the byte-identical
    * codec loop at 351k/483k/704k ops/s in one afternoon), so absolute
    * figures chase the neighbor's workload; the engine claims in
    * SCALE.md are pinned as RATIOS to these calibrations, which cancel
    * the steal. Printed per section to stderr and once into the
    * artifact.
    */
  private def calibrate(spark: SparkSession): (Long, Long) = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val n = 200000000L
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val st = (n / ((System.nanoTime() - t0) / 1e9)).round
    require(x != 0L) // keep the chain live
    val t1 = System.nanoTime()
    spark.range(2000000000L).selectExpr("sum(id ^ 2654435761L)").collect()
    val mt = (2000000000L / ((System.nanoTime() - t1) / 1e9)).round
    (st, mt)
  }

  private def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.tools.LocalFs.sessionConfs())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Child mode: run ONE throughput section in this (fresh) JVM and print
    * its fragment + errors on marked stdout lines for the parent to
    * splice. Everything else goes to stderr.
    */
  private def childMain(section: String): Unit = {
    val spark = buildSession()
    // codegen + parquet reader + shuffle machinery warmup — same
    // philosophy as the orchestrator's, scoped to what the section needs
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val (st, mt) = calibrate(spark)
    System.err.println(s"[calib] section=$section st=$st mt=$mt")
    val r = runSection(spark, sfDirEnv, section)
    // single marked lines; the parent splices frag verbatim
    println("SECTION_FRAG " + r.frag)
    println("SECTION_ERRS " + r.errors.map("\"" + _ + "\"").mkString(","))
    println(s"SECTION_CALIB $st $mt")
    stateStoreCall("stop")
    spark.stop()
  }

  private def runSection(spark: SparkSession, sfDir: String,
      section: String): SectionResult = section match {
    case "cdc" => sectionCdc(spark, sfDir)
    case "stream" => sectionStream(spark, sfDir)
    case "stream10x" => sectionStream10x(spark, sfDir)
    case "mv" => sectionMv(spark, sfDir)
    case "codec" => sectionCodec()
    case other =>
      SectionResult("", Seq(s"unknown_section_$other"))
  }

  private def orchestrate(): Unit = {
    val sfDir = sfDirEnv
    val spark = buildSession()

    // Throughput sections FIRST, each in a forked JVM: their figures are
    // then doubly isolated — fresh heap by the fork, and nothing ahead of
    // them in this process either. The parent's session stays near-idle
    // (lazy heap) while children run, so peak RSS is one active 16g JVM
    // plus a dormant one.
    val sectionNames = Seq("cdc", "stream", "stream10x", "mv", "codec")
    val sections = sectionNames.map { s =>
      runForked(s, sfDir).getOrElse {
        System.err.println(s"[bench] section $s: fork unavailable, " +
          "running in-process (figure is then context-sensitive)")
        runSection(spark, sfDir, s)
      }
    }

    // untimed warmup: codegen + parquet reader + shuffle machinery, plus
    // the shared caches — the synthesized raw WAL (every CDC query's
    // source) and the normalized stream (c03/c04/c05/c06 consume it like
    // an already-published topic; the uncached decode/assembly stages are
    // timed by c01/c02).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.queries.CdcQueries.walStream(spark, sfDir).count()
    graft.queries.CdcQueries.normalizedCached(spark, sfDir).count()

    // Failures are recorded, reported, and fail the run (rc 1) — a broken
    // query must not masquerade as a fast bench entry. Each query is timed
    // three times and the MIN reported: the queries are deterministic and
    // this environment's hypervisor adds up to ±45% scheduler noise per
    // run (r3's headline moved −12% round-over-round on an identical code
    // path — profiled at 0.078 s quiet vs 0.164 s measured), so best-of-N
    // measures the engine rather than the neighbor's workload; 3 samples
    // halve the expected noise floor of 2 at ~50 s extra wall.
    // SPARK_GRAFT_STREAM_ONLY=1 skips the query loop — local iteration on
    // the throughput sections only (the driver never sets it).
    val streamOnly = sys.env.get("SPARK_GRAFT_STREAM_ONLY").contains("1")
    val names = if (streamOnly) Nil else SparkEntry.queries.toSeq.sortBy(_._1)
    val passes = (1 to 3).map { _ =>
      val pass = names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            Some(name)
        }
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
      // the stream gates (c29–c32 and the l-family streams) leave their
      // checkpoints' state-store providers loaded; each checkpoint is
      // single-use (Q.streamGate gives every call a fresh one), so unload
      // between passes — loaded providers otherwise accumulate heap/native
      // memory for the whole run
      unloadStateStores()
      pass
    }
    val results = passes.transpose.map { samples =>
      val n = samples.head._1
      (n, samples.map(_._2).min, samples.flatMap(_._3).headOption)
    }
    // 2-decimal precision: the driver's artifact keeps only the last
    // 2000 bytes of stdout, so every byte of the (single-line) JSON
    // matters — 9-digit nanos pushed the alphabetically-last q-queries'
    // head entries past the capture window in r8, and the query count
    // keeps growing. The sorted dict puts c*/l* first, so what must
    // survive the tail is the full q* region (~57 entries) plus the
    // headline metrics: at 2dp that is ~1.9 KB and fits. The section
    // fragments keep the r9 key set exactly (no new tail bytes); the
    // per-stage mv instrumentation goes to stderr, not the JSON.
    val qs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + (math.rint(v * 100) / 100) }
      .mkString("{", ",", "}")
    val errors = results.flatMap(_._3)
    val total = results.map(_._2).sum

    val allErrors = errors ++ sections.flatMap(_.errors)
    val allErrJson = allErrors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fragJson = sections.map(_.frag).filter(_.nonEmpty).mkString(",")
    // the parent's own host-speed reading, taken right after the query
    // loop — SCALE.md states throughput claims against it. Placed BEFORE
    // the queries dict: the driver's artifact keeps only the last 2000
    // stdout bytes, and that tail budget belongs to the q-query region +
    // headline metrics (the [calib] stderr lines carry the per-section
    // readings regardless).
    val (st, mt) = calibrate(spark)
    System.err.println(s"[calib] section=main st=$st mt=$mt")
    val totalLine = s"""{"metric":"total","value":$total,"unit":"sec","calib_st":$st,"calib_mt":$mt,"queries":$qs,"errors":$allErrJson,$fragJson,"sf":"$sfDir"}"""
    println(totalLine)
    // The same full-contract JSON also goes to a FILE: the driver's
    // artifact keeps only the last ~2000 stdout bytes, which cut r13's
    // per-query map mid-stream (PERF_r14 could compare zero queries
    // round-over-round). A committed BENCH_local.json makes the
    // comparison independent of stdout-tail luck. Best-effort — a
    // read-only cwd must not fail the bench.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_local.json"),
        (totalLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } catch { case _: Throwable => () }
    // HEADLINE line, printed LAST on purpose: the driver's artifact
    // snapshots only the tail of stdout, and the full-contract line
    // above loses its head (metric/calib keys) behind the ~227-entry
    // queries dict. This second line is a complete, self-contained JSON
    // under the tail budget: calib keys, all five throughput sections
    // with reps, each section child's OWN calibration pair, and the
    // calibration-normalized ratios SCALE.md states its bands in
    // (figure / the SAME child JVM's calib — denominators from the same
    // host-minutes as the numerator, so rounds compare ratio-to-host).
    val headlineKey = Map("cdc" -> "cdc_ops_sec",
      "stream" -> "stream_ops_sec", "stream10x" -> "stream_ops_sec_10x",
      "mv" -> "mv_ops_sec", "codec" -> "kafka_codec_ops_sec")
    val ratioFrags = sectionNames.zip(sections).flatMap { case (name, r) =>
      r.calib.toSeq.flatMap { case (cst, cmt) =>
        val vOpt = ("\"" + headlineKey(name) + "\":(\\d+)").r
          .findFirstMatchIn(r.frag).map(_.group(1).toLong)
        vOpt.map { v =>
          // codec is a single-threaded pure-JVM loop -> the ST chain is
          // its host twin; the Spark pipelines track the MT codegen sum
          val denom = if (name == "codec") cst else cmt
          val ratio = if (denom > 0) v.toDouble / denom else 0.0
          f""""${name}%s_calib_st":$cst%d,"${name}%s_calib_mt":$cmt%d,"${name}%s_per_calib":$ratio%.4g"""
        }
      }
    }
    println(s"""{"metric":"headline","value":$total,"unit":"sec","calib_st":$st,"calib_mt":$mt,${
      (sections.map(_.frag).filter(_.nonEmpty) ++ ratioFrags).mkString(",")
    },"errors":$allErrJson,"sf":"$sfDir"}""")
    // tear down state-store machinery (maintenance thread pool + any
    // still-loaded providers, incl. RocksDB native handles) BEFORE the
    // session: freeing native memory at spark.stop() time is what the
    // r6 run died on (std::bad_alloc inside teardown)
    stateStoreCall("stop")
    spark.stop()
    if (allErrors.nonEmpty) sys.exit(1)
  }

  /** Spawn this class as a child JVM running ONE section: same java
    * binary, same JVM flags (the RuntimeMXBean's input arguments carry
    * the add-opens list and -Xmx verbatim), same classpath (run/fork is
    * on, so java.class.path is the real application classpath, not an
    * sbt launcher). Returns None only when the spawn MECHANISM fails
    * (the caller then runs the section in-process); a child that starts
    * but breaks or hangs yields an error result — re-running a hung
    * section inline would hang the parent too.
    */
  private def runForked(section: String,
      sfDir: String): Option[SectionResult] = {
    import scala.jdk.CollectionConverters._
    val proc = try {
      val jvm = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") ||
          a.startsWith("-javaagent") || a.startsWith("-Xdebug"))
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(jvm) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_SECTION", section)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      // child stderr (Spark logs, stage instrumentation) flows straight
      // through; only the two marked stdout lines are captured
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      pb.start()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] section $section fork failed: $e")
      return None
    }
    try {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      val reader = new Thread(() => {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream))
        var l = br.readLine()
        while (l != null) { lines.synchronized(lines += l); l = br.readLine() }
      })
      reader.setDaemon(true)
      reader.start()
      val finished = proc.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) {
        proc.destroyForcibly()
        System.err.println(s"[bench] section $section child TIMED OUT")
        return Some(SectionResult(zeroFrag(section),
          Seq(s"${section}_child_timeout")))
      }
      reader.join(5000)
      val ls = lines.synchronized(lines.toList)
      val frag = ls.collectFirst {
        case l if l.startsWith("SECTION_FRAG ") =>
          l.stripPrefix("SECTION_FRAG ") }
      val errs = ls.collectFirst {
        case l if l.startsWith("SECTION_ERRS ") =>
          l.stripPrefix("SECTION_ERRS ") }
        .map(_.split("\",\"").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      val calib = ls.collectFirst {
        case l if l.startsWith("SECTION_CALIB ") =>
          l.stripPrefix("SECTION_CALIB ").split(" ") }
        .collect { case Array(st, mt) => (st.toLong, mt.toLong) }
      frag match {
        case Some(f) => Some(SectionResult(f,
          errs ++ (if (proc.exitValue() != 0)
            Seq(s"${section}_child_rc_${proc.exitValue()}") else Nil),
          calib))
        case None =>
          System.err.println(s"[bench] section $section child emitted no " +
            s"fragment (rc ${proc.exitValue()})")
          Some(SectionResult(zeroFrag(section),
            Seq(s"${section}_child_no_fragment")))
      }
    } catch { case e: Throwable =>
      proc.destroyForcibly()
      System.err.println(s"[bench] section $section child failed: $e")
      Some(SectionResult(zeroFrag(section), Seq(s"${section}_child_error")))
    }
  }

  /** Keys a broken section still owes the artifact (the driver's parser
    * and round-over-round diffs expect the full r9 key set).
    */
  private def zeroFrag(section: String): String = section match {
    case "cdc" => "\"cdc_ops_sec\":0,\"cdc_ops_sec_reps\":[]"
    case "stream" => "\"stream_ops_sec\":0,\"stream_ops_sec_reps\":[]"
    case "stream10x" =>
      "\"stream_ops_sec_10x\":0,\"stream_ops_sec_10x_reps\":[]"
    case "mv" => "\"mv_ops_sec\":0,\"mv_ops_sec_reps\":[]"
    case "codec" => "\"kafka_codec_ops_sec\":0"
    case _ => ""
  }

  private def countEvents(spark: SparkSession, sfDir: String): Long =
    spark.read.parquet(s"$sfDir/events.parquet").count()

  /** Headline CDC throughput in the reference load-test's unit (ops/sec,
    * scripts/e2e-load-test.sh): events pushed through the full
    * decode -> tx-assemble -> normalize chain (c03) per second. At sf0.1
    * the events table is ~100k rows — the reference harness's default op
    * count. Warmup = the shared WAL cache c03 reads through (exactly what
    * the query loop's warmup provided when this figure was derived from
    * the loop's c03 timing), then best-of-3 on the timed chain.
    */
  private def sectionCdc(spark: SparkSession, sfDir: String): SectionResult =
    try {
      graft.queries.CdcQueries.walStream(spark, sfDir).count()
      val fn = SparkEntry.queries("c03_normalize")
      fn(spark, sfDir).count() // untimed: codegen for this exact plan
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val nEvents = countEvents(spark, sfDir)
      val perRep = times.map(t => (nEvents / t).round)
      val opsSec = perRep.max
      System.err.println(s"[bench-cdc] reps=${perRep.mkString(",")} ops/s")
      // reps ride the JSON fragment (not just stderr) so the driver's
      // 2000-char tail capture carries the rep spread SCALE.md's
      // below-floor adjudication protocol needs — same self-insurance
      // the stream/mv sections have had since r9 (r13 verdict, Next #4)
      SectionResult(s""""cdc_ops_sec":$opsSec,"cdc_ops_sec_reps":${
        perRep.mkString("[", ",", "]")}""", Nil)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] cdc FAILED: $e")
      SectionResult(zeroFrag("cdc"), Seq("cdc_ops_sec"))
    }

  /** Session confs every streaming section runs under.
    *
    * State-store partition count is fixed at the query's first
    * checkpoint from spark.sql.shuffle.partitions; 32 partitions × 2
    * stateful operators is pure per-batch task overhead at this state
    * size. 8 is the production-shaped setting for a per-key-state
    * stream this size (scale UP with key cardinality, not core count).
    *
    * AQE is off: the stateful streaming plan bypasses AQE regardless, so
    * its only consumer is the foreachBatch sink job — where runtime
    * coalescing would serialize the parquet encode into 1-2 tasks at
    * this batch size (the one AQE rewrite that could fire here) and each
    * exchange pays a materialize-and-replan round-trip to the driver.
    * Per-batch sink topology is static (repartition(subject) → sort →
    * write), so AQE buys nothing and costs per-batch driver latency.
    */
  private val StreamConfs = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false")

  /** 8 slices at 4/trigger = 2 micro-batches: still multi-batch (state
    * handoff across batches is exercised) without paying 4 batches of
    * fixed per-trigger overhead. r2 ran 2/trigger; the per-batch
    * machinery (state commits, offset/commit log, sink job) was ~45% of
    * wall at this state size.
    */
  private val StreamFilesPerTrigger = 4

  /** The WAL cut into 8 slices of consecutive positions, each sorted by
    * position, for [[graft.queries.Q.stage]]. The file source admits
    * files in modification-time order — tied mtimes (one parallel write)
    * make admission order nondeterministic and a commit marker admitted
    * before its events strands that tx in state (a real WAL can never
    * deliver post-commit events, so the operator rightly assumes order).
    * `Q.stage`'s strictly increasing mtimes make admission order WAL
    * order, like segment files of an archived WAL.
    */
  private def walSlices(wal: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, ntile}
    val win = org.apache.spark.sql.expressions.Window.orderBy(col("wal_start"))
    val filed = wal.withColumn("_f", ntile(8).over(win))
    (1 to 8).map(f => filed.filter(col("_f") === f).drop("_f")
      .coalesce(1).sortWithinPartitions("wal_start"))
  }

  /** Streaming throughput — the reference's actual operating mode: a real
    * Structured Streaming query (file source -> decode -> commit-gated
    * fMGWS tx assembly -> normalize -> watermarked dedup -> ordered
    * foreachBatch sink with checkpointing), multi-micro-batch via
    * maxFilesPerTrigger. Wall time includes query startup + state store —
    * the honest end-to-end number.
    */
  private def sectionStream(spark: SparkSession,
      sfDir: String): SectionResult = try {
    import org.apache.spark.sql.streaming.Trigger
    val nEvents = countEvents(spark, sfDir)
    val tmp = graft.queries.TempDirs.workDir("graft_bench_stream")
    val outDir = s"$tmp/out"; val ckDir = s"$tmp/ck"
    val staged = graft.queries.Q.stage(
      walSlices(graft.queries.CdcQueries.walStream(spark, sfDir)), s"$tmp/in")
    // Best-of-3 like the batch queries (same ±45% scheduler-noise
    // rationale); each rep gets fresh sink/checkpoint dirs.
    // AvailableNow appends a trailing no-data batch for watermark
    // bookkeeping; append-mode emission here does not depend on it
    // (rows emit in their arrival batch, the watermark only evicts
    // state), so it is pure per-run overhead.
    val reps = SessionConf.scoped(spark, StreamConfs :+
        ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*) {
      // rep 0 is UNTIMED — the batch section's warmup philosophy applied
      // to streaming: the first run through IncrementalExecution, the
      // state-store provider, and the sink's codegen pays JIT that no
      // steady-state deployment pays per batch (observed addBatch
      // 1354 ms cold → 866 ms warm on identical input). Timed reps then
      // measure the pipeline, not first-run compilation.
      (0 to 3).map { rep =>
        val raw = staged.stream(spark, StreamFilesPerTrigger)
        val t0 = System.nanoTime()
        val q = graft.streaming.CdcStream.start(spark, raw, "bench",
          s"$outDir-$rep", s"$ckDir-$rep",
          trigger = Trigger.AvailableNow(), dedupWatermark = "3650 days")
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1"))
          q.recentProgress.foreach(p => System.err.println(
            s"[stream-debug] rep=$rep batch=${p.batchId} rows=${p.numInputRows} " +
              s"durations=${p.durationMs}"))
        // each rep's checkpoint is single-use: unload its providers so
        // state never accumulates across reps
        unloadStateStores()
        (spark.read.parquet(s"$outDir-$rep").count(), wall)
      }.drop(1)
    }
    val badRows = reps.map(_._1).find(_ != nEvents)
    val perRep = reps.map(r => (nEvents / r._2).round)
    val repsJson = perRep.mkString("[", ",", "]")
    val frag =
      s""""stream_ops_sec":${perRep.max},"stream_ops_sec_reps":$repsJson"""
    if (badRows.isDefined)
      SectionResult(
        s""""stream_ops_sec":0,"stream_ops_sec_reps":$repsJson""",
        Seq(s"stream_rows_mismatch:${badRows.get}/$nEvents"))
    else SectionResult(frag, Nil)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] streaming FAILED: $e")
    SectionResult(zeroFrag("stream"), Seq("streaming_pipeline"))
  }

  /** Amortization evidence (SCALE.md "streaming throughput" claim): the
    * SAME pipeline fed 10× the events per trigger. The per-batch fixed
    * machinery (state commit + offset/commit log + sink job scheduling)
    * is constant per trigger, so if it dominates the 50k-events-per-batch
    * number above, ops/sec here should rise sharply — the batch-size →
    * throughput curve is the 100 TB design evidence (a production WAL
    * burst delivers millions of events per trigger, not 50k). Input: 10
    * id-shifted copies of the WAL (disjoint event ids, tx ids and WAL
    * positions per copy — no dedup/assembly collisions), same 8 slices /
    * 4-per-trigger admission = 2 micro-batches at 10× the size.
    */
  private def sectionStream10x(spark: SparkSession,
      sfDir: String): SectionResult = try {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.Trigger
    val nEvents = countEvents(spark, sfDir)
    val tmp = graft.queries.TempDirs.workDir("graft_bench_stream10x")
    val outDir = s"$tmp/out"; val ckDir = s"$tmp/ck"
    val e = graft.queries.Q.t(spark, sfDir, "events")
    val e10 = (0 until 10).map { k =>
      e.select((col("event_id") + lit(k * 1000000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 1000000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    val staged = graft.queries.Q.stage(
      walSlices(graft.queries.CdcQueries.walStreamFrom(spark, e10)), s"$tmp/in")
    // This figure exists to measure the 100 TB shape (big triggers), so
    // it ALWAYS runs the at-scale state-store pairing: RocksDB with
    // changelog checkpointing, whose per-commit cost is O(delta). The
    // HDFS-backed default's per-commit snapshot is O(state) — the 10×
    // input multiplies that too and flattens the curve to ~1.0× (both
    // measured; see SCALE.md "Batch-size amortization"). The 1× figure
    // above keeps the default store: both sides of the comparison stay
    // in BENCH.
    // RocksDB's NATIVE allocation is capped (block cache + memtables
    // share one bounded LRU cache): the pairing is unbounded by default
    // and exhausted C++ `new` in-JVM in the r6 run. 2 GiB is ~60× this
    // workload's state and far under the host budget; production
    // deployments size it per executor the same way.
    val rocksDb = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "2048")
    // rep 0 is an UNTIMED warmup at full size (this child JVM starts
    // cold: IncrementalExecution, sink codegen, RocksDB provider init
    // all land on it — r9's recorded [8746, 39863] rep pair shows
    // exactly that first-rep cliff); timed reps then best-of-2.
    val reps = SessionConf.scoped(spark, StreamConfs ++ rocksDb: _*) {
      (0 to 2).map { rep =>
        val raw = staged.stream(spark, StreamFilesPerTrigger)
        val t0 = System.nanoTime()
        val q = graft.streaming.CdcStream.start(spark, raw, "bench",
          s"$outDir-$rep", s"$ckDir-$rep",
          trigger = Trigger.AvailableNow(), dedupWatermark = "3650 days")
        q.awaitTermination()
        val wall = (System.nanoTime() - t0) / 1e9
        // close the rep's RocksDB instances: native memtables/caches
        // are freed on unload, not GC — without this the reps' native
        // footprints stack and C++ new can fail at teardown
        unloadStateStores()
        (spark.read.parquet(s"$outDir-$rep").count(), wall)
      }.drop(1)
    }
    val badRows = reps.map(_._1).find(_ != 10L * nEvents)
    val perRep = reps.map(r => ((10L * nEvents) / r._2).round)
    val repsJson = perRep.mkString("[", ",", "]")
    if (badRows.isDefined)
      SectionResult(
        s""""stream_ops_sec_10x":0,"stream_ops_sec_10x_reps":$repsJson""",
        Seq(s"stream10x_rows_mismatch:${badRows.get}/${10L * nEvents}"))
    else SectionResult(
      s""""stream_ops_sec_10x":${perRep.max},"stream_ops_sec_10x_reps":$repsJson""",
      Nil)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] streaming 10x FAILED: $e")
    SectionResult(zeroFrag("stream10x"), Seq("streaming_pipeline_10x"))
  }

  /** SCD2 maintenance throughput: the consumer-side loop (decode →
    * commit-gated assembly → normalize → bucketed SCD2 fold with
    * closed-log compaction at threshold 2) per event — the measured
    * backing for SCALE.md's "per-batch cost is O(batch + touched
    * buckets)" claim. Input is the c29 harness's staged WAL slices
    * (one tx per event, 3 contiguous slices, maxFilesPerTrigger=1 → 3
    * real micro-batches; folds run on the r8 compactEveryBatches
    * cadence, off the per-trigger path). Rep 0 is an UNTIMED warmup
    * (page cache, codegen, state-store classes for THIS query shape),
    * then best-of-3. Per-batch stage timing (the StreamingQueryListener
    * progress durations + state-operator commit costs) prints to stderr
    * every rep, so a drifting figure names its stage without a re-run.
    */
  private def sectionMv(spark: SparkSession, sfDir: String): SectionResult =
    try {
      import org.apache.spark.sql.functions.{coalesce, col, element_at}
      import org.apache.spark.sql.streaming.Trigger
      val nEvents = countEvents(spark, sfDir)
      val input = graft.queries.CdcQueries.scd2StreamInput(spark, sfDir)
      val work = graft.queries.TempDirs.workDir("graft_bench_mv")
      val reps = SessionConf.scoped(spark, StreamConfs: _*) {
        (0 to 3).map { rep =>
          System.gc()
          val state = s"$work/bench_scd2_$rep"
          val ck = s"$work/bench_scd2_ck_$rep"
          val t0 = System.nanoTime()
          val q = graft.streaming.MaterializedView.startScd2(spark,
            graft.streaming.CdcStream.pipeline(spark, input.stream(spark), "bench"),
            state, ck, keyCols = Seq("tbl", "uid"),
            seq = coalesce(element_at(col("after"), "seq"),
              element_at(col("before"), "seq")).cast("long"),
            compactClosedAfter = 2, trigger = Trigger.AvailableNow())
          q.awaitTermination()
          val wall = (System.nanoTime() - t0) / 1e9
          // per-stage wall, per batch: where inside the loop the time
          // went (addBatch = the chained decode→assemble→normalize→fold
          // job; state commit costs under stateOperators)
          q.recentProgress.foreach { p =>
            val so = p.stateOperators.map(s =>
              s"updates=${s.allUpdatesTimeMs}ms removals=" +
                s"${s.allRemovalsTimeMs}ms commit=${s.commitTimeMs}ms")
              .mkString(" | ")
            System.err.println(s"[mv-stage] rep=$rep batch=${p.batchId} " +
              s"rows=${p.numInputRows} durations=${p.durationMs} state[$so]")
          }
          unloadStateStores()
          (nEvents / wall).round
        }.drop(1) // rep 0 = warmup, untimed in the artifact
      }
      SectionResult(s""""mv_ops_sec":${reps.max},"mv_ops_sec_reps":${
        reps.mkString("[", ",", "]")}""", Nil)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mv maintenance FAILED: $e")
      SectionResult(zeroFrag("mv"), Seq("mv_maintenance"))
    }

  /** Kafka wire-codec throughput: encode a subject-keyed v2 record
    * batch (CRC32C) and decode it back, per event — the pure-JVM cost
    * the broker sink adds on top of the publish loop (the network/ack
    * half needs a broker; the codec is the part this library owns).
    * Single-threaded figure; the sink runs it per executor partition.
    * Runs in its own child JVM: measured in the shared end-of-bench JVM,
    * the query loop's tenured garbage taxed this allocation-heavy loop
    * 3× in r8 (286k recorded vs 863k isolated, same code).
    */
  private def sectionCodec(): SectionResult = try {
    import java.nio.charset.StandardCharsets.UTF_8
    val key = "cdc.bench.public.events".getBytes(UTF_8)
    val value = ("""{"event_id":"0/1:1:INSERT:public.events:0",""" +
      """"operation":"INSERT","after":{"id":"1","v":"x"}}""").getBytes(UTF_8)
    val hdr = Seq("event-id" -> "e".getBytes(UTF_8))
    val n = 200000
    var i = 0 // warmup
    while (i < 20000) {
      graft.sinks.KafkaWire.decodeRecordSet(
        graft.sinks.KafkaWire.recordBatch(Seq((key, value, hdr)), 0L, i.toLong))
      i += 1
    }
    val t0 = System.nanoTime()
    i = 0
    var sink = 0L
    while (i < n) {
      val recs = graft.sinks.KafkaWire.decodeRecordSet(
        graft.sinks.KafkaWire.recordBatch(Seq((key, value, hdr)), 0L, i.toLong))
      sink += recs.head.offset // defeat dead-code elimination
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    require(sink != Long.MinValue)
    SectionResult(s""""kafka_codec_ops_sec":${(n / wall).round}""", Nil)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] kafka codec FAILED: $e")
    SectionResult(zeroFrag("codec"), Seq("kafka_codec"))
  }

  /** `StateStore.unloadAll()` / `stop()` are `private[sql]` (the public
    * lifecycle assumes an executor shutting down, not a harness reusing
    * one JVM) — call through reflection; the bytecode is public. unloadAll
    * closes every loaded provider (freeing RocksDB native memory and
    * HDFS-store heap maps); stop additionally ends the maintenance pool.
    */
  private def stateStoreCall(method: String): Unit = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    cls.getMethod(method).invoke(cls.getField("MODULE$").get(null))
    ()
  }

  private def unloadStateStores(): Unit = stateStoreCall("unloadAll")
}
