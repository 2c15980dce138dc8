package graft.streaming

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.Apply

/** Incremental materialized view: maintain current table state from a CDC
  * stream (the consumer-side companion of [[CdcStream]] — what the
  * reference's JetStream subscribers do with the published events; SURVEY
  * E7 names Delta/Iceberg `MERGE` as the Spark analog, this is that loop
  * without the table format).
  *
  * State is BUCKETED by key hash (`b<bucket>/v<batchId>` per-bucket
  * version chains — the `ops/DedupIndex` layout): each micro-batch folds
  * via [[graft.cdc.Apply.applyChanges]] against ONLY the buckets its keys
  * touch and rewrites only those buckets' next versions. Untouched
  * buckets are never read or written, so the per-batch cost is
  * O(batch + table·k/N) for k touched of N buckets — never the O(table)
  * full-state rewrite (which at 100 TB is a rewrite-the-world-per-batch
  * scale-killer; the reference's consumers apply per-event and pay
  * per-change, this is the bucketed batch analog).
  *
  * Idempotence under foreachBatch's at-least-once contract is per
  * bucket: a replayed batch overwrites its own `v<batchId>` in exactly
  * the buckets it touches and re-reads each bucket's latest version
  * BELOW its id, so a crash between state write and checkpoint commit
  * replays to the identical result. Old bucket versions are pruned,
  * keeping `retainVersions` for readers in flight.
  *
  * [[startScd2]] additionally splits history the way validity intervals
  * want: CLOSED versions (valid_to set — immutable forever) append to a
  * `closed/v<batchId>` log and are never rewritten; OPEN versions (one
  * row per live key — small) live bucketed under `open/b<bucket>/`. A
  * batch closes open versions only in touched buckets and appends only
  * its own closed rows, so per-batch write volume is O(batch +
  * open-rows-in-touched-buckets) no matter how long history grows.
  *
  * The closed log is additionally COMPACTED: one directory per
  * micro-batch forever is a small-files scale-killer (100 ms triggers =
  * ~864k directories/day), so once `compactClosedAfter` (K) closed
  * versions short of the newest accumulate, they are folded into one
  * immutable SEGMENT `s<lo>-<hi>` — a pure concat (closed rows never
  * change), re-clustered `partitionBy` key bucket so key-pruned reads
  * skip to one subdirectory, with each row's source version id kept in
  * `_mv_vid` (point-in-time reads stay exact) and a `_meta.json`
  * validity range for [[scd2AsOf]] segment pruning. Segments then merge
  * SIZE-TIERED (LSM-style): a segment's tier is log_K of its id-span,
  * and only a contiguous run of ≥ K SAME-tier segments folds — into a
  * segment of a strictly higher tier, so no segment is ever re-folded
  * with fresh arrivals and each row is rewritten at most once per tier:
  * O(log_K M) times over M batches, O(M·log M) total rows written (the
  * naive "merge the oldest K" rule re-folds its own output — O(M²/K²)
  * cumulative rewrite volume; MVCompactionSpec drives M ≫ K² batches
  * against [[segmentRowsWritten]] to pin the bound). M batches leave
  * ≤ K uncompacted versions + K segments per tier × log_K M tiers.
  * Folds run every `compactEveryBatches` micro-batches (or from a
  * maintenance schedule via [[maintainClosed]]) so the delivery path
  * does not pay history maintenance on every trigger. Crash-safety: a
  * segment is staged then atomically moved; entries whose id-range a
  * segment strictly contains are leftovers of a crash between move and
  * source-delete — readers skip them, the next compaction deletes them.
  *
  * Both folds are EXACT under the split: closed rows and untouched
  * buckets are fixed points of `scd2Apply`/`applyChanges` (a closed row
  * keeps its interval, an untouched key keeps its image), so restricting
  * the fold input to touched-open state changes nothing — the
  * incremental≡rebuild property (ApplySpec) carries over unchanged.
  */
object MaterializedView {

  // ---------- layout helpers ----------

  private def bucketOf(keyCols: Seq[String], buckets: Int): Column =
    pmod(hash(keyCols.map(col): _*), lit(buckets))

  /** Version-directory naming: `v<batchId>` per micro-batch, plus `vinit`
    * — the snapshot [[bootstrap]], which orders BEFORE every batch id
    * (id −1) so the first micro-batch's "latest version below my id" read
    * finds the seeded state.
    */
  private def versionId(name: String): Option[Long] =
    if (name == "vinit") Some(-1L)
    else if (name.matches("v\\d+")) Some(name.drop(1).toLong) else None

  private def versionName(id: Long): String =
    if (id == -1L) "vinit" else s"v$id"

  /** Latest version id strictly below `below` inside one directory of
    * version children (None = no version yet).
    */
  private def latestVersionIn(dir: File, below: Long): Option[Long] = {
    val vs = Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => versionId(f.getName))
      .filter(_ < below)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def bucketDirs(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))

  /** A version directory "has data" when it holds at least one part file
    * (a bucket whose keys were all deleted is a bare directory — it still
    * supersedes older versions but contributes no rows).
    */
  private def hasDataFiles(dir: File): Boolean =
    Option(dir.listFiles()).toSeq.flatten
      .exists(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** [[hasDataFiles]] through one level of `partitionBy` subdirectories
    * (a segment nests its part files under `_mv_bucket=k/`).
    */
  private def hasDataFilesDeep(dir: File): Boolean =
    hasDataFiles(dir) || Option(dir.listFiles()).toSeq.flatten
      .exists(f => f.isDirectory && !f.getName.startsWith("_stage") &&
        hasDataFiles(f))

  private def rm(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
  }

  /** Record/validate the bucket count: the hash layout is only stable if
    * every (re)start folds with the SAME N. The pin file is written to a
    * temp name and atomically moved into place so a crash mid-write can
    * never leave a truncated pin behind.
    */
  private def pinBuckets(stateDir: String, buckets: Int): Unit = {
    val f = new File(stateDir, "_buckets")
    if (f.exists()) {
      val pinned = pinnedBuckets(stateDir)
      require(pinned == buckets,
        s"state at $stateDir was bucketed with N=$pinned, restart passed N=$buckets")
    } else {
      new File(stateDir).mkdirs()
      val tmp = new File(stateDir, s"._buckets.tmp")
      java.nio.file.Files.write(tmp.toPath, buckets.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** The pinned bucket count of the state at `stateDir` (what key-pruned
    * reads hash against).
    */
  def pinnedBuckets(stateDir: String): Int = {
    val f = new File(stateDir, "_buckets")
    require(f.isFile, s"no _buckets pin at $stateDir — not a bucketed state dir")
    val raw = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    try raw.toInt catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt _buckets pin at $stateDir (content: '$raw') — the pin is " +
          "written atomically, so this indicates external damage", e)
    }
  }

  /** Write `df` (rows of touched buckets only) as the `v<batchId>` of each
    * touched bucket under `root/b<k>/`: one partitioned Spark job into a
    * staging dir, then per-bucket directory moves. A touched bucket with
    * zero surviving rows gets a bare version dir (supersedes, holds
    * nothing) — without it, deleted keys would resurrect from the
    * bucket's previous version.
    */
  private def writeBuckets(df: DataFrame, keyCols: Seq[String], buckets: Int,
      root: String, batchId: Long, touched: Seq[Int]): Unit = {
    val stage = s"$root/_stage_v$batchId"
    rm(new File(stage))
    df.withColumn("_mv_bucket", bucketOf(keyCols, buckets))
      .write.mode("overwrite").partitionBy("_mv_bucket").parquet(stage)
    touched.foreach { b =>
      val src = new File(s"$stage/_mv_bucket=$b")
      val dst = new File(s"$root/b$b/${versionName(batchId)}")
      rm(dst)
      dst.getParentFile.mkdirs()
      if (src.isDirectory) {
        java.nio.file.Files.move(src.toPath, dst.toPath)
        ()
      } else dst.mkdirs() // all of the bucket's keys were deleted
    }
    rm(new File(stage))
  }

  /** Union-read one parquet frame from `paths`, falling back to an empty
    * (keys..., image) frame when nothing has data yet.
    */
  private def readState(spark: SparkSession, paths: Seq[File],
      keyCols: Seq[String]): DataFrame = {
    val withData = paths.filter(hasDataFiles).map(_.toString)
    if (withData.nonEmpty) spark.read.parquet(withData: _*)
    else emptyState(spark, keyCols)
  }

  private def emptyState(spark: SparkSession, keyCols: Seq[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      keyCols.map(k => org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.StringType)) :+
      org.apache.spark.sql.types.StructField("image",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Per bucket keep the newest `retain` versions (replay only ever
    * revisits the newest uncommitted batch, so retained versions always
    * cover the re-read).
    */
  private def pruneBuckets(root: File, retain: Int): Unit =
    bucketDirs(root).foreach { b =>
      Option(b.listFiles()).toSeq.flatten
        .flatMap(f => versionId(f.getName).map(id => (id, f)))
        .sortBy(-_._1).drop(retain)
        .foreach { case (_, f) => rm(f) }
    }

  // ---------- closed-log segments ----------

  /** Live closed-log entries: (version dirs by id, segments by id range),
    * both ascending. An entry whose id-range a segment STRICTLY contains
    * (larger span, covering range) is a leftover of a compaction that
    * crashed between segment move and source delete — the segment holds
    * the same rows, so such entries are filtered here (readers skip them;
    * [[compactClosed]] deletes them).
    */
  private def closedEntries(closedRoot: File)
      : (Seq[(Long, File)], Seq[(Long, Long, File)]) = {
    val fs = Option(closedRoot.listFiles()).toSeq.flatten
    val vdirs = fs.filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => (f.getName.drop(1).toLong, f))
    val segs = fs.filter(f => f.isDirectory && f.getName.matches("s\\d+-\\d+"))
      .map { f =>
        val Array(a, b) = f.getName.drop(1).split("-")
        (a.toLong, b.toLong, f)
      }
    def covered(lo: Long, hi: Long, self: File): Boolean =
      segs.exists { case (sl, sh, sf) =>
        (sf ne self) && sl <= lo && hi <= sh && (sh - sl) > (hi - lo) }
    (vdirs.filterNot { case (id, f) => covered(id, id, f) }.sortBy(_._1),
     segs.filterNot { case (l, h, f) => covered(l, h, f) }.sortBy(_._1))
  }

  /** Stage + atomically move one segment folding rows of versions
    * [lo, hi]; `df` must carry `_mv_vid` and `_mv_bucket`. Writes a
    * `_meta.json` validity range when the interval bounds cast to long
    * (numeric seq domains — the common case), enabling [[scd2AsOf]] to
    * skip the segment without listing its files.
    */
  /** Cumulative rows written into segments by compaction folds — the
    * write-amplification ledger MVCompactionSpec's O(M·log M) property
    * reads (piggybacks on the `_meta.json` agg job; no extra job).
    */
  private[graft] val segmentRowsWritten =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def writeSegment(spark: SparkSession, closedRoot: File,
      df: DataFrame, lo: Long, hi: Long): Unit = {
    val stage = new File(closedRoot, s"_stage_s$lo-$hi")
    rm(stage)
    df.write.mode("overwrite").partitionBy("_mv_bucket").parquet(stage.toString)
    val mm = spark.read.parquet(stage.toString)
      .agg(min(col("valid_from").cast("long")),
        max(col("valid_to").cast("long")), count(lit(1))).head()
    if (!mm.isNullAt(0) && !mm.isNullAt(1))
      java.nio.file.Files.write(new File(stage, "_meta.json").toPath,
        s"""{"min_valid_from":${mm.getLong(0)},"max_valid_to":${mm.getLong(1)}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    segmentRowsWritten.addAndGet(mm.getLong(2))
    val dst = new File(closedRoot, s"s$lo-$hi")
    rm(dst)
    java.nio.file.Files.move(stage.toPath, dst.toPath)
    ()
  }

  private val metaRe =
    """\{"min_valid_from":(-?\d+),"max_valid_to":(-?\d+)\}""".r

  private def segMeta(seg: File): Option[(Long, Long)] = {
    val f = new File(seg, "_meta.json")
    if (!f.isFile) None
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim match {
      case metaRe(a, b) => Some((a.toLong, b.toLong))
      case _            => None
    }
  }

  /** A segment's size tier: floor(log_k) of its batch-id span. Folding a
    * contiguous run of ≥ k same-tier segments (spans each ≥ k^tier, id
    * ranges disjoint) yields span ≥ k^(tier+1) — a STRICTLY higher tier,
    * so folds only ever promote and no row is rewritten twice within a
    * tier: ≤ log_k(idspan) rewrites per row, ever.
    */
  private def tierOf(lo: Long, hi: Long, k: Int): Int = {
    var t = 0; var s = hi - lo + 1
    while (s >= k) { s /= k; t += 1 }
    t
  }

  /** Fold the closed log once it fragments: all closed versions short of
    * the newest (the only batch replay can revisit) merge into one
    * segment when ≥ `k` of them accumulate; segments merge SIZE-TIERED —
    * only a contiguous run of ≥ `k` segments of the SAME [[tierOf]] tier
    * folds, into one segment of a strictly higher tier (LSM-style; the
    * naive oldest-k rule re-folds its own output and its cumulative
    * rewrite volume is quadratic in the batch count). Runs of one tier
    * are always contiguous in id order because a fold replaces its run
    * with a higher-tier segment in place. Contents are immutable, so
    * both folds are pure rewrites; idempotent under replay (a replayed
    * batch finds nothing eligible — its own version is the newest) and
    * crash-safe (stage+move, containment GC: the merged range strictly
    * contains each folded range, and contains no live outsider because
    * the run is contiguous).
    */
  private def compactClosed(spark: SparkSession, root: File,
      keyCols: Seq[String], buckets: Int, k: Int): Unit = {
    val closedRoot = new File(root, "closed")
    if (!closedRoot.isDirectory) return
    // stale stages and superseded entries from a crashed compaction
    Option(closedRoot.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("_stage_")).foreach(rm)
    val (liveV, liveS) = closedEntries(closedRoot)
    val liveDirs = (liveV.map(_._2) ++ liveS.map(_._3)).toSet
    Option(closedRoot.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !liveDirs.contains(f)).foreach(rm)

    if (liveV.size > 1) {
      val eligible = liveV.dropRight(1) // never the newest: replay rewrites it
      if (eligible.size >= k) {
        val lo = eligible.head._1; val hi = eligible.last._1
        val withData = eligible.filter(e => hasDataFiles(e._2))
        if (withData.nonEmpty) {
          val df = withData.map { case (id, dir) =>
            spark.read.parquet(dir.toString).withColumn("_mv_vid", lit(id))
          }.reduce(_ unionByName _)
            .withColumn("_mv_bucket", bucketOf(keyCols, buckets))
          writeSegment(spark, closedRoot, df, lo, hi)
        }
        eligible.foreach(e => rm(e._2))
      }
    }
    val (_, segs) = closedEntries(closedRoot)
    if (segs.size >= k) {
      // first (oldest) contiguous run of >= k same-tier segments; fold
      // the WHOLE run so the minted segment lands a full tier up
      val tiers = segs.map { case (l, h, _) => tierOf(l, h, k) }
      var i = 0
      var run: Option[Seq[(Long, Long, File)]] = None
      while (i < segs.size && run.isEmpty) {
        var j = i
        while (j < segs.size && tiers(j) == tiers(i)) j += 1
        if (j - i >= k) run = Some(segs.slice(i, j))
        i = j
      }
      run.foreach { fold =>
        val lo = fold.map(_._1).min; val hi = fold.map(_._2).max
        val parts = fold.map(_._3).filter(hasDataFilesDeep)
        if (parts.nonEmpty) {
          // per-root reads (each segment is its own partitioned table —
          // one multi-root read would fail partition discovery); partition
          // column _mv_bucket comes back as a column and _mv_vid rides
          // through, so the merge keeps per-row version granularity
          val df = parts.map(p => spark.read.parquet(p.toString))
            .reduce(_ unionByName _)
          writeSegment(spark, closedRoot, df, lo, hi)
        }
        fold.foreach(s => rm(s._3))
      }
    }
  }

  /** Run the closed-log fold from a maintenance schedule (quiesced or
    * concurrent with the writer — fold inputs are immutable, never the
    * newest version, and supersession is an atomic move; a concurrent
    * READER that listed the log just before a fold may transiently miss
    * a just-deleted source and should retry). Lets a deployment take
    * history maintenance fully off the delivery path — pair with a large
    * `compactEveryBatches` in [[startScd2]].
    */
  def maintainClosed(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], compactClosedAfter: Int = 16): Unit = {
    require(compactClosedAfter >= 2, "compactClosedAfter must be >= 2")
    compactClosed(spark, new File(stateDir), keyCols,
      pinnedBuckets(stateDir), compactClosedAfter)
  }

  /** Union plain parquet dirs (closed `v<id>` + open bucket versions —
    * identical schemas) with segment reads (extra `_mv_vid`/`_mv_bucket`
    * columns, dropped; rows version-filtered when `below` is bounded).
    */
  private def readSplit(spark: SparkSession, keyCols: Seq[String],
      plain: Seq[File], segParts: Seq[File], below: Long): DataFrame = {
    val plainData = plain.filter(hasDataFiles).map(_.toString)
    val segData = segParts.filter(hasDataFilesDeep).map(_.toString)
    val segDf =
      if (segData.isEmpty) None
      else {
        // per-root reads: sibling segments are separate partitioned
        // tables; one multi-root read trips partition-structure inference
        val raw = segData.map(p => spark.read.parquet(p))
          .reduce(_ unionByName _)
        val bounded = if (below == Long.MaxValue) raw
          else raw.filter(col("_mv_vid") < below)
        Some(bounded.drop("_mv_vid", "_mv_bucket"))
      }
    (plainData.nonEmpty, segDf) match {
      case (true, Some(sd)) =>
        spark.read.parquet(plainData: _*).unionByName(sd)
      case (true, None)  => spark.read.parquet(plainData: _*)
      case (false, Some(sd)) => sd
      case (false, None) => emptyState(spark, keyCols)
    }
  }

  // ---------- readers ----------

  /** Read the current materialized state (MV layout: each bucket's latest
    * version below `below`; SCD2 layout: additionally the full closed
    * log — per-batch version dirs and compacted segments, with segment
    * rows version-filtered so a bounded `below` stays exact). Empty frame
    * with (keys..., image) schema when no state exists.
    */
  def currentState(spark: SparkSession, stateDir: String,
      keyCols: Seq[String], below: Long = Long.MaxValue): DataFrame = {
    val root = new File(stateDir)
    val (closedV, closedS) = closedEntries(new File(root, "closed"))
    val openRoot =
      if (new File(root, "open").isDirectory) new File(root, "open") else root
    val latest = bucketDirs(openRoot).flatMap { b =>
      latestVersionIn(b, below).map(v => new File(b, versionName(v)))
    }
    readSplit(spark, keyCols,
      closedV.filter(_._1 < below).map(_._2) ++ latest,
      closedS.filter(_._1 < below).map(_._3), below)
  }

  /** Single-key read: prune to the key's bucket instead of scanning the
    * table. `keyValues` are the key's column values in `keyCols` order
    * (state keys are strings — images are string maps). Lists exactly ONE
    * open bucket directory plus, for SCD2 state, the key's bucket
    * partition inside each segment (`_mv_bucket=<b>` — the compaction
    * re-clustered history for exactly this read) and the ≤K uncompacted
    * closed versions; rows are filtered to the key. The bucket is
    * computed driver-side with the same Murmur3(seed 42) Catalyst `hash`
    * the writer used — no job, no listing beyond the bucket.
    */
  def keyState(spark: SparkSession, stateDir: String, keyCols: Seq[String],
      keyValues: Seq[String], below: Long = Long.MaxValue): DataFrame = {
    require(keyValues.size == keyCols.size,
      s"keyValues must match keyCols: $keyCols vs $keyValues")
    val n = pinnedBuckets(stateDir)
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      keyValues.map(v => org.apache.spark.sql.catalyst.expressions.Literal
        .create(v, org.apache.spark.sql.types.StringType)), 42)
      .eval(null).asInstanceOf[Int]
    val b = ((h % n) + n) % n
    val root = new File(stateDir)
    val (closedV, closedS) = closedEntries(new File(root, "closed"))
    val openRoot =
      if (new File(root, "open").isDirectory) new File(root, "open") else root
    val bucketDir = new File(openRoot, s"b$b")
    val latest = latestVersionIn(bucketDir, below)
      .map(v => new File(bucketDir, versionName(v))).toSeq
    val segParts = closedS.filter(_._1 < below)
      .map { case (_, _, f) => new File(f, s"_mv_bucket=$b") }
      .filter(_.isDirectory)
    val keyFilter = keyCols.zip(keyValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    readSplit(spark, keyCols,
      closedV.filter(_._1 < below).map(_._2) ++ latest, segParts, below)
      .filter(keyFilter)
  }

  /** SCD2 point-in-time read: the history rows valid AT seq position `t`
    * (`valid_from <= t` and `valid_to` null or `> t`) — the consumers'
    * bread-and-butter lookup. Closed segments are PRUNED driver-side via
    * their `_meta.json` validity range (a segment whose whole range lies
    * after `t` or expired at/before `t` is never listed); surviving files
    * still push the interval predicate into the parquet scan, so
    * row-group stats skip within them. Requires a numeric seq domain.
    */
  /** The as-of read's pruned inputs: (plain closed version dirs + open
    * bucket versions, segment dirs) — both layers pruned driver-side via
    * their `_meta.json` validity range (uncompacted versions write it at
    * append time; a dir with no meta cannot be pruned and is read).
    * Split out of [[scd2AsOf]] so the pruning itself is spec-assertable.
    */
  private[graft] def scd2AsOfInputs(stateDir: String, t: Long)
      : (Seq[File], Seq[File]) = {
    val root = new File(stateDir)
    val (closedV, closedS) = closedEntries(new File(root, "closed"))
    def inRange(f: File): Boolean = segMeta(f) match {
      case Some((minFrom, maxTo)) => minFrom <= t && maxTo > t
      case None                   => true // no meta: cannot prune, read it
    }
    val openRoot =
      if (new File(root, "open").isDirectory) new File(root, "open") else root
    val latest = bucketDirs(openRoot).flatMap { b =>
      latestVersionIn(b, Long.MaxValue).map(v => new File(b, versionName(v)))
    }
    (closedV.map(_._2).filter(inRange) ++ latest,
      closedS.map(_._3).filter(inRange))
  }

  def scd2AsOf(spark: SparkSession, stateDir: String, keyCols: Seq[String],
      t: Long): DataFrame = {
    val (plain, segs) = scd2AsOfInputs(stateDir, t)
    readSplit(spark, keyCols, plain, segs, Long.MaxValue)
      .filter(col("valid_from") <= lit(t) &&
        (col("valid_to").isNull || col("valid_to") > lit(t)))
  }

  // ---------- maintenance loops ----------

  /** Seed the MV state from a consistent SNAPSHOT before streaming — the
    * consumer half of the snapshot→CDC handoff ([[SnapshotBootstrap]]
    * produces the snapshot + start position on the source side; the
    * reference's initial-load story). `snapshot` must carry the key
    * columns plus an `image` map column — the state row shape. Rows land
    * bucketed as each bucket's `vinit` version (ordered before every
    * batch id), so the stream's FIRST micro-batch folds against the
    * seeded state exactly as if a prior batch had written it; replay
    * idempotence and pruning (vinit ages out once `retainVersions` newer
    * versions exist) are unchanged.
    *
    * Refuses a state dir that already has bucket versions: bootstrap is
    * the t=0 step, not a merge.
    */
  def bootstrap(spark: SparkSession, snapshot: DataFrame, stateDir: String,
      keyCols: Seq[String], buckets: Int = 8): Unit = {
    require(keyCols.nonEmpty, "keyCols must name the view key")
    val root = new File(stateDir)
    require(bucketDirs(root).forall(b => latestVersionIn(b, Long.MaxValue).isEmpty),
      s"state at $stateDir already has versions — bootstrap must run first")
    pinBuckets(stateDir, buckets)
    writeBuckets(snapshot.select((keyCols.map(col) :+ col("image")): _*),
      keyCols, buckets, stateDir, batchId = -1L, touched = 0 until buckets)
  }

  /** [[bootstrap]]'s SCD2 twin: seed the HISTORY table's open state from
    * a consistent snapshot. Every snapshot row becomes an OPEN version
    * (`is_current=true`, `valid_to` null) valid from `validFrom` — the
    * snapshot's consistent position in the stream's seq domain, the same
    * value the source-side handoff pins (SnapshotBootstrap's start LSN)
    * — written bucketed under `open/` as `vinit`. The first micro-batch's
    * [[graft.cdc.Apply.scd2Apply]] then closes seeded versions exactly
    * like any prior open state; the closed log starts empty.
    */
  def bootstrapScd2(spark: SparkSession, snapshot: DataFrame,
      stateDir: String, keyCols: Seq[String], validFrom: Column,
      buckets: Int = 8): Unit = {
    require(keyCols.nonEmpty, "keyCols must name the history key")
    val root = new File(stateDir)
    val openRoot = new File(root, "open")
    require(!new File(root, "closed").isDirectory &&
      bucketDirs(openRoot).forall(b => latestVersionIn(b, Long.MaxValue).isEmpty),
      s"state at $stateDir already has versions — bootstrap must run first")
    pinBuckets(stateDir, buckets)
    val seeded = snapshot
      .select((keyCols.map(col) :+ col("image") :+ validFrom.as("valid_from")): _*)
      .withColumn("valid_to", when(lit(false), col("valid_from"))) // typed null
      .withColumn("is_current", lit(true))
    writeBuckets(seeded, keyCols, buckets, openRoot.toString,
      batchId = -1L, touched = 0 until buckets)
  }

  /** Start maintaining the view. `events` is a streaming frame of
    * normalized events ([[graft.cdc.Transform.normalize]] columns);
    * keys are extracted from the row image (`after`, falling back to
    * `before` for DELETEs) by name. `seq` supplies the WAL order used to
    * pick each key's winner within a batch (e.g. a numeric wal position
    * carried through the pipeline, or `txid` when transactions are the
    * batch grain). `buckets` sizes the state layout (pinned at first
    * start): at 100 TB pick N so one bucket holds ~128-256 MB.
    */
  def start(spark: SparkSession, events: DataFrame, stateDir: String,
      checkpointPath: String, keyCols: Seq[String], seq: Column,
      retainVersions: Int = 2, buckets: Int = 8,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery = {
    require(keyCols.nonEmpty, "keyCols must name the view key")
    // a replayed batch re-reads each touched bucket's version BELOW its
    // own — with only 1 retained version, pruning after the crashed
    // attempt would have deleted exactly that version (silent data loss)
    require(retainVersions >= 2, "retainVersions must be >= 2 to cover replay")
    pinBuckets(stateDir, buckets)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val keyed = keyCols.foldLeft(batch.toDF()) { (df, k) =>
          df.withColumn(k, coalesce(element_at(col("after"), k),
            element_at(col("before"), k)))
        }.withColumn("_mv_seq", seq)
          .withColumn("_mv_bucket", bucketOf(keyCols, buckets))
        // driver-side by design and bounded by N buckets (≤ N ints — the
        // path-pruning decision, like a partition-pruning predicate)
        val touched = keyed.select(col("_mv_bucket")).distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
        if (touched.nonEmpty) {
          val root = new File(stateDir)
          val basePaths = touched.flatMap { b =>
            latestVersionIn(new File(root, s"b$b"), below = batchId)
              .map(v => new File(root, s"b$b/${versionName(v)}"))
          }
          val base = readState(spark, basePaths, keyCols)
          val folded = Apply.applyChanges(base, col("image"),
            keyed.drop("_mv_bucket"), col("after"), col("_mv_seq"), keyCols)
          writeBuckets(folded, keyCols, buckets, stateDir, batchId, touched)
          pruneBuckets(root, retainVersions)
        }
      }.start()
  }

  /** Maintain an SCD Type-2 HISTORY table from the CDC stream instead of
    * current state: closed versions (immutable) append to `closed/
    * v<batchId>` (compacted into segments per `compactClosedAfter`); open
    * versions fold bucketed exactly like [[start]], via [[graft.cdc
    * .Apply.scd2Apply]] restricted to the touched buckets' open rows
    * (first batch for a bucket: [[graft.cdc.Apply.scd2]] over the batch
    * alone — same function, empty history). `seq` must be a monotone
    * WAL-order column (e.g. numeric LSN); validity bounds are expressed
    * in it.
    */
  def startScd2(spark: SparkSession, events: DataFrame, stateDir: String,
      checkpointPath: String, keyCols: Seq[String], seq: Column,
      retainVersions: Int = 2, buckets: Int = 8,
      compactClosedAfter: Int = 16, compactEveryBatches: Int = 8,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery = {
    require(keyCols.nonEmpty, "keyCols must name the history key")
    // same replay-coverage bound as start()
    require(retainVersions >= 2, "retainVersions must be >= 2 to cover replay")
    // k=1 could mint a single-version segment s<i>-<i> whose range does
    // not strictly contain v<i> — the crash-GC containment rule needs ≥2
    require(compactClosedAfter >= 2, "compactClosedAfter must be >= 2")
    // fold cadence: only every Nth batch even LOOKS at fold eligibility,
    // so the delivery path's wall-time is independent of history size on
    // the other N-1 (set high + run maintainClosed on a schedule to take
    // folds fully off the trigger; correctness is cadence-independent —
    // folds are pure rewrites of immutable inputs)
    require(compactEveryBatches >= 1, "compactEveryBatches must be >= 1")
    pinBuckets(stateDir, buckets)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val keyed = keyCols.foldLeft(batch.toDF()) { (df, k) =>
          df.withColumn(k, coalesce(element_at(col("after"), k),
            element_at(col("before"), k)))
        }.withColumn("_mv_seq", seq)
          .withColumn("_mv_bucket", bucketOf(keyCols, buckets))
        // bounded by N buckets, driver-side by design (path pruning)
        val touched = keyed.select(col("_mv_bucket")).distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
        if (touched.nonEmpty) {
          val root = new File(stateDir)
          val openRoot = new File(root, "open")
          // hasDataFiles: a bucket whose only live keys were all closed
          // (DELETE) leaves a BARE version dir — reading it would throw
          // (no schema); it is exactly the empty-open-state case
          val openPaths = touched.flatMap { b =>
            latestVersionIn(new File(openRoot, s"b$b"), below = batchId)
              .map(v => new File(openRoot, s"b$b/${versionName(v)}"))
          }.filter(hasDataFiles)
          val changes = keyed.drop("_mv_bucket")
          val folded = (if (openPaths.nonEmpty)
            Apply.scd2Apply(spark.read.parquet(openPaths.map(_.toString): _*),
              changes, keyCols, col("operation"), col("_mv_seq"), col("after"))
          else
            Apply.scd2(changes, keyCols, col("operation"), col("_mv_seq"),
              col("after"))).cache()
          try {
            // newly closed versions: immutable from here on — append-only
            val closedDst = new File(root, s"closed/v$batchId")
            rm(closedDst); closedDst.getParentFile.mkdirs()
            folded.filter(!col("is_current"))
              .write.mode("overwrite").parquet(closedDst.toString)
            // validity meta at append time (tiny agg over the cached
            // fold): scd2AsOf prunes UNCOMPACTED versions with the same
            // rule it prunes segments — without it every v-dir is listed
            // until its first fold
            val mm = folded.filter(!col("is_current"))
              .agg(min(col("valid_from").cast("long")),
                max(col("valid_to").cast("long"))).head()
            if (!mm.isNullAt(0) && !mm.isNullAt(1))
              java.nio.file.Files.write(
                new File(closedDst, "_meta.json").toPath,
                s"""{"min_valid_from":${mm.getLong(0)},"max_valid_to":${mm.getLong(1)}}"""
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // open versions: small, rewritten only for touched buckets
            writeBuckets(folded.filter(col("is_current")), keyCols, buckets,
              openRoot.toString, batchId, touched)
            pruneBuckets(openRoot, retainVersions)
            if (batchId % compactEveryBatches == 0)
              compactClosed(spark, root, keyCols, buckets, compactClosedAfter)
          } finally { folded.unpersist(); () }
        }
      }.start()
  }
}
