package graft.queries

/** Temp staging roots for the file-stream gates and bench sections,
  * registered for recursive deletion at JVM exit. A query's OUTPUT is
  * read lazily by the caller (Verify/Bench consume the returned frame
  * after the query function returns), so the latest-possible delete is
  * shutdown — and the leak that matters is ACROSS runs (each
  * verify/bench/check round is a fresh JVM, and without this every run
  * left its staged corpus slices + checkpoints under /tmp forever).
  *
  * Ordering: the hook registers with Hadoop's ShutdownHookManager (the
  * registry Spark itself installs into) at a priority BELOW Spark's
  * composite hook (FileSystem.SHUTDOWN_HOOK_PRIORITY + 30 = 40), so it
  * runs strictly AFTER SparkContext stop / streaming-checkpoint flush —
  * a plain Runtime hook would race them concurrently and could delete a
  * checkpoint dir mid-flush. What nothing reads after a query stops
  * (a stream gate's checkpoints and per-call staged input) is reclaimed
  * early via [[release]] by [[Q.streamGate]]; outputs stay until exit.
  */
object TempDirs {

  /** After Spark's composite hook (40), before Hadoop FS cache close
    * (10) — deletion is plain java.io, so FS state is irrelevant, but
    * staying above 10 keeps us inside the managed window. */
  private val HookPriority = 20

  private val roots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private lazy val hookInstalled: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => roots.forEach(p => rm(p.toFile)), HookPriority)

  /** Create a temp directory deleted (recursively) at JVM exit. */
  def workDir(tag: String): java.nio.file.Path = {
    hookInstalled
    val p = java.nio.file.Files.createTempDirectory(tag)
    roots.add(p)
    p
  }

  /** Eagerly delete a [[workDir]] that nothing reads any more (bounds
    * within-JVM accumulation for long-lived sessions); idempotent, and
    * against the exit hook. */
  def release(p: java.nio.file.Path): Unit =
    if (roots.remove(p)) rm(p.toFile)
}
