package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{CopyBothSource, InMemoryReplicationServer}

/** pgoutput over an in-process replication slot: the decoded stream a
  * `payload=binary` [[CopyBothSource]] reads from an
  * [[InMemoryReplicationServer]], the shape every streaming pgoutput test
  * drives.
  */
object PgSlot {
  private val names = new AtomicInteger

  /** The decoded stream of `server`, registered under a fresh name. */
  def stream(spark: SparkSession, server: InMemoryReplicationServer,
      corruptPolicy: String = "crash",
      maxMessagesPerTrigger: Option[Int] = None): DataFrame = {
    val name = s"pgslot-${names.incrementAndGet()}"
    CopyBothSource.register(name, server)
    val r = spark.readStream.format("graft.sources.CopyBothSource")
      .option("server", name).option("payload", "binary")
      .option("corruptPolicy", corruptPolicy)
    maxMessagesPerTrigger.fold(r)(n => r.option("maxMessagesPerTrigger", n.toString))
      .load()
  }

  /** Append `(walStart, pgoutput message)` frames to the slot. */
  def deliver(server: InMemoryReplicationServer,
      frames: (Long, Array[Byte])*): Unit =
    frames.foreach { case (lsn, frame) => server.deliverBytes(lsn, frame) }
}
